package graft.serve

import graft.{Caches, IsolatedSparkSpec, ScopedStageListener}
import graft.bdb.BdbMini
import graft.domain.Interception
import org.apache.spark.sql.functions.col

/** The viewer's queries against the direct filter they replace, and the
  * jobs they start. The suite owns its session, so another suite's
  * `Caches.reset` cannot empty the last-frame slot under a job count. */
class PlayQueriesSpec extends IsolatedSparkSpec {

  private lazy val tracking = {
    val (_, _, _, _, t) = BdbMini.load(spark)
    t.cache()
  }

  private val Game = 2022090800L
  private val Cols = Seq("nflId", "displayName", "club", "x", "y", "s", "a", "o", "dir", "event")

  private def direct(gameId: Long, playId: Int, frameId: Int) =
    tracking.filter(col("gameId") === gameId && col("playId") === playId &&
                    col("frameId") === frameId)
      .select(Cols.map(col): _*)

  private def jobs(body: => Unit): Int = ScopedStageListener.jobs(spark, "PlayQueriesSpec")(body)

  test("playFrame returns all tracked entities of one frame") {
    val frame = PlayQueries.playFrame(tracking, Game, 100, 20)
    assert(frame.count() == 24) // QB + ball + 5 RR + 6 OL + 11 DEF
    assert(frame.filter("displayName = 'football'").count() == 1)
  }

  test("playFrame equals the direct filter row for row, in order, on every frame") {
    val frames = BdbMini.tracking.map(t => (t.gameId, t.playId, t.frameId)).distinct
    assert(frames.size == 480) // 2 games x 6 plays x 40 frames
    for ((g, p, f) <- frames) {
      val got = PlayQueries.playFrame(tracking, g, p, f)
      val want = direct(g, p, f)
      assert(got.schema == want.schema)
      assert(got.collect().toSeq == want.collect().toSeq, s"frame $g/$p/$f")
    }
  }

  test("an absent frame is an empty frame with the same columns") {
    val frame = PlayQueries.playFrame(tracking, Game, 100, 999)
    assert(frame.schema == direct(Game, 100, 999).schema)
    assert(frame.collect().isEmpty)
    assert(PlayQueries.playFrame(tracking, 1L, 100, 1).collect().isEmpty)
  }

  test("reachPolygon yields 360 field-clamped vertices around the player") {
    val poly = PlayQueries.reachPolygon(tracking, Game, 100, 20,
      nflId = 10L, ballSpeed = 20.0, bx = 40.0, by = 26.65)
    assert(poly.length == 360)
    assert(poly.forall { case (_, x, y) =>
      x >= 0 && x <= 120 && y >= 0 && y <= 53.3 })
    // vertices enclose the player's position at nonzero distance
    assert(poly.exists { case (_, x, _) => x > 0 })
  }

  test("reachPolygon equals the polygon of the directly filtered row, for every player") {
    for ((p, f) <- Seq((100, 1), (300, 20), (600, 40))) {
      val players = direct(Game, p, f).filter(col("nflId").isNotNull)
        .select("nflId", "x", "y", "s").collect()
      assert(players.length == 23)
      for (r <- players) {
        val (px, py, vp) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
        val want = Interception.partialRadius(vp, px, py, 20.0, 40.0, 26.65)
          .toIndexedSeq.zipWithIndex.map { case (rad, deg) =>
            val (x, y) = Interception.clampedReach(px, py, math.toRadians(deg), rad)
            (deg, x, y)
          }
        assert(PlayQueries.reachPolygon(tracking, Game, p, f, r.getLong(0), 20.0, 40.0, 26.65) == want,
          s"player ${r.getLong(0)} in $p/$f")
      }
    }
  }

  test("reachPolygon names the request when the player or the frame is absent") {
    val noPlayer = intercept[NoSuchElementException](
      PlayQueries.reachPolygon(tracking, Game, 100, 20, 999999L, 20.0, 40.0, 26.65))
    assert(noPlayer.getMessage.contains(s"$Game/100/20/999999"), noPlayer.getMessage)
    val noFrame = intercept[NoSuchElementException](
      PlayQueries.reachPolygon(tracking, Game, 100, 999, 10L, 20.0, 40.0, 26.65))
    assert(noFrame.getMessage.contains(s"$Game/100/999/10"), noFrame.getMessage)
  }

  test("one Spark job per click: the frame's polygons start none, another frame replaces the slot") {
    Caches.reset(spark)
    assert(jobs(PlayQueries.playFrame(tracking, Game, 100, 20).collect()) == 1)
    assert(jobs(PlayQueries.reachPolygon(tracking, Game, 100, 20, 10L, 20.0, 40.0, 26.65)) == 0)
    assert(jobs(PlayQueries.playFrame(tracking, Game, 100, 20).collect()) == 0)
    // another frame, of the same play or another, replaces the slot
    assert(jobs(PlayQueries.playFrame(tracking, Game, 100, 21).collect()) == 1)
    assert(jobs(PlayQueries.reachPolygon(tracking, Game, 100, 21, 10L, 20.0, 40.0, 26.65)) == 0)
    assert(jobs(PlayQueries.reachPolygon(tracking, Game, 200, 5, 10L, 20.0, 40.0, 26.65)) == 1)
    assert(jobs(PlayQueries.playFrame(tracking, Game, 100, 21).collect()) == 1)
    // reset drops the slot
    Caches.reset(spark)
    assert(jobs(PlayQueries.reachPolygon(tracking, Game, 100, 20, 10L, 20.0, 40.0, 26.65)) == 1)
    assert(jobs(PlayQueries.playFrame(tracking, Game, 100, 20).collect()) == 0)
  }

  test("alternating tracking frames share the session's one slot") {
    val other = tracking.select("*")
    Caches.reset(spark)
    for (t <- Seq(tracking, other, tracking, other))
      assert(jobs(PlayQueries.playFrame(t, Game, 100, 20).collect()) == 1)
    assert(Caches.memoCount(spark) == 1)
  }
}
