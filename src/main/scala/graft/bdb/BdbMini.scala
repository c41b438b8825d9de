package graft.bdb

import graft.bdb.Schemas._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** FIXTURES.md §2 — deterministic in-code mini replica of the BDB 2025
  * data model (generated, not committed: the generator IS the fixture
  * spec). 2 games × 6 plays × 40 frames × 23 entities, hitting every
  * content requirement:
  *  - 11 defenders per AFTER_SNAP frame + one football row per frame;
  *  - per game: 4 TRADITIONAL dropbacks, 1 DESIGNED_ROLLOUT_LEFT
  *    (filtered out by stage 5), 1 non-dropback run;
  *  - events line_set → ball_snap → pass_forward (frame 25) →
  *    pass_arrived, with ≥8 frames after pass_forward;
  *  - nulls: one matchup id, one coverage assignment, one
  *    motionSinceLineset;
  *  - 2 QBs with multiple plays; a mirror route-tree pair; ragged
  *    fractional-second timestamps.
  */
object BdbMini {

  val routesA = Seq("GO", "OUT", "SLANT", "CROSS", "HITCH")
  val mirrorPlayId = 500 // play 500 in game 1 mirrors play 100

  def games: Seq[Game] = Seq(
    Game(2022090800L, "PHI", "DAL"),
    Game(2022091100L, "KC", "LAC"))

  private def offTeam(g: Int) = if (g == 0) "PHI" else "KC"
  private def defTeam(g: Int) = if (g == 0) "DAL" else "LAC"

  def plays: Seq[Play] = for {
    g <- 0 to 1
    p <- 0 to 5
  } yield {
    val playId = (p + 1) * 100
    val (isDb, dbType) = p match {
      case 4 => (true, "DESIGNED_ROLLOUT_LEFT")
      case 5 => (false, "DESIGNED_RUN")
      case _ => (true, "TRADITIONAL")
    }
    Play(
      gameId = games(g).gameId, playId = playId,
      possessionTeam = offTeam(g), defensiveTeam = defTeam(g),
      isDropback = isDb, dropbackType = dbType,
      dropbackDistance = 2.0 + 0.5 * p,
      unblockedPressure = false,
      timeToThrow = 1.4, // pass_forward at frame 25, snap at 11
      absoluteYardlineNumber = if (p == 1) 15 else 45 + p, // one redzone play
      pff_passCoverage = if (p % 2 == 0) "Cover-3" else "Cover-1",
      down = 1 + p % 4, yardsToGo = 10,
      preSnapHomeScore = 7 * g, preSnapVisitorScore = 3 * p,
      gameClock = f"${14 - p}%02d:30")
  }

  /** ids: QBs 1-2; route runners 10-19 (5 per team); other offense
    * 30-41; defenders 100-121 (11 per team). */
  def players: Seq[Player] =
    Seq(Player(1L, "QB One", "QB"), Player(2L, "QB Two", "QB")) ++
    (0 to 9).map(i => Player(10L + i, s"WR $i", if (i % 3 == 2) "TE" else "WR")) ++
    (0 to 11).map(i => Player(30L + i, s"OL $i", "G")) ++
    (0 to 21).map(i => Player(100L + i, s"DEF $i", if (i % 2 == 0) "CB" else "S"))

  private def qbId(g: Int) = 1L + g
  private def rrIds(g: Int): Seq[Long] = (0 to 4).map(i => 10L + 5 * g + i)
  private def defIds(g: Int): Seq[Long] = (0 to 10).map(i => 100L + 11 * g + i)
  private def olIds(g: Int): Seq[Long] = (0 to 5).map(i => 30L + 6 * g + i)

  def playerPlay: Seq[PlayerPlay] = for {
    g <- 0 to 1
    p <- 0 to 5
    gid = games(g).gameId
    playId = (p + 1) * 100
    row <- {
      val rrs = rrIds(g).zipWithIndex.map { case (id, i) =>
        PlayerPlay(gid, playId, id, offTeam(g),
          wasRunningRoute = true,
          // play 500 in each game runs the mirror of play 100's tree
          routeRan = Some(if (playId == mirrorPlayId) routesA.reverse(i) else
            if (playId == 100) routesA(i) else routesA((i + p) % 5)),
          wasTargettedReceiver = i == 1,
          motionSinceLineset = if (i == 4) None else Some(i == 0),
          pff_primaryDefensiveCoverageMatchupNflId =
            if (i == 3) None else Some(defIds(g)(i)),
          pff_defensiveCoverageAssignment = if (i == 2) None else Some("MAN"))
      }
      val qb = PlayerPlay(gid, playId, qbId(g), offTeam(g),
        wasRunningRoute = false, routeRan = None, wasTargettedReceiver = false,
        motionSinceLineset = Some(false),
        pff_primaryDefensiveCoverageMatchupNflId = None,
        pff_defensiveCoverageAssignment = None)
      val defs = defIds(g).zipWithIndex.map { case (id, i) =>
        PlayerPlay(gid, playId, id, defTeam(g),
          wasRunningRoute = false, routeRan = None, wasTargettedReceiver = false,
          motionSinceLineset = None,
          pff_primaryDefensiveCoverageMatchupNflId = None,
          pff_defensiveCoverageAssignment =
            Some(Seq("MAN", "HOL", "CFL", "CFR", "3L", "3M", "3R", "2L", "2R", "4IL", "4IR")(i)))
      }
      // all 22 participants, like the real player_play.csv: route
      // runners + QB + the 11 defenders (entry point B reads defender
      // rows; wasRunningRoute=false keeps them out of entry point A)
      (rrs :+ qb) ++ defs
    } ++ Nil
  } yield row

  /** 40 frames: 1-10 BEFORE_SNAP, 11 SNAP, 12-40 AFTER_SNAP. Events:
    * line_set@3, ball_snap@11, pass_forward@25, pass_arrived@31. */
  def tracking: Seq[Tracking] = for {
    g <- 0 to 1
    p <- 0 to 5
    frame <- 1 to 40
    gid = games(g).gameId
    playId = (p + 1) * 100
    row <- {
      val frameType = if (frame < 11) "BEFORE_SNAP" else if (frame == 11) "SNAP" else "AFTER_SNAP"
      val event = frame match {
        case 3 => Some("line_set")
        case 11 => Some("ball_snap")
        case 25 => Some("pass_forward")
        case 31 => Some("pass_arrived")
        case _ => None
      }
      // ragged fractional seconds: 1, 3, or 6 digits by frame mod 3
      val frac = (frame % 3) match {
        case 0 => s".${frame % 10}"
        case 1 => f".${frame * 7 % 1000}%03d"
        case 2 => f".${frame * 31 % 1000000}%06d"
      }
      val time = f"2022-09-08 20:${10 + p}%02d:${frame % 60}%02d$frac"
      val t = (frame - 1) * 0.1
      def mk(id: Option[Long], name: String, club: String, jersey: Option[Int],
             x0: Double, y0: Double, vx: Double, vy: Double): Tracking = {
        val speed = math.hypot(vx, vy)
        Tracking(gid, playId, id, name, frame, frameType, time, jersey, club,
          "right",
          x = math.max(0, math.min(120, x0 + vx * t)),
          y = math.max(0, math.min(53.3, y0 + vy * t)),
          s = speed, a = 0.2, dis = speed * 0.1,
          o = 90.0, dir = math.toDegrees(math.atan2(vy, vx)),
          event = event)
      }
      val qb = mk(Some(qbId(g)), s"QB ${g + 1}", offTeam(g), Some(9),
        40.0 + p, 26.65, -1.5, 0.0) // drops straight back
      val rrs = rrIds(g).zipWithIndex.map { case (id, i) =>
        mk(Some(id), s"WR $i", offTeam(g), Some(80 + i),
          42.0 + p, 8.0 + 9.0 * i, 4.0 + 0.3 * i, (i - 2) * 0.5)
      }
      val ols = olIds(g).zipWithIndex.map { case (id, i) =>
        mk(Some(id), s"OL $i", offTeam(g), Some(60 + i),
          41.0 + p, 20.0 + 2.0 * i, 0.1, 0.0)
      }
      val defs = defIds(g).zipWithIndex.map { case (id, i) =>
        mk(Some(id), s"DEF $i", defTeam(g), Some(20 + i),
          50.0 + p, 4.0 + 4.5 * i, -2.0, 0.2 * (i - 5))
      }
      val ball = mk(None, "football", "football", None,
        40.0 + p, 26.65, if (frame >= 25) 8.0 else -1.5, 0.0)
      (qb +: ball +: (rrs ++ ols ++ defs))
    }
  } yield row

  def load(spark: SparkSession): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    (games.toDF(), plays.toDF(), players.toDF(), playerPlay.toDF(), tracking.toDF())
  }

  /** Parquet replica of the fixture at a FIXED path, so an external
    * engine (the driver's DuckDB oracle) can replay queries over exactly
    * the rows the Spark side computes on. A hardcoded `/tmp` path, not a
    * [[graft.Caches.scratch]] one, because the oracle SQL embeds it as a
    * static string: both sides derive it from this one constant so they
    * can never drift. Written [[graft.Caches.once]] per JVM; the content
    * is a pure function of this file. */
  val fixturePath = "/tmp/graft_bdbmini"

  def writeFixture(spark: SparkSession): String = {
    graft.Caches.once(fixturePath, "bdbmini fixture") {
      val (g, p, pl, pp, tr) = load(spark)
      Seq("games" -> g, "plays" -> p, "players" -> pl,
          "player_play" -> pp, "tracking" -> tr).foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$fixturePath/$name")
      }
    }
    fixturePath
  }
}
