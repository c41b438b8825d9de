package graft.serve

import scala.jdk.CollectionConverters._

import graft.Caches
import graft.domain.Interception
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** SURVEY.md §3.3 entry point C — the interactive play viewer's data
  * services. The engine serves two queries fast enough for frame
  * stepping; rendering stays out of scope (SURVEY.md §2.10).
  *
  * A viewer click asks for a frame and then for polygons on it, so both
  * queries read a last-frame slot: one per session, held by
  * [[graft.Caches.memo]] and dropped by `Caches.reset`. A request for a
  * frame the slot does not hold runs one (gameId, playId, frameId) point
  * query — on a gameId-partitioned layout it partition-prunes to one
  * directory and row-group-skips inside it (P11) — collects it and
  * replaces the slot, so it holds at most one frame per session. The
  * slot keys on the tracking frame's identity as well as the ids, and is
  * a snapshot: it goes stale, as every memo does, if the files under it
  * change before `reset`. The polygon is driver-side math on one row of
  * the slot.
  */
object PlayQueries {

  private val FrameCols = Seq("nflId", "displayName", "club", "x", "y", "s", "a", "o", "dir", "event")
  private val NflId = FrameCols.indexOf("nflId")
  private val X = FrameCols.indexOf("x")
  private val Y = FrameCols.indexOf("y")
  private val S = FrameCols.indexOf("s")

  /** The rows of [[FrameCols]] of one frame of one tracking frame. */
  private final case class Frame(tracking: DataFrame, gameId: Long, playId: Int, frameId: Int,
                                 schema: StructType, rows: Array[Row]) {
    def is(t: DataFrame, g: Long, p: Int, f: Int): Boolean =
      (tracking eq t) && gameId == g && playId == p && frameId == f
  }

  /** A session's last-frame slot: the frame last requested. */
  private final class Last {
    private var frame: Option[Frame] = None

    def apply(tracking: DataFrame, gameId: Long, playId: Int, frameId: Int): Frame = synchronized {
      frame.filter(_.is(tracking, gameId, playId, frameId)).getOrElse {
        val fetched = tracking
          .filter(col("gameId") === gameId && col("playId") === playId && col("frameId") === frameId)
          .select(FrameCols.map(col): _*)
        val f = Frame(tracking, gameId, playId, frameId, fetched.schema, fetched.collect())
        frame = Some(f)
        f
      }
    }
  }

  private def frame(tracking: DataFrame, gameId: Long, playId: Int, frameId: Int): Frame =
    Caches.memo(tracking.sparkSession, "PlayQueries.last")(new Last)(tracking, gameId, playId, frameId)

  /** One frame of one play: every tracked entity's kinematics (P11), as a
    * local DataFrame whose `collect` starts no job. The fetch happens when
    * this is called, not when the result is collected: a frame the slot
    * does not hold costs one Spark query here. */
  def playFrame(tracking: DataFrame, gameId: Long, playId: Int, frameId: Int): DataFrame = {
    val f = frame(tracking, gameId, playId, frameId)
    tracking.sparkSession.createDataFrame(f.rows.toSeq.asJava, f.schema)
  }

  /** Reach polygon for one entity in one frame: the K1 360-heading
    * radius profile as (angleDeg, x, y) vertices, field-clamped
    * (`Visualization.R:340-382`). Reads the entity's row from the
    * last-frame slot, so after `playFrame` on the same frame it starts no
    * Spark job. Throws `NoSuchElementException` naming the request when
    * the frame has no row for `nflId`. */
  def reachPolygon(tracking: DataFrame, gameId: Long, playId: Int, frameId: Int,
                   nflId: Long, ballSpeed: Double, bx: Double, by: Double): Seq[(Int, Double, Double)] = {
    val row = frame(tracking, gameId, playId, frameId).rows
      .find(r => !r.isNullAt(NflId) && r.getLong(NflId) == nflId)
      .getOrElse(throw new NoSuchElementException(
        s"no tracking row for gameId/playId/frameId/nflId $gameId/$playId/$frameId/$nflId"))
    val (px, py, vp) = (row.getDouble(X), row.getDouble(Y), row.getDouble(S))
    val radii = Interception.partialRadius(vp, px, py, ballSpeed, bx, by)
    radii.toIndexedSeq.zipWithIndex.map { case (r, deg) =>
      val (x, y) = Interception.clampedReach(px, py, math.toRadians(deg), r)
      (deg, x, y)
    }
  }
}
