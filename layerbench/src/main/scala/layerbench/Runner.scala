package layerbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution

/** Epoch milliseconds with sub-millisecond resolution, on the same time
  * base as Spark's listener events. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** What an op sees while it runs: it marks the calls it makes into the
  * engine, so a traced run can split the op's time between them. */
final class OpCtx(val trace: Option[OpTrace]) {
  val built = ArrayBuffer.empty[QueryExecution]

  def call[T](name: String)(body: => T): T = trace match {
    case None => body
    case Some(t) =>
      val s = Clock.nowMs
      try body finally t.subSpans += ((name, s, Clock.nowMs))
  }

  /** Build a DataFrame; jobs that start here ran eagerly, before any action. */
  def build(df: => DataFrame): DataFrame = call("build") {
    val d = df
    built += d.queryExecution
    d
  }

  def rows(n: Long): Unit = trace.foreach(t => t.rows = math.max(t.rows, 0L) + n)
}

/** Runs ops one at a time on the calling thread (a closed loop with one
  * client), counts attempts and failures, and hands each op to the tracer
  * when one is attached. A failed op is counted and never timed. */
final class Runner(spark: SparkSession) {
  var tracer: Option[Tracer] = None
  var attempted = 0L
  var failed = 0L
  /** `getPersistentRDDs.size` after each op: what the op left cached. */
  val persisted = ArrayBuffer.empty[Int]
  private var seq = 0L

  /** Wall ms of the op, or None when it threw. */
  def op(kind: String, name: String)(body: OpCtx => Unit): Option[Double] = {
    seq += 1
    val group = s"layerbench-$seq"
    val sc = spark.sparkContext
    val ctx = new OpCtx(tracer.map(_.begin(group, name, kind)))
    attempted += 1
    sc.setJobGroup(group, s"$kind:$name", interruptOnCancel = false)
    val start = Clock.nowMs
    val t0 = System.nanoTime()
    val ok =
      try { body(ctx); true }
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[layerbench] op $kind:$name failed: $e")
          false
      } finally sc.clearJobGroup()
    val ms = (System.nanoTime() - t0) / 1e6
    persisted += sc.getPersistentRDDs.size
    for (t <- tracer; o <- ctx.trace) {
      o.start = start
      o.end = start + ms
      o.ok = ok
      t.finish(group, o, ctx.built.toSeq)
    }
    if (ok) Some(ms) else None
  }
}
