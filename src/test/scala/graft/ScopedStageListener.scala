package graft

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** THE sanctioned way for a spec to collect per-task metrics (round-12
  * verdict ask #7): wraps the job-group-scoped SparkListener pattern
  * SkewStressSpec evolved across rounds 10–11, so the attribution
  * defenses live in ONE place instead of being re-derived (and
  * re-flaked) by every future metrics suite.
  *
  * Why a raw `addSparkListener` is banned in specs
  * (ListenerHygieneSpec greps for it): sbt runs suites in parallel
  * threads inside the one forked JVM, and a listener on the shared
  * SparkContext receives onTaskEnd for EVERY suite's stages — round
  * 10's full-suite flake was exactly that (a foreign 16-task stage with
  * one 1527-record task landed in d5's skew stats and tripped a 4×
  * gate; d5's own stages were balanced). The defenses, layered:
  *
  *  1. the measured body runs under a UNIQUE job group (job groups are
  *     thread-local, and every job the body spawns — scans, GlobalRank's
  *     zipWithIndex, the noop write — runs on this thread); onJobStart
  *     exposes the group id in the job properties, we collect that
  *     job's stage ids, and onTaskEnd drops any task not in them. The
  *     bus delivers events to a listener in order, so our JobStart
  *     (registering its stage ids) precedes its TaskEnds.
  *  2. NOT airtight by itself: `SparkContext.localProperties` is an
  *     InheritableThreadLocal, so a JVM-wide pooled thread first created
  *     under our group can later submit a FOREIGN suite's job still
  *     carrying our group id. Callers asserting RATIOS must therefore
  *     keep a median-floor second layer at the assertion site (ghost
  *     stages reproduce the round-10 signature: a real-looking max over
  *     a median of 0) — see SkewStressSpec.
  *  3. the listener bus is async: after the body returns, the bus is
  *     drained (every event posted so far delivered, bounded by
  *     [[DrainTimeoutMs]]), then the listener is REMOVED (a leaked
  *     listener keeps observing every later suite). A poll for "no new
  *     rows for a while" can call the bus idle during a GC pause and
  *     under-count.
  */
object ScopedStageListener {

  /** Longest wait for the listener bus to drain before failing. */
  val DrainTimeoutMs: Long = 60000L

  /** One task's metrics: write records matter independently of read — an
    * output-expansion hot task (a dominant bucket emitting its quadratic
    * pair set) reads few rows but writes many. */
  final case class TaskRow(stageId: Int, durationMs: Long,
                           readRecords: Long, writeRecords: Long)

  /** Run `body` under a scoped job group and return the task rows of the
    * stages ITS jobs spawned (best-effort attribution — see the scaladoc
    * layers). The listener is registered before and removed after, even
    * on body failure. */
  def measure(spark: SparkSession, label: String)(body: => Unit): Seq[TaskRow] =
    scoped(spark, label)(body)._2

  /** Run `body` under a scoped job group and return how many jobs it
    * started (same attribution as [[measure]]). */
  def jobs(spark: SparkSession, label: String)(body: => Unit): Int =
    scoped(spark, label)(body)._1

  private def scoped(spark: SparkSession, label: String)
                    (body: => Unit): (Int, Seq[TaskRow]) = {
    val sc = spark.sparkContext
    val group = s"graft-scoped-$label-${System.nanoTime()}"
    val rows = scala.collection.mutable.Buffer.empty[TaskRow]
    val trackedStages = scala.collection.mutable.Set.empty[Int]
    var jobCount = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null && g == group)
          trackedStages.synchronized { trackedStages ++= j.stageIds; jobCount += 1 }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val mine = trackedStages.synchronized(trackedStages.contains(t.stageId))
        val m = t.taskMetrics
        if (mine && m != null) rows.synchronized {
          rows += TaskRow(t.stageId, t.taskInfo.duration,
            m.shuffleReadMetrics.recordsRead,
            m.shuffleWriteMetrics.recordsWritten)
        }
      }
    }
    sc.setJobGroup(group, s"ScopedStageListener $label")
    sc.addSparkListener(listener)
    try {
      body
      GraftListenerBridge.drain(sc, DrainTimeoutMs)
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
    (trackedStages.synchronized(jobCount), rows.synchronized(rows.toSeq))
  }

  /** Run `body` with `onStage` observing every completed stage, then drain
    * the bus and deregister. No job-group attribution: for the single-JVM
    * tools in `graft.tools`, which own the whole SparkContext. */
  def observe[T](spark: SparkSession)(onStage: SparkListenerStageCompleted => Unit)
                (body: => T): T = {
    val sc = spark.sparkContext
    val l = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = onStage(s)
    }
    sc.addSparkListener(l)
    try {
      val r = body
      GraftListenerBridge.drain(sc, DrainTimeoutMs)
      r
    } finally sc.removeSparkListener(l)
  }
}
