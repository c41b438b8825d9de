package layerbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the trace tree: op -> sub-call (DataFrame build, frame
  * fetch, ...) -> plan phase -> job -> stage. Times are epoch ms; `parent`
  * is 0 for an op. Every span of one op carries that op's id as `op`. */
final case class Span(id: Long, parent: Long, op: Long, kind: String, name: String,
                      start: Double, end: Double, counters: Map[String, Double]) {
  def json: String = {
    val c = counters.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    s"""{"id":$id,"parent":$parent,"op":$op,"kind":"$kind","name":${Json.str(name)},""" +
      s""""start_ms":${Json.num(start)},"end_ms":${Json.num(end)},"counters":$c}"""
  }
}

/** Counters of one traced op, summed over the jobs, stages and tasks the
  * op's job group ran, plus the plan phases of the query executions it
  * finished. */
final class OpTrace(val id: Long, val name: String, val kind: String) {
  var start, end = 0.0
  /** False when the op threw: its figures cover an op that stopped early. */
  var ok = true
  var rows = -1L
  val subSpans = ArrayBuffer.empty[(String, Double, Double)]
  val phaseMs: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val jobIntervals = ArrayBuffer.empty[(Double, Double)]

  def wallMs: Double = end - start
  def buildMs: Double = subSpans.collect { case ("build", s, e) => e - s }.sum
  def subMs(name: String): Double = subSpans.collect { case (`name`, s, e) => e - s }.sum
  def planMs: Double = phaseMs.values.sum
  /** Wall time covered by at least one job. */
  def jobUnionMs: Double = {
    var covered, reach = 0.0
    var first = true
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (first || s > reach) { covered += e - s; reach = e; first = false }
      else if (e > reach) { covered += e - reach; reach = e }
    }
    covered
  }
  /** Driver time outside planning and outside any job. */
  def restMs: Double = math.max(0.0, wallMs - planMs - jobUnionMs)
  def eagerJobs: Int = jobIntervals.count { case (s, _) =>
    subSpans.exists { case (n, bs, be) => n == "build" && s >= bs && s <= be }
  }
}

/** Records spans and counters for the ops run while it is attached.
  *
  * A SparkListener attributes jobs, stages and tasks to the op whose job
  * group started them; a QueryExecutionListener collects the plan-phase
  * times (`QueryExecution.tracker`) of every query execution that
  * finishes. Both listeners are asynchronous, so `finish` drains the
  * listener bus before it closes an op. Everything stays in memory until
  * `writeTo`.
  */
final class Tracer(spark: SparkSession) {
  val ops = ArrayBuffer.empty[OpTrace]
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  private def newId(): Long = synchronized { nextId += 1; nextId }

  private val byGroup = new ConcurrentHashMap[String, OpTrace]()
  private val stageOwner = new ConcurrentHashMap[Int, (OpTrace, Long)]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new ConcurrentHashMap[Int, (OpTrace, Long, Double)]()
  private val qes = new ConcurrentLinkedQueue[QueryExecution]()
  private val events = new ConcurrentLinkedQueue[() => Unit]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val op = if (group == null) null else byGroup.get(group)
      if (op != null) {
        val spanId = newId()
        jobs.put(e.jobId, (op, spanId, e.time.toDouble))
        e.stageIds.foreach(s => stageOwner.put(s, (op, spanId)))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { case (op, spanId, start) =>
        events.add { () =>
          op.jobIntervals += ((start, e.time.toDouble))
          op.c("jobs") += 1
          spans += Span(spanId, op.id, op.id, "job", s"job ${e.jobId}", start, e.time.toDouble, Map.empty)
        }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOwner.get(e.stageId)).foreach { case (op, _) =>
        val submitted = Option(stageSubmitted.get(e.stageId)).map(_.longValue)
          .getOrElse(e.taskInfo.launchTime)
        val wait = math.max(0L, e.taskInfo.launchTime - submitted).toDouble
        events.add(() => op.c("task_wait_ms") += wait)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOwner.get(e.stageInfo.stageId)).foreach { case (op, jobSpan) =>
        val si = e.stageInfo
        val m = si.taskMetrics
        val counters = Map(
          "tasks" -> si.numTasks.toDouble,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "run_ms" -> m.executorRunTime.toDouble,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          "read_bytes" -> m.inputMetrics.bytesRead.toDouble,
          "read_records" -> m.inputMetrics.recordsRead.toDouble,
          "write_bytes" -> m.outputMetrics.bytesWritten.toDouble)
        val start = si.submissionTime.getOrElse(0L).toDouble
        val end = si.completionTime.getOrElse(0L).toDouble
        events.add { () =>
          op.c("stages") += 1
          counters.foreach { case (k, v) => op.c(k) += v }
          spans += Span(newId(), jobSpan, op.id, "stage", s"stage ${si.stageId}: ${si.name.take(80)}",
            start, end, counters)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = qes.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = qes.add(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  def begin(group: String, name: String, kind: String): OpTrace = {
    val op = new OpTrace(newId(), name, kind)
    byGroup.put(group, op)
    op
  }

  /** Close an op: drain the bus, then fold in the events and query
    * executions it produced. `built` are DataFrames the op constructed;
    * their analysis ran while building and is not reported by the
    * execution listener. */
  def finish(group: String, op: OpTrace, built: Seq[QueryExecution]): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    byGroup.remove(group)
    var ev = events.poll()
    while (ev != null) { ev(); ev = events.poll() }
    val executed = Iterator.continually(qes.poll()).takeWhile(_ != null).toSeq
    (built ++ executed).distinct.foreach { qe =>
      qe.tracker.phases.foreach { case (phase, p) =>
        if (phase != "parsing") {
          op.phaseMs(phase) += p.durationMs.toDouble
          spans += Span(newId(), op.id, op.id, "plan", phase, p.startTimeMs.toDouble,
            p.endTimeMs.toDouble, Map.empty)
        }
      }
    }
    spans += Span(op.id, 0, op.id, "op", s"${op.kind}:${op.name}", op.start, op.end,
      Map("rows" -> op.rows.toDouble, "ok" -> (if (op.ok) 1.0 else 0.0)) ++ op.c)
    op.subSpans.foreach { case (n, s, e) => spans += Span(newId(), op.id, op.id, "call", n, s, e, Map.empty) }
    ops += op
  }

  def writeTo(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(s => (s.op, s.start)).foreach(s => w.println(s.json))
    finally w.close()
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
