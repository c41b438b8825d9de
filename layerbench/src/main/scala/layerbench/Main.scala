package layerbench

import scala.collection.mutable.ArrayBuffer

import graft.domain.{Interception, Openness}
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and prints its result as the last line:
  *
  *   layerbench.Main <workload> <seed> <seconds> <trace 0|1> <run dir> <launcher datagen s> <set-up rounds>
  *
  * Set-up (session build + data generation) is repeated `set-up rounds`
  * times and reported as the median, plus JVM start and the warm-up.
  * The timed loop then runs whole passes until `seconds` have been
  * measured, at least one. With trace 1 it lets one pass go by and then
  * runs three, traced, untraced, traced: the traced ones feed the
  * per-layer metrics, and their mean minus the untraced pass between them
  * is the tracing overhead, so a steady drift of the box cancels. The
  * query suite does not exercise the BDB stages or the play viewer, so its
  * traced run measures those layers with one small bdb_pipeline pass whose
  * ops and outputs are counted and checked like the suite's own, and every
  * traced run reports every layer.
  */
object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  val Heavy = Seq("a26_weighted_median", "d11_containment_probe")
  val Light = Seq("p4_filter_eq", "p6_conjunctive", "a3_count", "a19_rollup", "j2_inner_join",
    "j7_self_join", "w1_dense_rank", "w3_running_sum", "r13_unpivot", "r6_na_fill", "f1_math",
    "f7_regex_upper", "s12_dsv2_source", "mm3_metadata_prune", "x1_token_count", "a28_countmin",
    "k1_intercept_radius", "w16_group_topk_native")

  def workload(name: String, seed: Long, runDir: String): Workload = name match {
    case "bdb_pipeline" => new BdbPipeline(games = 12, seed, lookups = 20, warmLookups = 10)
    case "query_suite" => new QuerySuite(s"$runDir/data", Heavy, Light)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def log(msg: String): Unit = System.err.println(s"[layerbench] $msg")

  private def session(): SparkSession = {
    val s = graft.Graft.session(Some(s"local[$Cores]"))
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(wlName, seedArg, secondsArg, traceArg, out, launcherDatagenArg, roundsArg) = args
    val (seed, seconds, trace) = (seedArg.toLong, secondsArg.toDouble, traceArg == "1")
    val jvmS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.setProperty("spark.sql.shuffle.partitions", Cores.toString)
    System.setProperty("spark.ui.enabled", "false")
    System.setProperty("spark.local.dir", s"$out/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$out/warehouse")
    System.setProperty("spark.hadoop.hadoop.tmp.dir", s"$out/tmp")

    // set-up: session build and data generation, repeated
    val wl = workload(wlName, seed, out)
    var spark: SparkSession = null
    val buildS, datagenS = ArrayBuffer.empty[Double]
    for (round <- 1 to roundsArg.toInt) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      buildS += secs(t0)
      val t1 = System.nanoTime()
      wl.generate(spark, s"$out/data$round")
      datagenS += secs(t1) + launcherDatagenArg.toDouble
      log(f"set-up round $round: session ${buildS.last}%.2f s, data ${datagenS.last}%.2f s")
    }
    val runner = new Runner(spark)
    val tw = System.nanoTime()
    wl.warmup(spark, runner)
    val warmupS = secs(tw)
    log(f"warm-up $warmupS%.2f s")
    val setupS = jvmS + median(buildS.toSeq) + median(datagenS.toSeq) + warmupS

    // the timed loop; a pass with a failed op is not timed. The first pass
    // after the warm-up still runs slower, so a traced run lets one pass go
    // by before it compares traced with untraced passes.
    if (trace) wl.pass(spark, runner)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val tracedAt = Seq(true, false, true)
    val passMs = ArrayBuffer.empty[(Boolean, Option[Double])]
    val heavyS, lightS, lightMs = ArrayBuffer.empty[Double]
    val loopStart = runner.attempted
    val tLoop = System.nanoTime()
    def more = !trace && secs(tLoop) < seconds
    while (passMs.size < (if (trace) tracedAt.size else 1) || more) {
      val traced = trace && tracedAt(passMs.size % tracedAt.size)
      if (traced) tracer.foreach(_.attach())
      runner.tracer = if (traced) tracer else None
      val t0 = System.nanoTime()
      val times = wl.pass(spark, runner)
      val ms = (System.nanoTime() - t0) / 1e6
      runner.tracer = None
      if (traced) tracer.foreach(_.detach())
      val ok = times.forall(_.ms.isDefined)
      passMs += ((traced, if (ok) Some(ms) else None))
      log(f"pass ${passMs.size}${if (traced) " (traced)" else ""}: $ms%.0f ms")
      if (ok && !traced) {
        heavyS += times.filter(_.kind == "heavy").flatMap(_.ms).sum / 1e3
        lightS += times.filter(_.kind == "light").flatMap(_.ms).sum / 1e3
      }
      if (!traced) lightMs ++= times.filter(_.kind == "light").flatMap(_.ms)
    }
    log(f"loop ${secs(tLoop)}%.2f s, ${passMs.size} passes, ${runner.attempted - loopStart} ops")

    val problems = ArrayBuffer.empty[String]
    def checked(what: String)(body: => Seq[String]): Unit =
      try problems ++= body
      catch { case scala.util.control.NonFatal(e) => problems += s"$what check failed: $e" }
    val bdbTracer = tracer.map { t =>
      if (wlName == "bdb_pipeline") t
      else {
        // the BDB and viewer layers, from one small pass on the same runner
        val p = new BdbPipeline(2, seed, lookups = 10, warmLookups = 0)
        val pt = new Tracer(spark)
        p.generate(spark, s"$out/probe")
        pt.attach()
        runner.tracer = Some(pt)
        p.pass(spark, runner)
        runner.tracer = None
        pt.detach()
        checked("bdb probe")(p.check(spark))
        pt
      }
    }
    val tc = System.nanoTime()
    checked("output")(wl.check(spark))
    if (runner.failed > 0) problems += s"${runner.failed} of ${runner.attempted} ops failed"
    log(f"check ${secs(tc)}%.2f s")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("heavy_s", median(heavyS.toSeq), "s"),
        ("light_s", median(lightS.toSeq), "s"),
        ("light_p50_ms", median(lightMs.toSeq), "ms"),
        ("ok_ops_ratio", (runner.attempted - runner.failed).toDouble / runner.attempted, "ratio"))
      else {
        val t = tracer.get
        t.writeTo(s"$out/trace.jsonl")
        def passes(traced: Boolean) = median(passMs.filter(_._1 == traced).flatMap(_._2).toSeq)
        val (tracedMs, plainMs) = (passes(true), passes(false))
        layerMetrics(t, bdbTracer.get) ++ Seq(
          ("session.jvm_s", jvmS, "s"),
          ("session.build_s", median(buildS.toSeq), "s"),
          ("session.datagen_s", median(datagenS.toSeq), "s"),
          ("session.warmup_s", warmupS, "s"),
          ("trace.overhead_ms", tracedMs - plainMs, "ms"),
          ("trace.overhead_pct", (tracedMs / plainMs - 1) * 100, "%"),
          ("caches.persisted_rdds", mean(runner.persisted.map(_.toDouble)), "count"))
      }
    spark.stop()

    val m = metrics.map { case (k, v, u) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    println("LAYERBENCH_RESULT " +
      s"""{"correct":${problems.isEmpty},"attempted":${runner.attempted},"failed":${runner.failed},""" +
      s""""problems":${problems.map(Json.str).mkString("[", ",", "]")},""" +
      s""""metrics":${m.mkString("{", ",", "}")}}""")
  }

  /** Per-layer metrics of the traced ops that completed; per-op figures are
    * means. The BDB stage and viewer figures come from `bdb`. */
  private def layerMetrics(t: Tracer, bdb: Tracer): Seq[(String, Double, String)] = {
    val ops = t.ops.filter(_.ok).toSeq
    def perOp(f: OpTrace => Double) = mean(ops.map(f))
    def c(k: String) = perOp(_.c(k))
    val bdbOps = bdb.ops.filter(_.ok).toSeq
    val lookupOps = bdbOps.filter(_.name.startsWith("lookup"))
    def stage(n: String) = median(bdbOps.filter(_.name == n).map(_.wallMs)) / 1e3
    val passes = math.max(1, bdbOps.count(_.name == "prep"))
    Seq(
      ("plans.analysis_ms", perOp(_.phaseMs("analysis")), "ms"),
      ("plans.optimization_ms", perOp(_.phaseMs("optimization")), "ms"),
      ("plans.planning_ms", perOp(_.phaseMs("planning")), "ms"),
      ("queries.build_ms", perOp(_.buildMs), "ms"),
      ("queries.eager_jobs", perOp(_.eagerJobs.toDouble), "count"),
      ("spark.jobs", c("jobs"), "count"),
      ("spark.stages", c("stages"), "count"),
      ("spark.tasks", c("tasks"), "count"),
      ("spark.task_wait_ms", c("task_wait_ms"), "ms"),
      ("driver.rest_ms", perOp(_.restMs), "ms"),
      ("spark.cpu_ms", c("cpu_ms"), "ms"),
      ("spark.run_ms", c("run_ms"), "ms"),
      ("spark.gc_ms", c("gc_ms"), "ms"),
      ("spark.shuffle_read_bytes", c("shuffle_read_bytes"), "bytes"),
      ("spark.shuffle_write_bytes", c("shuffle_write_bytes"), "bytes"),
      ("spark.spill_bytes", c("spill_bytes"), "bytes"),
      ("bdb.prep_s", stage("prep"), "s"),
      ("bdb.radius_s", stage("radius"), "s"),
      ("bdb.read_order_s", stage("read_order"), "s"),
      ("bdb.press_s", stage("press"), "s"),
      ("bdb.matchup_s", stage("matchup"), "s"),
      ("bdb.coverage_s", stage("coverage"), "s"),
      ("ml.jobs", mean(bdbOps.filter(_.name == "coverage").map(_.c("jobs"))), "count"),
      ("sources.write_bytes", bdbOps.map(_.c("write_bytes")).sum / passes, "bytes"),
      ("serve.frame_ms", median(lookupOps.map(_.subMs("frame"))), "ms"),
      ("serve.polygon_ms", median(lookupOps.map(_.subMs("polygon"))), "ms"),
      ("sources.read_bytes", mean(lookupOps.map(_.c("read_bytes"))), "bytes"),
      ("sources.rows_per_result",
        lookupOps.map(_.c("read_records")).sum / math.max(1L, lookupOps.map(_.rows).filter(_ > 0).sum),
        "ratio"),
      ("domain.openness_samples_per_s", opennessSamplesPerS(), "1/s"),
      ("domain.partial_radius_us", partialRadiusUs(), "us"))
  }

  /** `Openness.openCount` called directly on this thread, in Monte-Carlo
    * samples per second (a call draws ceil(reach-box area * 100) samples). */
  private def opennessSamplesPerS(): Double = {
    val (vs, px, py) = (6.0, 50.0, 25.0)
    val dxs = Array.tabulate(11)(i => 52.0 + i % 3)
    val dys = Array.tabulate(11)(i => 4.0 + 4.5 * i)
    val dss = Array.fill(11)(5.0)
    val side = 2 * vs
    val samples = math.ceil(side * side * 100).toLong
    var calls = 0L
    var sink = 0.0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 500000000L) {
      sink += Openness.openCount(vs, 0.3, px, py, dxs, dys, dss, 20.0, 40.0, 26.65, calls, 1.0)
      calls += 1
    }
    if (sink.isNaN) println(sink)
    calls * samples / secs(t0)
  }

  /** One 360-heading `Interception.partialRadius` profile, in microseconds. */
  private def partialRadiusUs(): Double = {
    var calls = 0L
    var sink = 0.0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L) {
      sink += Interception.partialRadius(6.0, 40.0 + calls % 20, 20.0, 20.0, 30.0, 26.65)(90)
      calls += 1
    }
    if (sink.isNaN) println(sink)
    secs(t0) * 1e6 / calls
  }
}
