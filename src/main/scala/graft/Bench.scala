package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every registered query at SPARK_GRAFT_SF_DIR.
  *
  * Each query is materialized through the `noop` sink — every output column
  * is computed and serialized, unlike a bare `.count()` which lets Catalyst
  * prune unused projections (a pure-projection query would only time the
  * scan). Two JSON lines are printed, both with the total and the full
  * per-query map: `per_query` first, which also carries both raw runs of
  * every query, then `total` LAST, for a reader that parses the last JSON
  * line.
  *
  * Noise control: every query is timed TWICE and reported as the MIN of
  * the two runs (both raw runs are kept in the `"runs"` field). A
  * single-shot timing is at the mercy of ambient host load — the round-4
  * driver artifact reported 22.2 s for a query that re-times at 0.30 s
  * warm — and min-of-two removes exactly that one-sided error.
  *
  * Honesty control: `Caches.reset` runs before EVERY timed run, so each
  * run pays the query's full cost — the second run can never return a
  * memoized result (NearDupPairs pairs, x18/x19 stage frames) or a frame
  * another run pinned. The bench states per-query cost, not marginal cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // spark.sql.join.preferSortMergeJoin=false was A/B-measured over a
    // join-heavy 12-query subset, interleaved runs: no aggregate win, and
    // g5/x19 consistently slower under shuffled-hash (their big
    // post-aggregate joins lose the sort reuse). Kept at the default.
    val spark = Graft.session(Some(s"local[$cpus]"))
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: load every table once (parquet footers, codegen,
    // broadcast/shuffle thread pools) so per-query numbers measure the
    // query, not first-touch JVM effects (~3-4s on the first query)
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => }
    }
    // optional comma-separated name filter for local iteration, e.g.
    // SPARK_GRAFT_ONLY=x18_pretrain_pipeline,s14_profile; driver leaves
    // it unset and benches everything
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    // a failed query must be distinguishable from a fast success: record
    // its name in "errors" and report value -1, never a small elapsed.
    // strip the terminal oracle-determinism ORDER BY (GraftBenchPlan
    // scaladoc) so the timing covers the operator, not an output sort
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      Caches.reset(spark)
      val t0 = System.nanoTime()
      try {
        org.apache.spark.sql.GraftBenchPlan.withoutTerminalSort(fn(spark, sfDir))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        errors += name
        System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        -1.0
      }
    }
    val runs = selected.map { case (name, fn) =>
      val r1 = timeOnce(name, fn)
      val r2 = if (r1 >= 0) timeOnce(name, fn) else -1.0
      name -> (r1, r2)
    }
    val results = runs.map { case (name, (r1, r2)) =>
      name -> (if (r1 < 0 || r2 < 0) -1.0 else math.min(r1, r2))
    }
    def jmap(kvs: Iterable[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    def jruns(kvs: Iterable[(String, (Double, Double))]): String =
      kvs.map { case (k, (a, b)) => "\"" + k + "\":[" + f"$a%.3f" + "," + f"$b%.3f" + "]" }
        .mkString("{", ",", "}")
    def jlist(xs: Iterable[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    val errs = s""""errors":${jlist(errors.distinct)}"""
    println(s"""{"metric":"per_query","value":$total,"unit":"sec","timing":"min_of_2_cache_reset","queries":${jmap(results)},"runs":${jruns(runs)},$errs,"sf":"$sfDir"}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","timing":"min_of_2_cache_reset","queries":${jmap(results)},$errs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
