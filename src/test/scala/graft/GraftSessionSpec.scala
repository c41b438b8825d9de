package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The `Graft` front door: one call yields a session where the custom
  * SQL functions, pushdown rule, planner strategy, and engine confs are
  * all live. */
class GraftSessionSpec extends SparkSpec {

  test("Graft.session exposes the engine surface") {
    val s = Graft.session() // getOrCreate joins the suite's context
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4") // local[4]
    // custom functions callable from plain SQL
    val r = s.sql(
      "SELECT within_dist(3.0, 4.0, 0.0, 0.0, 5.0) AS hit, " +
      "cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cs").collect()(0)
    assert(r.getBoolean(0))
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-9)
    // the GroupTopK planner strategy is installed
    val topk = graft.operators.GroupTopK.topKNative(
      Tables.load(s, sfDir, "orders")
        .select("o_orderpriority", "o_orderkey", "o_totalprice"),
      groupCols = Seq("o_orderpriority"), sortCol = "o_totalprice",
      tieCol = "o_orderkey", k = 2)
    assert(topk.count() > 0)
  }

  test("an isolated newSession() inherits every extension") {
    val iso = Graft.session(Some(SparkSpec.Master)).newSession()
    val calls = Map(
      "within_dist" -> "within_dist(3.0, 4.0, 0.0, 0.0, 5.0)",
      "cosine_sim" -> "cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F))",
      "mix64" -> "mix64(id)",
      "count_min" -> "count_min(id, 4, 64)",
      "hll_sketch" -> "hll_sketch(id, 6)",
      "ams_sketch" -> "ams_sketch(id, 5, 64)",
      "kmv_sketch" -> "kmv_sketch(id, 64)",
      "bloom_agg" -> "bloom_agg(id, 16384, 3)")
    assert(calls.keySet == GraftExtensions.functions.map(_.name).toSet)
    calls.foreach { case (name, call) =>
      val row = iso.sql(s"SELECT $call FROM range(10)").head()
      assert(!row.isNullAt(0), name)
    }

    val topk = graft.operators.GroupTopK.topKNative(
      iso.range(100).selectExpr("id % 3 AS g", "id", "CAST(id AS DOUBLE) AS v"),
      groupCols = Seq("g"), sortCol = "v", tieCol = "id", k = 2)
    assert(topk.queryExecution.executedPlan.toString.contains("GroupTopKFinal"))
    assert(topk.count() == 6)

    // f18's circle becomes a bounding box at the scan: cx ± r = 50 ± 30
    iso.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val f18 = SparkEntry.queries("f18_within_dist")(iso, sfDir)
    val scan = f18.queryExecution.sparkPlan.toString.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(scan.contains("GreaterThanOrEqual(value,20.0)"), scan)
    assert(scan.contains("LessThanOrEqual(value,80.0)"), scan)
  }

  test("Graft.session rejects a session built without the extensions") {
    val bare = spark.newSession()
    bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier("within_dist"))
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(bare)
    try {
      val e = intercept[IllegalStateException](Graft.session())
      assert(e.getMessage.contains("Graft.configure"), e.getMessage)
    } finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  test("every SQL function names itself when misused") {
    def failure(sql: String): String = {
      val e = intercept[Exception](spark.sql(sql).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    GraftExtensions.functions.foreach { f =>
      val tooMany = failure(
        s"SELECT ${f.name}(${Seq.fill(f.arity + 1)("id").mkString(", ")}) FROM range(3)")
      assert(tooMany.contains(f.usage), s"${f.name}: $tooMany")
      f.intParams.indices.foreach { i =>
        val lits = f.intParams.indices.map(j => if (j == i) "id" else "64")
        val leads = Seq.fill(f.arity - lits.size)("id")
        val msg = failure(s"SELECT ${f.name}(${(leads ++ lits).mkString(", ")}) FROM range(3)")
        assert(msg.contains(s"${f.name} ${f.intParams(i)} must be an integer literal"),
          s"${f.name}: $msg")
      }
    }
    // out-of-range literals: each sketch names the parameter and its range
    Seq(
      "count_min(id, 0, 64)" -> "count_min depth must be in [1, 4]",
      "count_min(id, 5, 64)" -> "count_min depth must be in [1, 4]",
      "count_min(id, 4, 1)" -> "count_min width must be in [2, 2^20]",
      "ams_sketch(id, 6, 64)" -> "ams_sketch depth must be in [1, 5]",
      "bloom_agg(id, 100, 3)" -> "bloom_agg bits must be a multiple of 64 in [64, 2^26]",
      "bloom_agg(id, 16384, 5)" -> "bloom_agg depth must be in [1, 4]",
      "hll_sketch(id, 3)" -> "hll_sketch precision must be in [4, 16]",
      "kmv_sketch(id, 1)" -> "kmv_sketch k must be in [2, 65536]"
    ).foreach { case (call, want) =>
      val msg = failure(s"SELECT $call FROM range(3)")
      assert(msg.contains(want), s"$call: $msg")
    }
  }
}
