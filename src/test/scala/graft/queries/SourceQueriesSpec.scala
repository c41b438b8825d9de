package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SourceQueriesSpec extends SparkSpec {

  test("bucketed join plans without a shuffle exchange before the join") {
    val df = graft.SparkEntry.queries("s10_bucketed_join")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val joinIdx = plan.linesIterator.indexWhere(_.contains("SortMergeJoin"))
    assert(joinIdx >= 0, s"expected a SortMergeJoin:\n$plan")
    // no hashpartitioning exchange may feed the join inputs — bucket
    // layout already co-locates both sides on the key
    val joinInputs = plan.linesIterator.drop(joinIdx).mkString("\n")
    assert(!joinInputs.contains("Exchange hashpartitioning"),
      s"bucketing failed to eliminate the shuffle:\n$joinInputs")
    assert(df.count() > 0)
  }

  test("s23 approx profile: one-pass plan, estimates within 5% of exact") {
    val approx = graft.SparkEntry.queries("s23_profile_approx")(spark, sfDir)
    // the scale-path property: NO distinct expansion anywhere — one wide
    // agg whose only exchange moves single-row partial sketch state
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"approx profile must not Expand:\n$plan")
    assert(!plan.contains("count(distinct"), plan)
    val exact = graft.SparkEntry.queries("s14_profile")(spark, sfDir)
      .select("col_name", "n_distinct", "n_rows", "n_nulls")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val rows = approx.collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val (dExact, nRows, nNulls) = exact(r.getString(0))
      val dApprox = r.getLong(3)
      assert(math.abs(dApprox - dExact) <= math.max(1L, (dExact * 0.05).toLong),
        s"${r.getString(0)}: approx $dApprox vs exact $dExact")
      // the non-sketch columns are exact and must agree with s14
      assert(r.getLong(1) == nRows && r.getLong(2) == nNulls, r.toString)
    }
  }

  test("partitioned write prunes to one directory on read-back") {
    val df = graft.SparkEntry.queries("s9_partitioned_prune")(spark, sfDir)
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("l_returnflag"), scan)
    assert(df.count() > 0)
  }

  test("compaction rewrites 64 fragments into 4 files losslessly") {
    graft.SparkEntry.queries("s21_compaction")(spark, sfDir).collect()
    def parts(tag: String): Int =
      new java.io.File(graft.Caches.scratch(tag, sfDir))
        .listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts("s21frag") == 64)
    assert(parts("s21opt") == 4)
    val a = spark.read.parquet(graft.Caches.scratch("s21frag", sfDir))
    val b = spark.read.parquet(graft.Caches.scratch("s21opt", sfDir))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("scd2 intervals are contiguous with exactly one current row per key") {
    val scd = graft.SparkEntry.queries("s19_scd2")(spark, sfDir).cache()
    // exactly one open interval per key
    val multiCurrent = scd.filter(col("is_current"))
      .groupBy("o_orderkey").count().filter(col("count") =!= 1)
    assert(multiCurrent.count() == 0)
    // closed intervals chain into the next epoch: eff_to == next eff_from
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderkey").orderBy("eff_from")
    val broken = scd.withColumn("next_from", lead("eff_from", 1).over(w))
      .filter(col("eff_to").isNotNull && col("eff_to") =!= col("next_from"))
    assert(broken.count() == 0)
    // a repriced key (o_orderkey % 100 < 10) carries two epochs
    val orders = graft.Tables.load(spark, sfDir, "orders")
    val repriced = orders.filter(col("o_orderkey") % 100 < 10).count()
    val twoEpoch = scd.groupBy("o_orderkey").count().filter(col("count") === 2).count()
    assert(twoEpoch == repriced, s"epochs=$twoEpoch repriced=$repriced")
  }
}
