package graft

import org.apache.spark.sql.GraftBenchPlan
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GraftBenchPlan must remove exactly the oracle-determinism terminal
  * sort — nothing more (interior/window sorts are real operator work). */
class BenchPlanSpec extends SparkSpec {

  private def hasTopSort(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case s: Sort => s.global
      case _       => false
    }

  test("terminal global sort is stripped, result set unchanged") {
    val df = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
    val stripped = GraftBenchPlan.withoutTerminalSort(df)
    assert(hasTopSort(df))
    assert(!hasTopSort(stripped))
    assert(stripped.count() == df.count())
  }

  test("a query without a terminal sort is returned untouched") {
    val df = Tables.load(spark, sfDir, "orders").groupBy("o_orderstatus").count()
    assert(GraftBenchPlan.withoutTerminalSort(df) eq df)
  }

  test("no vector-family query keeps a global sort under its terminal one") {
    // the operators return unordered frames and the registered query owns
    // the one terminal sort, so Bench, which strips it, times no sort
    val vFamily = SparkEntry.queries.keys.filter(_.matches("v\\d+_.*")).toSeq.sorted
    assert(vFamily.size >= 19, s"vector family not found: $vFamily")
    val sorted = vFamily.filter { name =>
      GraftBenchPlan.withoutTerminalSort(SparkEntry.queries(name)(spark, sfDir))
        .queryExecution.optimizedPlan.exists {
          case s: Sort => s.global
          case _       => false
        }
    }
    assert(sorted.isEmpty, s"global sorts left after the strip in $sorted")
  }

  test("interior sorts (window order) survive the strip") {
    val df = Tables.load(spark, sfDir, "orders")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")))
      .orderBy("o_orderkey")
    val stripped = GraftBenchPlan.withoutTerminalSort(df)
    assert(!hasTopSort(stripped))
    // the window's required sort is still in the executed plan
    val phys = stripped.queryExecution.executedPlan.toString
    assert(phys.contains("Window"), s"window lost: $phys")
    // and the ranks are still computed correctly
    assert(stripped.filter(col("rnk") === 1).count() ==
           df.select("o_orderstatus").distinct().count())
  }
}
