package graft.plans

import graft.{IsolatedSparkSpec, Tables}
import org.apache.spark.sql.functions._

class WithinDistSpec extends IsolatedSparkSpec {

  test("within_dist matches the sqrt formula on the events table") {
    Tables.load(spark, sfDir, "events").createOrReplaceTempView("ev")
    val mismatches = spark.sql(
      """SELECT * FROM ev
        |WHERE within_dist(value, CAST(user_id AS DOUBLE), 50.0, 10.0, 30.0)
        |   <> (sqrt(pow(value - 50.0, 2) + pow(user_id - 10.0, 2)) <= 30.0)""".stripMargin)
    assert(mismatches.count() == 0)
    val hits = spark.sql(
      "SELECT count(*) FROM ev WHERE within_dist(value, CAST(user_id AS DOUBLE), 50.0, 10.0, 30.0)")
      .head.getLong(0)
    assert(hits > 0)
  }

  test("null inputs yield null, not false") {
    val r = spark.sql(
      "SELECT within_dist(CAST(NULL AS DOUBLE), 1.0, 0.0, 0.0, 5.0)").head
    assert(r.isNullAt(0))
  }

  test("the pushdown rule surfaces bounding-box filters at the parquet scan") {
    // the scan's metadata string truncates at maxMetadataStringLength
    // (default 100), and the pushed-filter ORDER is not stable across
    // optimizer runs — widen the limit so the assertion sees the full
    // list instead of depending on which filters happen to come first
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try {
      val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .filter(expr("within_dist(l_quantity, l_discount, 25.0, 0.05, 3.0)"))
      val scanLine = df.queryExecution.executedPlan.toString
        .linesIterator.find(_.contains("PushedFilters")).getOrElse("")
      // cx−r / cx+r fold to 22.0 / 28.0 and reach the scan
      assert(scanLine.contains("GreaterThanOrEqual(l_quantity,22.0)"), scanLine)
      assert(scanLine.contains("LessThanOrEqual(l_quantity,28.0)"), scanLine)
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
  }

  test("rule does not change results (circle test still applied)") {
    val base = Tables.load(spark, sfDir, "lineitem")
    val viaRule = base
      .filter(expr("within_dist(l_quantity, l_discount, 25.0, 0.05, 3.0)"))
      .agg(count(lit(1))).head.getLong(0)
    val manual = base
      .filter(sqrt(pow(col("l_quantity") - 25.0, 2) + pow(col("l_discount") - 0.05, 2)) <= 3.0)
      .agg(count(lit(1))).head.getLong(0)
    assert(viaRule == manual)
    assert(viaRule > 0)
  }
}
