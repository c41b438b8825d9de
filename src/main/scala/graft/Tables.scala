package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog over the driver's synthetic parquet tables (TESTDATA.md).
  *
  * Design note (100 TB): all readers take the directory at call time and go
  * through `spark.read.parquet`, so Catalyst's data-source V2 path applies
  * column pruning + filter pushdown at the scan. Nothing here caches or
  * collects; at cluster scale these would be external tables with partition
  * columns, and every query below would partition-prune the same way.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  // Layout note (measured, round 4): the dev parquet files are single
  // row groups, and a row group is parquet's minimum read unit — so every
  // scan here lands in ONE task and per-row compute (tokenize/hash/
  // quantize) runs single-threaded regardless of cores. A conditional
  // round-robin repartition after the scan was tried and REJECTED: at
  // sf0.1 the exchange + extra planning pass cost more than the tiny
  // single-task compute it parallelized (x1 0.37→0.79 s warm). At
  // cluster scale the problem doesn't exist — real tables are many
  // files × many row groups and the scan itself yields ≥ cores splits.

  /** events.ts normalization — the generator has shipped two physical types
    * across rounds, and DuckDB (the oracle engine) reads both as naive
    * microsecond TIMESTAMP, so we normalize the Spark side to match:
    *
    *  - TIMESTAMP(NANOS): Spark's schema converter rejects it outright
    *    ([PARQUET_TYPE_ILLEGAL]); read as raw nanos via the `nanosAsLong`
    *    legacy conf that `Graft.configure` sets on every session, then
    *    truncate to microseconds (exactly DuckDB's behavior).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ;
    *    cast to session-local TimestampType (sessions run UTC, so values are
    *    identical) to keep downstream `unix_micros`/watermark code on the
    *    same type it has always seen. */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    import org.apache.spark.sql.functions.{col, expr}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case org.apache.spark.sql.types.TimestampType => raw
      case other =>
        // Fail fast on an unknown generator vintage rather than letting a
        // surprise physical type surface later as unix_micros/watermark or
        // oracle-hash drift far from the scan.
        throw new IllegalStateException(
          s"events.ts has unexpected type $other; known vintages are " +
            "TIMESTAMP(NANOS) (read as Long via nanosAsLong), " +
            "TIMESTAMP_NTZ(MICROS), and session-local TIMESTAMP")
    }
  }

  /** Register every table as a temp view named exactly like the parquet
    * file, so `spark.sql` text matches the DuckDB oracle dialect's names. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
