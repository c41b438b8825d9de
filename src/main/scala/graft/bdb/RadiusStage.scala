package graft.bdb

import graft.domain.Kernels
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pipeline stage 3 (SURVEY.md §3.1.3) — `radius_model.R`.
  *
  * Scores every cleaned_player_data row with the K2 openness kernel and
  * adds `secondId` = dense_rank(frameId) − 1 within the play
  * (`radius_model.R:257-261`).
  *
  * Scale notes: the reference's 50k-row chunks on cores−1 worker
  * processes (`radius_model.R:210-255`, K3) vanish — the kernel UDF runs
  * partition-parallel in the executors. The RNG is seeded per row from
  * the keys, so scores are identical under ANY partitioning,
  * repartition, or speculative re-execution — stronger than the
  * reference's per-chunk seeding, which changes results when the chunk
  * boundaries move.
  *
  * The per-row seed is `mix64` of a *31-folded key: plain signed-long
  * arithmetic, then the SplitMix64 scramble `OracleU64.mix64Ctes`
  * replays in DuckDB. Spark's `xxhash64` would be simpler, but no second
  * engine can replay it, and with a replayable seed the oracle re-runs
  * the entire MC kernel over the fixture (every sample, every defender
  * test), so `bdb_radius_stage` is hash-checked rather than golden-only.
  *
  * The kernel projection routes through [[graft.domain.Kernels.spread]]
  * on the seed keys, the reference's chunked parallel map
  * (`radius_model.R:210-255`, SURVEY §2.8 K3). The cleaned rows are few
  * and may arrive as one parquet file, which would hand the whole
  * ~12.7M-sample kernel to one task; spreading is hash-invariant
  * because scores are seeded per row. KernelSpreadSpec makes the
  * single-partition regression a failing test.
  */
object RadiusStage {

  /** The kernel projection alone (pre-`secondId`) — public so
    * KernelSpreadSpec can assert its runtime partition spread. */
  def scored(cleaned: DataFrame): DataFrame = {
    Kernels.spread(cleaned,
        col("gameId"), col("playId"), col("frameId"), col("nflId"))
      .withColumn("dir_rad", radians(col("dir")))
      .withColumn("open_count", Kernels.k2Udf(
        array(col("s"), col("dir_rad"), col("x"), col("y"),
              col("throw_speed"), col("fx"), col("fy")),
        transform(col("defenders"), d => d.getField("x")),
        transform(col("defenders"), d => d.getField("y")),
        transform(col("defenders"), d => d.getField("s")),
        Kernels.mix64Udf(((col("gameId") * 31 + col("playId")) * 31
                          + col("frameId")) * 31 + col("nflId"))))
      .drop("dir_rad")
  }

  def apply(cleaned: DataFrame): DataFrame =
    scored(cleaned).withColumn("secondId",
      dense_rank().over(
        Window.partitionBy("gameId", "playId").orderBy("frameId")) - 1)
}
