package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Mandatory entry point for feeding rows into a compute-dense kernel
  * UDF (K1 interception radius, K2 MC openness) — SURVEY.md §2.8 K3's
  * "chunked parallel map", done the Spark way.
  *
  * Why this exists: kernel inputs are TINY row counts carrying HUGE
  * per-row compute (`bdb_radius_stage`: 1,450 rows × ~10⁴ MC samples
  * each). Every row-count-based partitioning heuristic in the stack
  * works against them — a `coalesce(1)` parquet fixture scans as one
  * task, and AQE's size-based shuffle coalescing folds a few-KB
  * shuffle back to ~1 partition — so the ~12.7M-sample kernel silently
  * serializes (about 8x slower for `bdb_radius_stage`). Rows per
  * partition is the wrong balance signal when cost lives in the UDF,
  * not the row.
  *
  * `spread` repartitions on the kernel's seed keys to
  * `defaultParallelism` with an EXPLICIT partition count:
  * `repartition(n, keys…)` plans a `REPARTITION_BY_NUM` shuffle, which
  * AQE's `CoalesceShufflePartitions` never touches (only
  * ENSURE_REQUIREMENTS / REPARTITION_BY_COL / REBALANCE origins are
  * coalescible) — the spread survives adaptive re-planning by
  * construction, where a bare `repartition(keys…)` would be coalesced
  * right back. Hashing on the per-row seed keys spreads compute
  * ~uniformly (each key carries one kernel invocation) and is
  * result-invariant: every kernel RNG is seeded from the row keys
  * (RadiusStage / KernelQueries scaladoc), so scores are identical
  * under ANY partitioning and the oracle hash cannot move.
  *
  * Enforcement: kernel UDFs are NAMED (`markers`), and
  * KernelSpreadSpec fails any registered query that plans a marked
  * kernel UDF without a multi-partition REPARTITION_BY_NUM exchange
  * below it — re-introducing a single-partition kernel input is a red
  * test, not a bench surprise.
  */
object Kernels {

  /** Physical-plan names of the compute-dense kernel UDFs; every udf
    * wrapping Interception.partialRadius / Openness.openCount must be
    * `.withName`d with one of these so the spec can see it. */
  val K1Name = "graft_k1_kernel"
  val K2Name = "graft_k2_kernel"
  val markers: Set[String] = Set(K1Name, K2Name)

  /** K2 as a UDF, shared by RadiusStage and k2_openness. params =
    * [vs, dir, px, py, vb, fx, fy], packed to stay within the
    * 10-argument Scala-UDF limit. Spark converts array<double> to
    * primitive arrays for this signature, so the sample loop never
    * boxes a coordinate. */
  val k2Udf: UserDefinedFunction = udf {
    (params: Array[Double], dxs: Array[Double], dys: Array[Double],
     dss: Array[Double], seed: Long) =>
      Openness.openCount(params(0), params(1), params(2), params(3),
        dxs, dys, dss, params(4), params(5), params(6), seed, reachTime = 1.0)
  }.withName(K2Name)

  /** The per-row kernel seed: SplitMix64's scramble of a row key, which
    * the DuckDB oracles replay (`OracleU64.mix64Ctes`). */
  val mix64Udf: UserDefinedFunction = udf((x: Long) => Openness.mix64(x))

  /** Spread `df` across the cluster on the kernel's per-row seed keys
    * before a kernel-UDF projection. One tiny shuffle (the kernel's
    * input rows are small by definition — the compute is in the UDF)
    * buys full-width execution of the expensive stage.
    *
    * Floor of 2 partitions: on a 1-core runner
    * `defaultParallelism == 1` would plan a 1-partition
    * REPARTITION_BY_NUM — the kernel still serializes AND
    * KernelSpreadSpec's `numPartitions > 1` guard fails the suite.
    * Two partitions on one core cost one extra task; a serialized
    * kernel on 32 cores costs 10×. */
  def spread(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(
      math.max(2, df.sparkSession.sparkContext.defaultParallelism), keys: _*)
}
