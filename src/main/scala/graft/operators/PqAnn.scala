package graft.operators

import graft.operators.Lloyd.quantCol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product-quantization ANN (v9) — the fourth member of the ANN family
  * (LSH v3 / IVF v4 / SQ8 v5): compress each vector to M sub-codes and
  * score queries against CODES, not vectors.
  *
  * Build: split the 64-dim embedding into M=8 contiguous 8-dim
  * subspaces; per subspace, fit K=16 centroids with the deterministic
  * [[Lloyd.fit]] that `IvfAnn` uses, with M blocks. Each vector encodes
  * as 8 nibbles — a 64-bit code replacing 256 bytes of floats, the
  * memory collapse that lets a 100 TB corpus's index live in RAM.
  *
  * Search (ADC — asymmetric distance computation): per query, a
  * 128-entry table of query-subvector-to-centroid squared distances;
  * a candidate's approximate distance is 8 TABLE LOOKUPS summed —
  * no float math against corpus vectors at all. Top candidates then
  * re-rank by exact cosine, the family's contract.
  *
  * Engine portability (what makes v9 oracle-replayable, one step past
  * v4): centroids are re-quantized to integer micro-units
  * ([[Lloyd.MicroMean]]), so BOTH the Lloyd assignment and the ADC
  * scoring are EXACT INTEGER arithmetic. No float fold to mirror, no
  * ulp risk in any cross-row aggregation; the oracle replays the fit
  * with [[Lloyd.fitSql]], then encode -> ADC -> re-rank, bit for bit.
  *
  * Scale shape: the codebook fit is [[Lloyd.fit]] with M blocks — one
  * stage per round, no shuffle: each partition folds its vectors into
  * M*K*dsub Long sums, whatever the corpus size, and `treeReduce`
  * merges them (fit on a sample at 100 TB — Lloyd converges on
  * samples); encoding is map-only; the search is a broadcast of Q
  * prepped queries against the codes scan — corpus rows never shuffle
  * until the per-query top-C candidate cut.
  */
object PqAnn {

  val M = 8          // subspaces
  val K = 16         // centroids per subspace (4-bit codes)
  val PqIters = 3    // fixed Lloyd rounds — part of the algorithm identity

  /** Code per subspace: the integer argmin over that subspace's
    * micro-quantized centroids; ties break to the lowest code. */
  private[operators] def encodeUdf(cm: Array[Array[Array[Long]]]) =
    udf { (rq: Seq[Long]) =>
      val v = rq.toArray
      val dsub = v.length / M
      (0 until M).map(m => Lloyd.nearestMicro(cm(m), v, m * dsub, dsub))
    }

  /** Per-query ADC table: entry [m*K + k] = exact integer squared-L2
    * between the query's m-th micro subvector and centroid (m, k). */
  private[operators] def qtableUdf(cm: Array[Array[Array[Long]]]) =
    udf { (rq: Seq[Long]) =>
      val v = rq.toArray
      val dsub = v.length / M
      Array.tabulate(M * K)(j => Lloyd.sqDist(v, (j / K) * dsub, dsub, cm(j / K)(j % K)))
    }

  /** Deterministic per-subspace Lloyd fit ([[Lloyd.fit]], M blocks).
    * Returns micro-quantized codebooks cm(m)(k)(dsub). */
  def fitCodebooks(corpus: DataFrame): Array[Array[Array[Long]]] =
    fitMicro(corpus.select(col("vec_id"), quantCol(col("embedding"))))

  /** [[fitCodebooks]] on vectors already in micro-units
    * (vec_id, array<long>) — IvfPqAnn fits its residuals with it. */
  private[graft] def fitMicro(vectors: DataFrame): Array[Array[Array[Long]]] =
    Lloyd.fit(vectors, K, blocks = M, PqIters, Lloyd.MicroMean)(Lloyd.nearestMicro)

  /** Full v-family search: encode corpus, ADC-score against `queries`,
    * take `cand` candidates per query, re-rank by exact cosine to `k`.
    * corpus and queries: (vec_id, embedding). Output (query_id,
    * neighbor_id, cos, rnk), unordered ([[Cosine.rank]]). */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           cand: Int = 100): DataFrame = {
    val cm = fitCodebooks(corpus)
    val codes = corpus
      .select(col("vec_id"), col("embedding"),
              encodeUdf(cm)(quantCol(col("embedding"))).as("codes"))
    val prepped = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("qe"),
      qtableUdf(cm)(quantCol(col("embedding"))).as("qtable"))
    // map-only ADC: 8 integer table lookups per (query, corpus) pair,
    // all builtin expressions (codegen'd), corpus side never shuffles
    val adc = codes.join(broadcast(prepped), col("vec_id") =!= col("query_id"))
      .withColumn("adc",
        aggregate(sequence(lit(0), lit(M - 1)),
          lit(0L),
          (acc, m) => acc +
            element_at(col("qtable"), m * K + element_at(col("codes"), m + 1) + 1)))
    // candidate cut via the mergeable per-partition top-k operator, not a
    // window: a window on query_id would shuffle ALL N x Q scored rows;
    // GroupTopK's partial pass caps the exchange at cand x partitions
    // rows per query (the same reason v5 uses it)
    val candidates = GroupTopK
      .topK(adc, Seq("query_id"), "adc", "vec_id", k = cand, descending = false)
    Cosine.rank(candidates.withColumnRenamed("vec_id", "neighbor_id"), k)
  }
}
