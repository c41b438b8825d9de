package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization ANN (v9) — the fourth member of the ANN family
  * (LSH v3 / IVF v4 / SQ8 v5): compress each vector to M sub-codes and
  * score queries against CODES, not vectors.
  *
  * Build: split the 64-dim embedding into M=8 contiguous 8-dim
  * subspaces; per subspace, fit K=16 centroids with the same
  * deterministic Lloyd scheme as `IvfAnn` (seeded arithmetic init, fixed
  * iteration count, exact integer dimension sums). Each vector encodes
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
  * v4): centroids are re-quantized to integer micro-units at every use
  * site, so BOTH the Lloyd assignment and the ADC scoring are EXACT
  * INTEGER arithmetic — sums of (micro - micro)^2 longs. No float fold
  * to mirror, no ulp risk in any cross-row aggregation; DuckDB replays
  * init -> 3 Lloyd rounds -> encode -> ADC -> re-rank bit-for-bit.
  *
  * Scale shape: codebook fit shuffles O(M*K*dsub) partial sums per
  * partition regardless of corpus size (fit on a sample at 100 TB —
  * Lloyd converges on samples); encoding is map-only; the search is a
  * broadcast of Q prepped queries against the codes scan — corpus rows
  * never shuffle until the per-query top-C candidate cut.
  */
object PqAnn {

  val M = 8          // subspaces
  val K = 16         // centroids per subspace (4-bit codes)
  val PqIters = 3    // fixed Lloyd rounds — part of the algorithm identity

  private val QScale = 1000000.0

  /** v5's micro-unit rounding (half away from zero), DuckDB-mirrored. */
  private[operators] def quantCol(c: Column): Column =
    transform(c, x =>
      when(x.cast("double") >= 0, floor(x.cast("double") * QScale + 0.5))
        .otherwise(-floor(-x.cast("double") * QScale + 0.5)).cast("long"))

  /** Centroid double -> micro-units, same rounding, driver-side. */
  private[operators] def microOf(v: Double): Long =
    if (v >= 0) math.floor(v * QScale + 0.5).toLong
    else -math.floor(-v * QScale + 0.5).toLong

  /** Exact integer squared-L2 between a vector's micro subvector and a
    * micro-quantized centroid; ties break to the lowest code. */
  private[operators] def encodeUdf(cm: Array[Array[Array[Long]]]) =
    udf { (rq: Seq[Long]) =>
      val dsub = rq.length / M
      (0 until M).map { m =>
        var best = 0
        var bestD = Long.MaxValue
        var k = 0
        while (k < K) {
          var d = 0L
          var i = 0
          while (i < dsub) {
            val diff = rq(m * dsub + i) - cm(m)(k)(i)
            d += diff * diff
            i += 1
          }
          if (d < bestD) { bestD = d; best = k }
          k += 1
        }
        best
      }
    }

  /** Per-query ADC table: entry [m*K + k] = exact integer squared-L2
    * between the query's m-th micro subvector and centroid (m, k). */
  private[operators] def qtableUdf(cm: Array[Array[Array[Long]]]) =
    udf { (rq: Seq[Long]) =>
      val dsub = rq.length / M
      val out = new Array[Long](M * K)
      var m = 0
      while (m < M) {
        var k = 0
        while (k < K) {
          var d = 0L
          var i = 0
          while (i < dsub) {
            val diff = rq(m * dsub + i) - cm(m)(k)(i)
            d += diff * diff
            i += 1
          }
          out(m * K + k) = d
          k += 1
        }
        m += 1
      }
      out
    }

  /** Deterministic per-subspace Lloyd fit. Returns micro-quantized
    * codebooks cm(m)(k)(dsub). Seeds: the K lowest rows of the v4 LCG
    * hash order, each contributing its m-th subvector to subspace m. */
  def fitCodebooks(corpus: DataFrame): Array[Array[Array[Long]]] = {
    // cached across the seed pass + PqIters collect passes (round 13,
    // the fitCentroids change): uncached, each pass re-ran the scan +
    // quantization lineage. Same values, one materialization.
    val rq = corpus.select(col("vec_id"), quantCol(col("embedding")).as("rq"))
      .cache()
    val seeds = rq
      .withColumn("h", (col("vec_id") * lit(1103515245L) + lit(12345L)) % lit(2147483648L))
      .orderBy(col("h"), col("vec_id"))
      .limit(K)
      .select("rq").collect()
      .map(_.getSeq[Long](0).toArray)
    val dim = seeds.head.length
    val dsub = dim / M
    // centroids as micro-longs; doubles only exist transiently as s/n
    var cm: Array[Array[Array[Long]]] = Array.tabulate(M, K, dsub) {
      (m, k, i) => seeds(k)(m * dsub + i)
    }
    var it = 0
    while (it < PqIters) {
      val enc = encodeUdf(cm)
      val sums = rq
        .withColumn("codes", enc(col("rq")))
        .select(posexplode(col("rq")).as(Seq("pos", "r")), col("codes"))
        .withColumn("sub", (col("pos") / dsub).cast("int"))
        .withColumn("cell", element_at(col("codes"), col("sub") + 1))
        .groupBy("sub", "cell", "pos")
        .agg(sum("r").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cm.map(_.map(_.clone()))
      sums.foreach { row =>
        val sub = row.getInt(0)
        val cell = row.getInt(1)
        val pos = row.getInt(2) % dsub
        val s = row.getLong(3)
        val n = row.getLong(4)
        // new centroid s/(n*1e6) as double, re-quantized to micro —
        // the only float op, replayed identically by the oracle
        next(sub)(cell)(pos) = microOf(s.toDouble / (n.toDouble * QScale))
      }
      cm = next
      it += 1
    }
    rq.unpersist(blocking = false)
    cm
  }

  /** Full v-family search: encode corpus, ADC-score against `queries`,
    * take `cand` candidates per query, re-rank by exact cosine to `k`.
    * Output (query_id, neighbor_id, cos, rnk). */
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
    candidates
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.queries.SimilarityQueries.cosineSim(col("qe"), col("embedding")), 6)
          .as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id")))
        .cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("query_id", "rnk")
  }
}
