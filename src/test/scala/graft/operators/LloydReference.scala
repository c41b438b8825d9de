package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

// The three Lloyd fits as they were before Lloyd.fit: one DataFrame per
// round (assign UDF, posexplode, groupBy, Long sum/count, collect) and
// the empty-cell rule applied on the driver. They are the reference the
// shared fit must match bit for bit (LloydProps), so keep them as they
// are.

object IvfReference {

  val LloydIters = 5

  private val QScale = 1000000.0

  /** Exact integer micro-units, half-away-from-zero — the v5 rounding
    * scheme, reproduced by DuckDB's floor(v+0.5) mirror. Stays in
    * whole-stage codegen (builtin transform, no UDF). */
  private def quantCol(c: Column): Column =
    transform(c, x =>
      when(x.cast("double") >= 0, floor(x.cast("double") * QScale + 0.5))
        .otherwise(-floor(-x.cast("double") * QScale + 0.5)).cast("long"))

  /** The nearest-centroid loop both assignment UDFs share: argmin cell
    * by squared-L2 over v_i = r_i/1e6, left-to-right fold, ties to the
    * lowest cell id — the exact comparison DuckDB replays. ONE
    * implementation so the drift monitor's assignment can never
    * silently diverge from the index's (the v17 oracle gate depends on
    * bit-for-bit parity between the two). */
  private def nearest(cents: Array[Array[Double]],
                      rq: Seq[Long]): (Int, Double) = {
    var best = 0
    var bestD = Double.MaxValue
    var cIdx = 0
    while (cIdx < cents.length) {
      val c = cents(cIdx)
      var d = 0.0
      val n = math.min(c.length, rq.length)
      var i = 0
      while (i < n) {
        val v = rq(i).toDouble / 1000000.0 - c(i)
        d += v * v
        i += 1
      }
      if (d < bestD) { bestD = d; best = cIdx }
      cIdx += 1
    }
    (best, bestD)
  }

  private def assignUdf(cents: Array[Array[Double]]) =
    udf { (rq: Seq[Long]) => nearest(cents, rq)._1 }

  def fitCentroids(corpus: DataFrame, nCells: Int,
                   iters: Int = LloydIters): Array[Array[Double]] = {
    // cache the quantized frame for the fit's iters+1 driver-coordinated
    // passes (round 13): uncached, every Lloyd step re-ran the scan +
    // quantization lineage — iters+1 redundant corpus reads for a frame
    // that is two narrow columns (guide §5: reuse across actions is the
    // case caching exists for). Values are identical either way; the
    // cache is released before returning.
    val rq = corpus.select(col("vec_id"), quantCol(col("embedding")).as("rq"))
      .cache()
    var cents: Array[Array[Double]] = rq
      .withColumn("h", (col("vec_id") * lit(1103515245L) + lit(12345L)) % lit(2147483648L))
      .orderBy(col("h"), col("vec_id"))
      .limit(nCells)
      .select("rq").collect()
      .map(_.getSeq[Long](0).toArray.map(_.toDouble / QScale))
    var it = 0
    while (it < iters) {
      val sums = rq
        .withColumn("cell", assignUdf(cents)(col("rq")))
        .select(col("cell"), posexplode(col("rq")).as(Seq("pos", "r")))
        .groupBy("cell", "pos")
        .agg(sum("r").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { row =>
        val cell = row.getInt(0)
        val pos = row.getInt(1)
        val s = row.getLong(2)
        val n = row.getLong(3)
        next(cell)(pos) = s.toDouble / (n.toDouble * QScale)
      }
      cents = next
      it += 1
    }
    rq.unpersist(blocking = false)
    cents
  }
}

object PqReference {

  val M = 8
  val K = 16
  val PqIters = 3

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
}

object IvfPqReference {
  import PqReference._

  private val QScale = 1000000.0

  def fitResidualCodebooks(res: DataFrame): Array[Array[Array[Long]]] = {
    val seeds = res
      .withColumn("h", (col("vec_id") * lit(1103515245L) + lit(12345L)) % lit(2147483648L))
      .orderBy(col("h"), col("vec_id"))
      .limit(K)
      .select("res").collect()
      .map(_.getSeq[Long](0).toArray)
    val dim = seeds.head.length
    val dsub = dim / M
    var cm: Array[Array[Array[Long]]] = Array.tabulate(M, K, dsub) {
      (m, k, i) => seeds(k)(m * dsub + i)
    }
    var it = 0
    while (it < PqIters) {
      val enc = encodeUdf(cm)
      val sums = res
        .withColumn("codes", enc(col("res")))
        .select(posexplode(col("res")).as(Seq("pos", "r")), col("codes"))
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
        next(sub)(cell)(pos) = microOf(s.toDouble / (n.toDouble * QScale))
      }
      cm = next
      it += 1
    }
    cm
  }
}
