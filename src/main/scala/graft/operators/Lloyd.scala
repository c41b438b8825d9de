package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The deterministic Lloyd (k-means) fit behind the three ANN
  * quantizers — IvfAnn's coarse centroids, PqAnn's codebooks and
  * IvfPqAnn's residual codebooks — and the micro-unit arithmetic they
  * share with the DuckDB oracle replays.
  *
  * Vectors are exact integer micro-units ([[quantCol]]). The seeds are
  * the k lowest rows under [[seedKey]], ties to the lower vec_id. Each
  * round assigns every vector, block by block, to its nearest cell and
  * moves each (block, cell) to the mean s/(n·1e6) of its members, where
  * s is the exact Long sum of their micro components and n their count.
  * Long addition is exact and order-free, so neither the partitioning
  * nor the merge order can move a centroid bit, and the one float op of
  * a round runs on the driver. A cell with no members keeps its
  * centroid. IVF has one block spanning the vector; PQ splits it into M
  * contiguous blocks with a codebook each.
  *
  * Scale shape: the vectors are cached once as primitive arrays, and
  * each round is one job — a `mapPartitions` into dense Long sums and
  * counts (blocks · cells · dsub longs per partition, whatever the
  * corpus size) merged by `treeReduce`. No row is shuffled and no
  * DataFrame is planned per round. Over a handful of input partitions
  * a round is a single stage; over more, `treeReduce` adds a combine
  * level that moves only the per-partition partial arrays.
  */
object Lloyd {

  val QScale = 1000000.0

  /** Exact integer micro-units, half away from zero — the v5 rounding
    * scheme, reproduced by DuckDB's floor(v+0.5) mirror. Stays in
    * whole-stage codegen (builtin transform, no UDF). */
  def quantCol(c: Column): Column =
    transform(c, x =>
      when(x.cast("double") >= 0, floor(x.cast("double") * QScale + 0.5))
        .otherwise(-floor(-x.cast("double") * QScale + 0.5)).cast("long"))

  /** A double in micro-units, same rounding as [[quantCol]], on the
    * driver. */
  def microOf(v: Double): Long =
    if (v >= 0) math.floor(v * QScale + 0.5).toLong
    else -math.floor(-v * QScale + 0.5).toLong

  /** The seed order: (vec_id·1103515245 + 12345) mod 2^31, a
    * pseudo-random ranking both engines compute. Overflow throws, as
    * Spark's ANSI arithmetic does on the same expression. */
  def seedKey(vecId: Long): Long =
    Math.addExact(Math.multiplyExact(vecId, 1103515245L), 12345L) % 2147483648L

  /** Exact integer squared-L2 between v[off, off+len) and c (over the
    * shorter of the two). */
  def sqDist(v: Array[Long], off: Int, len: Int, c: Array[Long]): Long = {
    val n = math.min(len, c.length)
    var d = 0L
    var i = 0
    while (i < n) {
      val diff = v(off + i) - c(i)
      d += diff * diff
      i += 1
    }
    d
  }

  /** The cell whose micro centroid is nearest to v[off, off+len) by
    * [[sqDist]]; ties go to the lowest cell, as in the oracle's idist
    * ordering. */
  def nearestMicro(cells: Array[Array[Long]], v: Array[Long],
                   off: Int, len: Int): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cells.length) {
      val d = sqDist(v, off, len, cells(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** How a seed's micro component and a round's (sum, count) become a
    * stored centroid component. */
  final case class Mean[T](seed: Long => T, of: (Long, Long) => T)

  /** IVF: double centroids. */
  val DoubleMean: Mean[Double] =
    Mean(_.toDouble / QScale, (s, n) => s.toDouble / (n.toDouble * QScale))

  /** PQ: centroids re-quantized to micro-units, so assignment and ADC
    * scoring stay integer arithmetic. */
  val MicroMean: Mean[Long] =
    Mean(identity, (s, n) => microOf(s.toDouble / (n.toDouble * QScale)))

  /** Fit `blocks` codebooks of at most k cells on `vectors`
    * (vec_id, array<long> micro-units). `assign(cells, v, off, len)`
    * picks the cell of v[off, off+len) among one block's centroids.
    * Returns centroids(block)(cell)(component); a corpus of fewer than
    * k rows gets one cell per row. */
  def fit[T: ClassTag](vectors: DataFrame, k: Int, blocks: Int, iters: Int,
                       mean: Mean[T])
                      (assign: (Array[Array[T]], Array[Long], Int, Int) => Int)
      : Array[Array[Array[T]]] = {
    import vectors.sparkSession.implicits._
    val rows = vectors.as[(Long, Array[Long])].rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds = rows.takeOrdered(k)(Ordering.by { case (id, _) => (seedKey(id), id) })
        .map(_._2)
      val cells = seeds.length
      val dim = seeds.headOption.fold(0)(_.length)
      val dsub = dim / blocks
      var cents = Array.tabulate(blocks, cells, dsub) {
        (b, c, i) => mean.seed(seeds(c)(b * dsub + i))
      }
      var it = 0
      while (it < iters && cells > 0) {
        val cur = cents
        val (s, n) = rows.mapPartitions { part =>
          val s = new Array[Long](blocks * cells * dsub)
          val n = new Array[Long](blocks * cells)
          part.foreach { case (id, v) =>
            require(v.length == dim,
              s"vec_id $id has ${v.length} components, the seeds have $dim")
            var b = 0
            while (b < blocks) {
              val j = b * cells + assign(cur(b), v, b * dsub, dsub)
              n(j) += 1
              var i = 0
              while (i < dsub) {
                s(j * dsub + i) = Math.addExact(s(j * dsub + i), v(b * dsub + i))
                i += 1
              }
              b += 1
            }
          }
          Iterator.single((s, n))
        }.treeReduce { case ((s1, n1), (s2, n2)) => (addAll(s1, s2), addAll(n1, n2)) }
        cents = Array.tabulate(blocks, cells) { (b, c) =>
          val j = b * cells + c
          if (n(j) == 0) cur(b)(c)
          else Array.tabulate(dsub)(i => mean.of(s(j * dsub + i), n(j)))
        }
        it += 1
      }
      cents
    } finally rows.unpersist(blocking = false)
  }

  private def addAll(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
    a
  }
}
