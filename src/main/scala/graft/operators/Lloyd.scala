package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The deterministic Lloyd (k-means) fit behind the three ANN
  * quantizers — IvfAnn's coarse centroids, PqAnn's codebooks and
  * IvfPqAnn's residual codebooks — and its SQL twin, which the DuckDB
  * oracles replay: each Scala definition here that the oracles mirror
  * has its `…Sql` counterpart next to it, so the seed order, the
  * micro-unit rounding and the round itself are written once per
  * engine.
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

  /** A number in exact integer micro-units, half away from zero — the
    * v5 rounding scheme. */
  def microCol(x: Column): Column =
    when(x.cast("double") >= 0, floor(x.cast("double") * QScale + 0.5))
      .otherwise(-floor(-x.cast("double") * QScale + 0.5)).cast("long")

  /** [[microCol]] over every element of an array. Stays in whole-stage
    * codegen (builtin transform, no UDF). */
  def quantCol(c: Column): Column = transform(c, microCol(_))

  /** A double in micro-units, same rounding as [[microCol]], on the
    * driver. */
  def microOf(v: Double): Long =
    if (v >= 0) math.floor(v * QScale + 0.5).toLong
    else -math.floor(-v * QScale + 0.5).toLong

  /** SQL twin of [[microOf]] over a DOUBLE expression. */
  def microSql(v: String): String =
    s"""CASE WHEN ($v) >= 0 THEN CAST(floor(($v)*1000000.0 + 0.5) AS BIGINT)
       |     ELSE -CAST(floor(-($v)*1000000.0 + 0.5) AS BIGINT) END""".stripMargin

  /** SQL twin of [[quantCol]] over a list expression. */
  def quantSql(list: String): String =
    s"list_transform($list, x -> ${microSql("CAST(x AS DOUBLE)")})"

  /** The seed order: (vec_id·1103515245 + 12345) mod 2^31, a
    * pseudo-random ranking both engines compute. Overflow throws, as
    * Spark's ANSI arithmetic does on the same expression. */
  def seedKey(vecId: Long): Long =
    Math.addExact(Math.multiplyExact(vecId, 1103515245L), 12345L) % 2147483648L

  /** SQL twin of [[seedKey]] with its vec_id tie-break, as an ORDER BY
    * list. */
  def seedOrderSql(vecId: String): String =
    s"($vecId*1103515245 + 12345) % 2147483648, $vecId"

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

  /** SQL twin of [[sqDist]] between two BIGINT lists. */
  def sqDistSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(list_zip($a, $b),
       |  p -> (CAST(p[1] AS BIGINT) - CAST(p[2] AS BIGINT))
       |     * (CAST(p[1] AS BIGINT) - CAST(p[2] AS BIGINT)))), (x, y) -> x + y)""".stripMargin

  /** The cell whose micro centroid is nearest to v[off, off+len) by
    * [[sqDist]]; ties go to the lowest cell, as in [[nearestSql]]. */
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
    * stored centroid component, in Scala and as SQL over column names. */
  final case class Mean[T](seed: Long => T, of: (Long, Long) => T,
                           seedSql: String => String, ofSql: (String, String) => String)

  /** IVF: double centroids. */
  val DoubleMean: Mean[Double] =
    Mean(_.toDouble / QScale, (s, n) => s.toDouble / (n.toDouble * QScale),
      x => s"CAST($x AS DOUBLE)/1000000.0",
      (s, n) => s"CAST($s AS DOUBLE)/(CAST($n AS DOUBLE)*1000000.0)")

  /** PQ: centroids re-quantized to micro-units, so assignment and ADC
    * scoring stay integer arithmetic. */
  val MicroMean: Mean[Long] =
    Mean(identity, (s, n) => microOf(s.toDouble / (n.toDouble * QScale)),
      identity, (s, n) => microSql(DoubleMean.ofSql(s, n)))

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
    val rows = graft.Caches.pin(vectors.sparkSession, vectors.as[(Long, Array[Long])].rdd)
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
    } finally graft.Caches.release(rows)
  }

  private def addAll(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
    a
  }

  /** The block slicing of [[fit]] in SQL: one row (vec_id, sub, v) per
    * row of `rel` and block, v the sub-th `dsub`-long slice of `list`. */
  def blocksSql(rel: String, list: String, blocks: Int, dsub: Int): String =
    s"""SELECT vec_id, CAST(t.m AS INT) AS sub,
       |         $list[t.m*$dsub + 1 : t.m*$dsub + $dsub] AS v
       |  FROM $rel CROSS JOIN range($blocks) t(m)""".stripMargin

  /** SQL twin of a fit's `assign`: every row of `vectors` (vec_id, sub,
    * v, …) with the cell of `cells` (sub, cell, c) nearest by
    * `dist(v, c)`, and that distance d. Ties go to the lower cell. One
    * block is a cross join: as an equi-join on the one sub value, DuckDB
    * builds the hash table over the vectors and probes it with the few
    * cells, and v4's oracle took 1.4 s instead of 0.3 s at 500 vectors
    * (4 cores). */
  def nearestSql(vectors: String, cells: String, blocks: Int)
                (dist: (String, String) => String): String = {
    val join = if (blocks == 1) s"CROSS JOIN $cells c" else s"JOIN $cells c ON r.sub = c.sub"
    s"""SELECT * EXCLUDE (rn) FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
       |    FROM (SELECT r.*, c.cell, ${dist("r.v", "c.c")} AS d
       |          FROM $vectors r $join))
       |  WHERE rn = 1""".stripMargin
  }

  /** SQL twin of [[fit]]: the CTEs `${p}c0` (seeds) to `${p}c$iters`,
    * each (sub, cell, c), over `vectors`, the [[blocksSql]] slicing of
    * the fit's vectors into `blocks` slices `dsub` long. `dist` is
    * [[nearestSql]]'s; the prefix `p` lets two fits share one WITH.
    * Every CTE of a round is AS MATERIALIZED: DuckDB may inline a
    * centroid CTE that is read twice (by the next assignment and by the
    * carry-forward of empty cells) and recompute the chain before it; at
    * 60k vectors (sf3) the replicated intermediates overran a 75 GB
    * spill disk. Materialized sums and means also cut v11's oracle from
    * 2.5 s to 2.1 s at sf0.1 (4 cores). */
  def fitSql(p: String, vectors: String, k: Int, blocks: Int, dsub: Int, iters: Int,
             mean: Mean[_])(dist: (String, String) => String): String = {
    val seeds =
      s"""${p}c0 AS MATERIALIZED (
         |  SELECT sub, CAST(rn - 1 AS INT) AS cell,
         |         list_transform(v, x -> ${mean.seedSql("x")}) AS c
         |  FROM (SELECT sub, v, row_number() OVER (
         |          PARTITION BY sub ORDER BY ${seedOrderSql("vec_id")}) AS rn
         |        FROM $vectors)
         |  WHERE rn <= $k)""".stripMargin
    val rounds = (1 to iters).map { it =>
      s"""${p}a$it AS MATERIALIZED (
         |  ${nearestSql(vectors, s"${p}c${it - 1}", blocks)(dist)}),
         |${p}s$it AS MATERIALIZED (
         |  SELECT sub, cell, i, sum(v[i + 1]) AS s, count(*) AS n
         |  FROM ${p}a$it CROSS JOIN range($dsub) t(i) GROUP BY sub, cell, i),
         |${p}n$it AS MATERIALIZED (
         |  SELECT sub, cell, list(${mean.ofSql("s", "n")} ORDER BY i) AS c
         |  FROM ${p}s$it GROUP BY sub, cell),
         |${p}c$it AS MATERIALIZED (
         |  SELECT p.sub, p.cell, coalesce(nn.c, p.c) AS c
         |  FROM ${p}c${it - 1} p LEFT JOIN ${p}n$it nn USING (sub, cell))""".stripMargin
    }
    (seeds +: rounds).mkString(",\n")
  }
}
