package graft.plans

/** The one hash family behind `count_min`, `ams_sketch` and `bloom_agg`:
  * affine cell rows and cubic sign rows modulo the Mersenne prime 2³¹−1,
  * all in BIGINT arithmetic, so the DuckDB oracle replays every cell, sign
  * and Bloom bit verbatim (a28/a31/a32/a35 hash-check sketch CONTENT, not
  * just estimates). The constants are classic public-domain LCG
  * multipliers and increments, all below 2³¹.
  *
  * The key is reduced mod P before any multiply: `k * a` on a raw key above
  * ~2³² silently wraps in JVM long arithmetic, while the oracle's identical
  * BIGINT expression raises an overflow error. With the pre-reduction every
  * intermediate stays below 2⁶² for any long key on both engines; values
  * for keys in [0, P) are those of the unreduced formula.
  *
  * Sign rows are degree-3 polynomials, the 4-wise-independent family the
  * AMS variance bound needs. An affine (2-wise) sign was tried first and
  * rejected by measurement: on dense consecutive orderkeys the sign
  * products s(k)·s(k+δ) are near-deterministic per δ, and the a31 estimate
  * landed 42 % under the true join size at sf0.01; cubic signs give 0.8 %.
  */
object SketchHash {
  val P: Long = 2147483647L

  /** Affine cell rows `(a_d, b_d)`: cell = `((k mod P)·a_d + b_d) mod P mod width`. */
  val A: Array[Long] = Array(1103515245L, 69069L, 1664525L, 22695477L, 1566083941L)
  val B: Array[Long] = Array(12345L, 1L, 1013904223L, 1L, 3L)

  /** Count-Min and Bloom hash with the first four rows; AMS with all five. */
  val UnsignedRows: Int = 4

  /** Sign rows: coefficients (c3, c2, c1, c0) of row d at index d. */
  private val S3 = Array(1181783497L, 214013L, 134775813L, 16843009L, 48271L)
  private val S2 = Array(69621L, 2531011L, 1L, 826366247L, 16807L)
  private val S1 = Array(1103515245L, 69069L, 1664525L, 22695477L, 69621L)
  private val S0 = Array(12345L, 1L, 1013904223L, 1L, 7L)

  @inline private def reduce(k: Long): Long = ((k % P) + P) % P

  /** Row `d`'s cell in [0, width) for any long key. */
  @inline def cell(k: Long, d: Int, width: Int): Int =
    ((reduce(k) * A(d) + B(d)) % P % width).toInt

  /** ±1 from the low bit of row `d`'s cubic (Horner, mod P after every step). */
  @inline def sign(k: Long, d: Int): Long = {
    val kk = reduce(k)
    val v = (((S3(d) * kk + S2(d)) % P * kk + S1(d)) % P * kk + S0(d)) % P
    v % 2 * 2 - 1
  }

  /** `(VALUES ...) AS h(d, a, b)`: the affine rows as an oracle SQL relation. */
  def affineRowsSql(depth: Int): String =
    rowsSql(depth, "a, b", d => Seq(A(d), B(d)))

  /** `(VALUES ...) AS h(d, a, b, s3, s2, s1, s0)`: affine plus sign rows. */
  def signedRowsSql(depth: Int): String =
    rowsSql(depth, "a, b, s3, s2, s1, s0",
      d => Seq(A(d), B(d), S3(d), S2(d), S1(d), S0(d)))

  private def rowsSql(depth: Int, cols: String, row: Int => Seq[Long]): String =
    (0 until depth).map(d => (s"CAST($d AS BIGINT)" +: row(d)).mkString("(", ", ", ")"))
      .mkString("(VALUES ", ", ", s") AS h(d, $cols)")
}
