package graft.domain

/** K2 — the Monte-Carlo "openness" kernel (SURVEY.md §2.8).
  *
  * Reference semantics (`radius_model.R:97-199`): sample ⌈area·100⌉
  * uniform points in the receiver's reach box clamped to the field
  * (box `:114-127`, sampling `:130-131`); a point scores
  *   +1  if the receiver reaches it before the ball arrives and no
  *       defender reaches it first (ball time `:134`, defender reach
  *       `:138-146`, receiver reach `:149-166`)
  *   +0.2 bonus if the point lies within ±π/8 of the receiver's current
  *        heading (`:168-182`)
  *   −0.2·k if k > 1 defenders contest the point (`:186-195`)
  * and open_count is the sum.
  *
  * Determinism: the reference seeds per 50k-row chunk
  * (`radius_model.R:249`, future.seed=TRUE) so its numbers are not
  * reproducible row-by-row; we instead seed a SplitMix64/XorShift64 RNG
  * FROM THE ROW KEYS, making every row's score bit-reproducible across
  * runs, partitionings, and cluster sizes — the property SURVEY.md §5.5
  * requires. Parity with the reference is therefore distributional, not
  * bitwise (SURVEY.md §7.4.2).
  *
  * Engine portability (what makes the kernel ORACLE-REPLAYABLE): every
  * operation below is an exactly-specified IEEE-754 op a second engine
  * reproduces bit-for-bit —
  *  - SplitMix64's draw i is a PURE FUNCTION of (seed, i): state after i
  *    draws is seed + (i+1)·GOLDEN mod 2^64, so SQL replays draws with
  *    `generate_series`, no recursion;
  *  - distances use sqrt(dx²+dy²) (IEEE-exact ops), NOT `math.hypot`,
  *    whose extra-precision algorithm is JVM-specific in the last ulp;
  *  - the score accumulates in INTEGER FIFTHS (+5 open, +1 heading
  *    bonus, −k pile-up) and divides by 5.0 once at the end — summing
  *    inexact 0.2 doubles would make the total depend on visit order.
  */
object Openness {

  final case class Defender(x: Double, y: Double, s: Double)

  /** SplitMix64 — tiny, public-domain PRNG; full 64-bit avalanche per
    * draw, deterministic from the seed. */
  private final class SplitMix64(seed0: Long) {
    private var state = seed0
    def nextLong(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    /** uniform in [0, 1) */
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  /** SplitMix64's output function as a standalone 64-bit scrambler — the
    * portable per-row seed (replaces xxhash64, whose constants-and-lanes
    * pipeline is painful for a SQL oracle to reproduce; this is three
    * wrap-multiplies and three xors, which DuckDB replays in HUGEINT
    * arithmetic mod 2^64). */
  def mix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Openness score for one receiver-frame.
    *
    * @param vs    receiver speed (yd/s)
    * @param dir   receiver heading (radians)
    * @param px,py receiver position
    * @param defenders defender (x, y, speed) triples
    * @param vb    ball speed
    * @param fx,fy ball (thrower) position
    * @param seed  per-row deterministic seed — hash the row keys
    * @param reachTime seconds of reach considered (box half-width = s·T)
    */
  def openCount(vs: Double, dir: Double, px: Double, py: Double,
                defenders: Seq[Defender], vb: Double, fx: Double, fy: Double,
                seed: Long, reachTime: Double = 1.0): Double =
    openCount(vs, dir, px, py,
      defenders.map(_.x).toArray, defenders.map(_.y).toArray,
      defenders.map(_.s).toArray, vb, fx, fy, seed, reachTime)

  /** Primitive-array form: the kernel UDFs hand Spark `Array[Double]`
    * parameters directly, so the ~10⁴-sample loop runs over unboxed
    * arrays (the Seq overload above delegates here — one loop).
    *
    * The loop skips work that cannot change the score; every skip is
    * exact, so the result is bit-identical to evaluating every sample
    * against every defender with `atan2` and `%` (the replay the DuckDB
    * oracle runs, which therefore checks the skips independently):
    *  - Heading normalization. `atan2` lies in [−π, π], so
    *    `((ang % τ) + τ) % τ` is `a = ang + τ`, minus τ when `a ≥ τ`; that
    *    subtraction is exact by Sterbenz's lemma (τ ≤ a < 2τ), which is
    *    all `%` would compute. Per-row constants (box width, clamped
    *    speeds, normalized heading) are hoisted, same values.
    *  - Defender cull (only when `vb > 0` and finite; any other `vb`
    *    keeps every defender). The ball reaches no sample later than
    *    `tBallMax`, the farthest box corner's distance over `vb`; a
    *    defender whose distance to the box over its clamped speed,
    *    `tMin`, exceeds `tBallMax·(1+1e-9) + 1e-9` never reaches any
    *    sample by ball arrival, so it never counts. The box is padded by
    *    far more than the few ulps a rounded sample can fall outside it,
    *    and the relative margin is ~10⁷ times the few-ulp error of each
    *    rounded time, so a rounded `tDef ≤ tBall` test can never fire for
    *    a culled defender. A NaN bound keeps the defender.
    *  - Heading cone. With h = (cos θ, sin θ) of the normalized heading θ
    *    (not of `dir`: τ is 2π rounded, so for a large |dir| the `atan2`
    *    path compares against θ, which drifts from `dir` mod 2π) and v the
    *    sample's offset from the receiver, `c = (v·h)/|v|` is
    *    the cosine of their angle to ~1e-15. When `|v| > 1e-6` and `c` is
    *    more than 1e-9 from cos(π/8), the angle is ≥ 1e-9 from π/8 —
    *    far beyond the ~1e-14 error of the `atan2` path — so both paths
    *    agree and the bonus is decided without `atan2`. Inside that band,
    *    and for any NaN, the `atan2` path decides.
    */
  def openCount(vs: Double, dir: Double, px: Double, py: Double,
                dxs: Array[Double], dys: Array[Double], dss: Array[Double],
                vb: Double, fx: Double, fy: Double,
                seed: Long, reachTime: Double): Double = {
    // reach box, clamped to the field (radius_model.R:114-127); a
    // zero-speed receiver has a zero-area box ⇒ zero samples ⇒ 0.0,
    // matching the reference's ceil(area·100) sample count
    val reach = vs * reachTime
    val x0 = math.max(0.0, px - reach)
    val x1 = math.min(Interception.FieldX, px + reach)
    val y0 = math.max(0.0, py - reach)
    val y1 = math.min(Interception.FieldY, py + reach)
    val area = (x1 - x0) * (y1 - y0)
    val n = math.ceil(area * 100.0).toInt
    if (n <= 0) return 0.0

    def dist(ax: Double, ay: Double, bx: Double, by: Double): Double =
      math.sqrt((ax - bx) * (ax - bx) + (ay - by) * (ay - by))

    val w = x1 - x0
    val h = y1 - y0
    val vsC = math.max(vs, 1e-9)
    val dirN = ((dir % Tau) + Tau) % Tau
    val hx = math.cos(dirN)
    val hy = math.sin(dirN)

    // defenders that can reach some sample by ball arrival. The box is
    // inverted when an off-field receiver's reach misses the field on
    // both axes, so order its corners before padding.
    val m = dxs.length
    val cx = new Array[Double](m)
    val cy = new Array[Double](m)
    val cs = new Array[Double](m)
    var kept = 0
    val cull = vb > 0 && !vb.isInfinite
    val pad = 1e-9 * (1.0 + math.max(math.max(math.abs(x0), math.abs(x1)),
                                      math.max(math.abs(y0), math.abs(y1))))
    val bx0 = math.min(x0, x1) - pad
    val bx1 = math.max(x0, x1) + pad
    val by0 = math.min(y0, y1) - pad
    val by1 = math.max(y0, y1) + pad
    val ballFar = math.max(math.max(dist(bx0, by0, fx, fy), dist(bx0, by1, fx, fy)),
                           math.max(dist(bx1, by0, fx, fy), dist(bx1, by1, fx, fy)))
    val tBallMax = ballFar / vb
    val tBound = tBallMax * (1 + 1e-9) + 1e-9
    var d = 0
    while (d < m) {
      val sd = math.max(dss(d), 1e-9)
      val ex = math.max(math.max(bx0 - dxs(d), dxs(d) - bx1), 0.0)
      val ey = math.max(math.max(by0 - dys(d), dys(d) - by1), 0.0)
      val tMin = math.sqrt(ex * ex + ey * ey) / sd
      if (!(cull && tMin > tBound)) {
        cx(kept) = dxs(d); cy(kept) = dys(d); cs(kept) = sd
        kept += 1
      }
      d += 1
    }

    val rng = new SplitMix64(seed)
    var score5 = 0L // integer fifths — exact, order-independent
    var i = 0
    while (i < n) {
      val sx = x0 + rng.nextDouble() * w
      val sy = y0 + rng.nextDouble() * h
      // ball flight time to the sampled point (radius_model.R:134)
      val tBall = dist(sx, sy, fx, fy) / vb
      // receiver reach (radius_model.R:149-166)
      val tRecv = dist(sx, sy, px, py) / vsC
      if (tRecv <= tBall) {
        // defenders contesting: reach the point by ball arrival
        // (radius_model.R:138-146)
        var k = 0
        var j = 0
        while (j < kept) {
          if (dist(sx, sy, cx(j), cy(j)) / cs(j) <= tBall) k += 1
          j += 1
        }
        if (k == 0) {
          score5 += 5
          // heading bonus (radius_model.R:168-182)
          if (inCone(sx - px, sy - py, hx, hy, dirN)) score5 += 1
        } else if (k > 1) {
          score5 -= k // contested pile-up penalty (radius_model.R:186-195)
        }
      }
      i += 1
    }
    score5 / 5.0
  }

  private val Tau = 2 * math.Pi
  private val HalfCone = math.Pi / 8
  private val ConeHi = math.cos(HalfCone) + 1e-9
  private val ConeLo = math.cos(HalfCone) - 1e-9

  /** Whether offset (vx, vy) lies within ±π/8 of the heading `dirN`
    * (normalized to [0, τ)), whose unit vector is (hx, hy): decided by
    * the cosine outside the 1e-9 band around cos(π/8), by the `atan2`
    * circular distance inside it (see the `openCount` scaladoc). */
  private[domain] def inCone(vx: Double, vy: Double,
                             hx: Double, hy: Double, dirN: Double): Boolean = {
    val len = math.sqrt(vx * vx + vy * vy)
    val dot = vx * hx + vy * hy
    if (len > 1e-6 && dot > ConeHi * len) true
    else if (len > 1e-6 && dot < ConeLo * len) false
    else {
      var a = math.atan2(vy, vx) + Tau
      if (a >= Tau) a -= Tau
      val d0 = math.abs(a - dirN)
      math.min(d0, Tau - d0) <= HalfCone
    }
  }
}
