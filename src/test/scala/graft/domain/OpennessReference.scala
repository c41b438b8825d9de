package graft.domain

/** The openness kernel as a plain loop: every sample is tested against
  * every defender, and the heading bonus always goes through `atan2` and
  * `%`. It is the reference the pruned `Openness.openCount` must match
  * bit for bit (OpennessProps, PipelineSpec), so keep it as it is.
  */
object OpennessReference {

  private final class SplitMix64(seed0: Long) {
    private var state = seed0
    def nextLong(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  def openCount(vs: Double, dir: Double, px: Double, py: Double,
                dxs: Array[Double], dys: Array[Double], dss: Array[Double],
                vb: Double, fx: Double, fy: Double,
                seed: Long, reachTime: Double): Double = {
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

    val rng = new SplitMix64(seed)
    var score5 = 0L
    var i = 0
    while (i < n) {
      val sx = x0 + rng.nextDouble() * (x1 - x0)
      val sy = y0 + rng.nextDouble() * (y1 - y0)
      val tBall = dist(sx, sy, fx, fy) / vb
      val tRecv = dist(sx, sy, px, py) / math.max(vs, 1e-9)
      if (tRecv <= tBall) {
        var k = 0
        var j = 0
        while (j < dxs.length) {
          val tDef = dist(sx, sy, dxs(j), dys(j)) / math.max(dss(j), 1e-9)
          if (tDef <= tBall) k += 1
          j += 1
        }
        if (k == 0) {
          score5 += 5
          val ang = math.atan2(sy - py, sx - px)
          val diff = {
            val tau = 2 * math.Pi
            val d0 = math.abs(((ang % tau) + tau) % tau - ((dir % tau) + tau) % tau)
            math.min(d0, tau - d0)
          }
          if (diff <= math.Pi / 8) score5 += 1
        } else if (k > 1) {
          score5 -= k
        }
      }
      i += 1
    }
    score5 / 5.0
  }
}
