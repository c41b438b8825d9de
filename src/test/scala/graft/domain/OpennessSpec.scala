package graft.domain

import org.scalatest.funsuite.AnyFunSuite

class OpennessSpec extends AnyFunSuite {
  import Openness._

  private val base = (6.0, 0.5, 40.0, 26.0, 20.0, 60.0, 26.0, 42L)

  private def score(defenders: Seq[Defender], seed: Long = 42L,
                    vs: Double = 6.0, px: Double = 40.0, py: Double = 26.0): Double =
    openCount(vs, 0.5, px, py, defenders, 20.0, 60.0, 26.0, seed)

  test("deterministic: same seed twice gives the identical score") {
    val d = Seq(Defender(42, 27, 7.0))
    assert(score(d) == score(d))
  }

  test("different seeds give different (but close) scores") {
    val a = score(Nil, seed = 1L)
    val b = score(Nil, seed = 2L)
    assert(a != b)
    // Monte-Carlo estimates of the same integral: within a few percent
    assert(math.abs(a - b) / math.max(a, b) < 0.1)
  }

  test("adding a defender never increases openness") {
    val none = score(Nil)
    val one = score(Seq(Defender(42, 27, 7.0)))
    val two = score(Seq(Defender(42, 27, 7.0), Defender(41, 25, 7.5)))
    assert(one <= none)
    assert(two <= one)
  }

  test("a defender standing on the receiver erases nearly all openness") {
    val none = score(Nil)
    val smothered = score(Seq(Defender(40.0, 26.0, 12.0)))
    assert(smothered < none * 0.2)
  }

  test("defender-free score matches the analytic reachable area") {
    // with no defenders, every sampled point the receiver beats the ball
    // to scores >= 1; for a receiver far from the thrower, receiver time
    // < ball time holds for ~the whole small reach box, so
    // score/samples ∈ [1, 1.2] (the 0.2 heading bonus on a π/4 wedge).
    val vs = 3.0
    val reach = vs * 1.0
    val area = (2 * reach) * (2 * reach)
    val n = math.ceil(area * 100).toInt
    val s = openCount(vs, 0.5, 20.0, 26.0, Nil, 25.0, 110.0, 26.0, 7L)
    val perSample = s / n
    assert(perSample >= 0.95 && perSample <= 1.25, s"perSample=$perSample")
  }

  test("zero-speed receiver has zero openness (degenerate box)") {
    assert(score(Nil, vs = 0.0) == 0.0)
  }

  test("heading cone: the cosine shortcut decides as atan2 does at the ±π/8 edge") {
    // offsets within a few 1e-9 rad of the cone edge land on both sides
    // of the shortcut's fallback band; the decision must match the
    // reference's atan2/fmod formula on every one of them
    val tau = 2 * math.Pi
    val rng = new scala.util.Random(7)
    for (_ <- 0 until 20000) {
      val dir = rng.nextDouble() * 40 - 10
      val dirN = ((dir % tau) + tau) % tau
      val side = if (rng.nextBoolean()) 1.0 else -1.0
      val edge = dir + side * math.Pi / 8 + (rng.nextDouble() - 0.5) * 2e-8
      val r = if (rng.nextInt(10) == 0) rng.nextDouble() * 2e-6 else math.exp(rng.nextDouble() * 8 - 4)
      val (vx, vy) = (r * math.cos(edge), r * math.sin(edge))
      val ang = math.atan2(vy, vx)
      val d0 = math.abs(((ang % tau) + tau) % tau - ((dir % tau) + tau) % tau)
      val want = math.min(d0, tau - d0) <= math.Pi / 8
      assert(inCone(vx, vy, math.cos(dirN), math.sin(dirN), dirN) == want,
        s"dir=$dir vx=$vx vy=$vy")
    }
  }
}
