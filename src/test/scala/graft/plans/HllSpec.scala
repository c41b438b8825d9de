package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The HyperLogLog aggregate's semantics, checked against exact distinct
  * counts on real table data (a29_hll_distinct's DuckDB oracle checks
  * REGISTER CONTENT + the fixed-point estimate; this spec checks the
  * sketch's statistical read path and merge algebra). */
class HllSpec extends SparkSpec {

  private val P = 6
  private val M = 1 << P

  private lazy val li =
    graft.Tables.load(spark, sfDir, "lineitem").select("l_orderkey").cache()

  private lazy val regs: Array[Long] =
    li.agg(expr(s"hll_sketch(l_orderkey, $P)")).head().getSeq[Long](0).toArray

  private def estimate(r: Array[Long]): Long =
    HllAgg.estimate(P, r.map(m => BigInt(1) << (59 - m.toInt)).sum)

  test("registers match a driver-side recompute of the same hash math") {
    val expected = new Array[Long](M)
    li.distinct().collect().map(_.getLong(0)).foreach { k =>
      val h = graft.domain.Openness.mix64(k)
      val j = (h & (M - 1)).toInt
      val w = h >>> P
      val rho = if (w == 0L) 64 - P + 1
                else java.lang.Long.numberOfLeadingZeros(w) - P + 1
      if (rho > expected(j)) expected(j) = rho.toLong
    }
    assert(regs.toSeq == expected.toSeq, "register file diverged")
  }

  test("raw estimate lands within 3 standard errors of the true cardinality") {
    val n = li.distinct().count()
    // deterministic data + fixed hash: the observed error is a constant
    // of the dataset; 3·(1.04/√64) ≈ 39% is the generous outer bound —
    // the point of the assert is catching hash/rank regressions, which
    // shift the estimate far outside it. Raw estimator applies: the
    // fixture cardinalities sit well above the 5m/2 = 160 small-range
    // cutoff where production HLL would switch to linear counting.
    assert(n > 5 * M / 2, s"fixture too small for the raw estimator ($n)")
    val est = estimate(regs).toDouble
    assert(math.abs(est - n) / n < 0.39,
      s"estimate $est vs true $n: off by ${math.abs(est - n) / n}")
  }

  test("merge is element-wise max: union sketch == max of part sketches") {
    val Seq(a, b) = Seq(0, 1).map { side =>
      li.filter(pmod(col("l_orderkey"), lit(2)) === side)
        .agg(expr(s"hll_sketch(l_orderkey, $P)"))
        .head().getSeq[Long](0).toArray
    }
    val merged = a.zip(b).map { case (x, y) => math.max(x, y) }
    assert(merged.toSeq == regs.toSeq,
      "merge is not element-wise max over a disjoint split")
  }

  test("idempotent under re-delivery: sketch of data ∪ data == sketch of data") {
    val doubled = li.unionAll(li)
      .agg(expr(s"hll_sketch(l_orderkey, $P)")).head().getSeq[Long](0).toArray
    assert(doubled.toSeq == regs.toSeq,
      "duplicate rows changed the register file — max lost idempotence")
  }

  test("union algebra: max-merged registers estimate the union cardinality") {
    // a30's claim in miniature: the union estimate from zip_with-max'd
    // register files must (a) equal the estimate of sketching the
    // unioned data directly — exact, by merge associativity — and
    // (b) land within the same 3σ band of the true union cardinality
    val Seq(a, b) = Seq(0, 1).map { side =>
      li.filter(pmod(col("l_orderkey"), lit(2)) === side)
        .agg(expr(s"hll_sketch(l_orderkey, $P)"))
        .head().getSeq[Long](0).toArray
    }
    val merged = a.zip(b).map { case (x, y) => math.max(x, y) }
    assert(estimate(merged) == estimate(regs),
      "union-of-sketches estimate != sketch-of-union estimate")
    val n = li.distinct().count()
    assert(math.abs(estimate(merged).toDouble - n) / n < 0.39)
  }

  test("range correction: linear counting fires inside the band, lands near truth") {
    // the published est_corrected/band columns (a29/a30) in miniature:
    // 7 distinct keys put the raw estimator deep in the small-range
    // band; the table-driven linear-counting branch must fire and land
    // at ~the true cardinality where the raw estimator is ~6x over
    val regs7 = HllAgg.sketchOf(1L to 7L, P)
    val raw = estimate(regs7.map(_.toLong))
    val v = regs7.count(_ == 0)
    assert(raw <= HllAgg.lcThreshold(P) && v > 0,
      s"fixture drifted out of the small-range band (raw=$raw, V=$v)")
    val corr = HllAgg.corrected(P, raw, v)
    assert(corr == math.floor(M * math.log(M.toDouble / v)).toLong,
      "corrected estimate != the table's floor(m*ln(m/V))")
    assert(math.abs(corr - 7L) <= 2, s"linear counting missed truth: $corr vs 7")
    assert(raw > 3 * corr, s"raw estimator unexpectedly unbiased here ($raw)")
    // outside the band, raw passes through untouched
    assert(HllAgg.corrected(P, 1000L, 3) == 1000L)
    // empty sketch: V = m, table gives ln(1) = 0
    assert(HllAgg.corrected(P, estimate(new Array[Long](M)), M) == 0L)
  }

  test("serde roundtrip preserves the buffer bit-for-bit") {
    val agg = HllAgg(org.apache.spark.sql.catalyst.expressions.Literal(1L), P)
    val buf = regs.map(_.toByte)
    assert(agg.deserialize(agg.serialize(buf)).toSeq == buf.toSeq)
  }
}
