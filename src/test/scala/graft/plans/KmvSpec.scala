package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The KMV/theta sketch's semantics, checked against exact set math on
  * real table data (a33/a34's DuckDB oracles check register content and
  * every estimate; this spec checks the statistical read path, the
  * merge algebra, and the set-operation estimators' accuracy). */
class KmvSpec extends SparkSpec {

  private val K = 64

  private lazy val li =
    graft.Tables.load(spark, sfDir, "lineitem").select("l_orderkey").cache()

  private lazy val kept: Seq[Long] =
    li.agg(expr(s"kmv_sketch(l_orderkey, $K)")).head().getSeq[Long](0)

  private def driverKept(keys: Iterable[Long]): Seq[Long] = {
    val s = new java.util.TreeSet[java.lang.Long](KmvAgg.UnsignedOrder)
    keys.foreach(k => KmvAgg.insert(s, graft.domain.Openness.mix64(k), K))
    import scala.jdk.CollectionConverters._
    s.iterator().asScala.map(Long.unbox).toSeq
  }

  test("kept minima match a driver-side recompute of the same hash math") {
    val expected = driverKept(li.distinct().collect().map(_.getLong(0)))
    assert(kept == expected, "kept-minima register file diverged")
    assert(kept.size == K)
    // unsigned-ascending output order (what the oracle's ORDER BY seed sees)
    assert(kept.sliding(2).forall {
      case Seq(a, b) => java.lang.Long.compareUnsigned(a, b) < 0
      case _ => true
    })
  }

  test("estimate lands within 3 standard errors of the true cardinality") {
    val n = li.distinct().count()
    assert(n > K, s"fixture too small for the estimator branch ($n)")
    val est = KmvAgg.estimate(kept, K).toDouble
    // SE of the bottom-k estimator ~ 1/sqrt(k-2) ~ 12.7%; 3 sigma
    assert(math.abs(est - n) / n < 0.39,
      s"estimate $est vs true $n: off by ${math.abs(est - n) / n}")
  }

  test("sub-k input reports its exact count (band branch)") {
    val small = driverKept(1L to 10L)
    assert(small.size == 10)
    assert(KmvAgg.estimate(small, K) == 10L)
  }

  test("merge is union-then-truncate: split sketch == whole sketch") {
    val Seq(a, b) = Seq(0, 1).map { side =>
      li.filter(pmod(col("l_orderkey"), lit(2)) === side)
        .agg(expr(s"kmv_sketch(l_orderkey, $K)")).head().getSeq[Long](0)
    }
    val merged = {
      val s = new java.util.TreeSet[java.lang.Long](KmvAgg.UnsignedOrder)
      (a ++ b).foreach(h => KmvAgg.insert(s, h, K))
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(Long.unbox).toSeq
    }
    assert(merged == kept, "merge of a disjoint split != whole-data sketch")
  }

  test("idempotent under re-delivery: sketch of data ∪ data == sketch of data") {
    val doubled = li.unionAll(li)
      .agg(expr(s"kmv_sketch(l_orderkey, $K)")).head().getSeq[Long](0)
    assert(doubled == kept, "duplicate rows changed the kept minima")
  }

  test("set algebra estimates union/intersection/Jaccard within 3 sigma") {
    // two overlapping key sets with KNOWN exact overlap: evens vs
    // multiples of 3 among the distinct orderkeys
    val keys = li.distinct().collect().map(_.getLong(0))
    val ka = keys.filter(_ % 2 == 0)
    val kb = keys.filter(_ % 3 == 0)
    val (sa, sb) = (driverKept(ka), driverKept(kb))
    val (estU, estI, jbp) = KmvAgg.setAlgebra(sa, sb, K)
    val trueU = (ka.toSet ++ kb.toSet).size.toDouble
    val trueI = (ka.toSet & kb.toSet).size.toDouble
    assert(trueI > 0, "fixture lost its overlap")
    assert(math.abs(estU - trueU) / trueU < 0.39, s"union $estU vs $trueU")
    // intersection error is quoted relative to the UNION (the sample
    // covers the union; a small intersection has few samples)
    assert(math.abs(estI - trueI) / trueU < 0.39, s"inter $estI vs $trueI")
    assert(jbp >= 0 && jbp <= 10000)
    val trueJbp = trueI / trueU * 10000
    assert(math.abs(jbp - trueJbp) < 3900, s"jaccard $jbp vs $trueJbp")
  }

  test("serde roundtrip preserves the buffer bit-for-bit") {
    val agg = KmvAgg(org.apache.spark.sql.catalyst.expressions.Literal(1L), K)
    val buf = new java.util.TreeSet[java.lang.Long](KmvAgg.UnsignedOrder)
    kept.foreach(buf.add(_))
    val rt = agg.deserialize(agg.serialize(buf))
    assert(rt.size == buf.size)
    assert(rt.iterator().next() == buf.iterator().next())
    import scala.jdk.CollectionConverters._
    assert(rt.iterator().asScala.toSeq == buf.iterator().asScala.toSeq)
  }
}
