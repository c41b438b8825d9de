package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The Bloom aggregate's semantics against exact set math on real table
  * data (a35's DuckDB oracle hash-checks bitmap content, the
  * no-false-negative invariant, and the measured FPR; this spec checks
  * the merge algebra and the statistical read path). */
class BloomSpec extends SparkSpec {

  private val Bits = 1 << 14
  private val D = 3

  private lazy val li =
    graft.Tables.load(spark, sfDir, "orders").select("o_orderkey").cache()

  private lazy val words: Seq[Long] =
    li.agg(expr(s"bloom_agg(o_orderkey, $Bits, $D)")).head().getSeq[Long](0)

  private lazy val keys: Array[Long] = li.distinct().collect().map(_.getLong(0))

  test("bitmap matches a driver-side recompute of the same hash math") {
    assert(words == Sketch.Bloom.bitmapOf(keys, Bits, D).toSeq, "bitmap diverged")
  }

  test("no false negatives: every build key tests positive") {
    val w = words.toArray
    assert(keys.forall(Sketch.Bloom.contains(w, _, Bits, D)))
  }

  test("false-positive rate of disjoint keys tracks the fill ratio") {
    val w = words.toArray
    val nonMembers = keys.map(_ + 1000000000L)
    val fp = nonMembers.count(Sketch.Bloom.contains(w, _, Bits, D)).toDouble
    val fill = w.map(java.lang.Long.bitCount).sum.toDouble / Bits
    val predicted = math.pow(fill, D)
    val measured = fp / nonMembers.length
    // generous band: the affine hash family is 2-wise, not ideal
    assert(measured < 4 * predicted + 0.01,
      s"FPR $measured vs fill^d $predicted — hash family degraded")
    assert(fill > 0.1 && fill < 0.9, s"fixture fill drifted: $fill")
  }

  test("merge is element-wise OR: split sketch == whole sketch") {
    val Seq(a, b) = Seq(0, 1).map { side =>
      li.filter(pmod(col("o_orderkey"), lit(2)) === side)
        .agg(expr(s"bloom_agg(o_orderkey, $Bits, $D)")).head().getSeq[Long](0)
    }
    assert(a.zip(b).map { case (x, y) => x | y } == words,
      "OR-merge of a disjoint split != whole-data bitmap")
  }

  test("idempotent under re-delivery: bitmap of data ∪ data == bitmap of data") {
    val doubled = li.unionAll(li)
      .agg(expr(s"bloom_agg(o_orderkey, $Bits, $D)")).head().getSeq[Long](0)
    assert(doubled == words)
  }

  test("serde roundtrip preserves the buffer bit-for-bit") {
    val agg = SketchAgg(org.apache.spark.sql.catalyst.expressions.Literal(1L),
      Sketch.Bloom(Bits, D))
    val buf = words.toArray
    assert(agg.deserialize(agg.serialize(buf)).toSeq == buf.toSeq)
    assert(agg.serialize(SketchWireBytes.Buffer).toSeq == SketchWireBytes.Expected)
  }
}
