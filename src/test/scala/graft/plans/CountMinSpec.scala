package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The Count-Min aggregate's algebraic guarantees, checked against exact
  * counts on real table data (a28_countmin's DuckDB oracle checks the
  * CELL CONTENT; this spec checks the sketch's read-path semantics). */
class CountMinSpec extends SparkSpec {

  private val Depth = 4
  private val Width = 64

  private lazy val li =
    graft.Tables.load(spark, sfDir, "lineitem").select("l_partkey").cache()

  private lazy val sketch: Array[Long] =
    li.agg(expr(s"count_min(l_partkey, $Depth, $Width)"))
      .head().getSeq[Long](0).toArray

  private def estimate(k: Long): Long =
    (0 until Depth).map(d => sketch(d * Width + SketchHash.cell(k, d, Width))).min

  test("point estimates dominate the true counts (CMS one-sided guarantee)") {
    val exact = li.groupBy("l_partkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(estimate(k) >= n, s"key $k: estimate ${estimate(k)} < true $n")
    }
    // overestimate bound: E[err] <= N/width per row; min over rows is
    // far tighter in practice — assert the loose 4x-expectation bound
    // holds for EVERY key (deterministic data, fixed hashes: stable)
    val total = exact.values.sum
    val cap = 4L * total / Width
    exact.foreach { case (k, n) =>
      assert(estimate(k) - n <= cap,
        s"key $k overestimates by ${estimate(k) - n} > $cap")
    }
  }

  test("sketch of a union is the element-wise sum of the parts' sketches") {
    val Seq(a, b) = Seq(0, 1).map { side =>
      li.filter(pmod(col("l_partkey"), lit(2)) === side)
        .agg(expr(s"count_min(l_partkey, $Depth, $Width)"))
        .head().getSeq[Long](0).toArray
    }
    val summed = a.zip(b).map { case (x, y) => x + y }
    assert(summed.toSeq == sketch.toSeq,
      "merge is not element-wise addition over a disjoint split")
  }

  test("total mass: every hash row sums to the non-null input count") {
    val n = li.count()
    (0 until Depth).foreach { d =>
      val rowSum = (0 until Width).map(w => sketch(d * Width + w)).sum
      assert(rowSum == n, s"hash row $d sums to $rowSum, expected $n")
    }
  }

  test("serde roundtrip preserves the buffer bit-for-bit") {
    val agg = SketchAgg(org.apache.spark.sql.catalyst.expressions.Literal(1L),
      Sketch.CountMin(Depth, Width))
    val buf = sketch.clone()
    assert(agg.deserialize(agg.serialize(buf)).toSeq == buf.toSeq)
    assert(agg.serialize(SketchWireBytes.Buffer).toSeq == SketchWireBytes.Expected)
  }
}
