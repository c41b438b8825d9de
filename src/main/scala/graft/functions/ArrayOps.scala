package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Generic array/horizontal operators (SURVEY §2.6 R7-R9) built purely from
  * codegen'd higher-order functions — no UDFs, so they stay inside
  * whole-stage codegen and never leave the JVM row pipeline.
  */
object ArrayOps {

  /** Row-wise nearest-non-null fill (reference: QBReadStats.R:70-93).
    * result(i) = the non-null element whose index is closest to i; ties go
    * to the LOWER index (matching R's which.min). All-null input maps to
    * all-null output.
    */
  def nearestNonNullFill(arr: Column): Column =
    transform(
      sequence(lit(1), size(arr)),
      i => {
        val candidates = filter(
          transform(sequence(lit(1), size(arr)),
            j => struct(abs(j - i).as("d"), j.as("j"))),
          p => !isnull(element_at(arr, p.getField("j"))))
        // array_min on struct<d,j> is lexicographic: nearest distance,
        // then lowest index
        element_at(arr, array_min(candidates).getField("j"))
      })

  /** Compiled fast path of [[nearestNonNullFill]] for string arrays:
    * prev/next non-null index passes then a constant-time choice per
    * slot — O(k) per row vs the HOF form's O(k²) interpreted lambda
    * evals (tie to the lower index ⇔ preferring the prev candidate at
    * equal distance). Null array maps to null like the HOF form. */
  val nearestNonNullFillStr = udf { (arr: Seq[String]) =>
    if (arr == null) null
    else {
      val n = arr.length
      val prevIdx = new Array[Int](n)
      val nextIdx = new Array[Int](n)
      var last = -1
      var i = 0
      while (i < n) { if (arr(i) != null) last = i; prevIdx(i) = last; i += 1 }
      last = -1
      i = n - 1
      while (i >= 0) { if (arr(i) != null) last = i; nextIdx(i) = last; i -= 1 }
      val out = new Array[String](n)
      i = 0
      while (i < n) {
        val p = prevIdx(i); val q = nextIdx(i)
        out(i) =
          if (p < 0 && q < 0) null
          else if (p < 0) arr(q)
          else if (q < 0) arr(p)
          else if (i - p <= q - i) arr(p)
          else arr(q)
        i += 1
      }
      out
    }
  }

  /** Horizontal sum in double, folding left-to-right (reference:
    * rowSums, cover_threshold.R:11). */
  def rowSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x.cast("double"))

  /** JVM fast path for SQ8 scalar quantization: per-vector absmax scale
    * to signed-byte range. One compiled loop per row — the interpreted
    * HOF formulation (aggregate + transform lambdas) boxes every element
    * through Catalyst's lambda evaluator and was the v5 bench hotspot
    * (12.8 s → sub-second at sf0.1). */
  val sq8Quantize = udf { (emb: Seq[Float]) =>
    var mx = 1e-30
    var i = 0
    val n = emb.length
    val arr = new Array[Float](n)
    while (i < n) { arr(i) = emb(i); val a = math.abs(arr(i)); if (a > mx) mx = a; i += 1 }
    val scale = mx / 127.0
    val out = new Array[Long](n)
    i = 0
    // HALF_UP away from zero, matching the Spark `round(x, 0)` of the HOF
    // formulation this replaced (bare math.round rounds −2.5 → −2, i.e.
    // half toward +∞, which would flip negative components at exact .5
    // quantization boundaries)
    while (i < n) {
      val v = arr(i) / scale
      out(i) = if (v >= 0) math.round(v) else -math.round(-v)
      i += 1
    }
    out
  }

  /** Compiled int8 cosine: dot/(‖a‖·‖b‖) over two quantized vectors in
    * one loop (companion of sq8Quantize). */
  val sq8Cosine = udf { (a: Seq[Long], b: Seq[Long]) =>
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // a zero-norm vector has no direction: score 0 (never a top-k hit),
    // matching the NULL-divisor behavior of the Divide this replaced —
    // 0/0 NaN would sort GREATEST under desc and pollute every top-k
    if (na == 0L || nb == 0L) 0.0
    else dot / math.sqrt(na.toDouble * nb.toDouble)
  }
}
