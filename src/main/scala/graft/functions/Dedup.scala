package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deduplication primitives for training-data pipelines: MinHash
  * signatures + LSH banding and SimHash, as pure column expressions.
  *
  * Scale design: both schemes turn O(n²) all-pairs comparison into an
  * equi-join on a bucket key — exactly the shape Spark shuffles well. The
  * expensive exact verification (Jaccard / Hamming) runs only on bucket
  * collisions. At 100 TB: shingle→signature is map-only; the band explode
  * multiplies rows by #bands (bounded, e.g. 8×); the bucket join shuffles
  * on (band, hash) which is near-uniform by construction (hash keys), so
  * no skew mitigation is needed except for degenerate constant documents —
  * those collapse into one bucket and should be pre-filtered by length/
  * entropy gates.
  */
object Dedup {

  /** Base hash for the cheap two-step minhash: hash each shingle ONCE,
    * then derive the k permutations arithmetically (minhashFromHashes).
    * Materialize this as its own column so the string hashing isn't
    * recomputed k times — at scale that is the difference between one
    * and k passes over the token stream. */
  def shingleHashes(shingles: Column): Column = transform(shingles, xxhash64(_))

  /** k permutations by re-hashing the fixed-width base hash with the slot
    * index as seed: each slot hashes 8 bytes instead of the whole shingle
    * string, so the string is scanned once total, not k times. (Plain
    * multiply-add mixing would be cheaper still, but wrapping long
    * arithmetic throws under ANSI mode — Spark 4's default.) */
  def minhashFromHashes(hashes: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(hashes, h => xxhash64(i, h))))

  /** Exact Jaccard similarity of two pre-distinct shingle arrays — the
    * verification step after LSH candidate generation. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  // the Scala-API shiftleft/shiftright only accept Int shifts; the SQL
  // expressions accept a Column — call them through the registry
  private def shr(x: Column, bits: Column): Column = call_function("shiftright", x, bits)
  private def shl(x: Column, bits: Column): Column = call_function("shiftleft", x, bits)

  /** 64-bit SimHash over tokens: per bit, sum +1/−1 by the bit of each
    * token's xxhash64; bit set if the sum is non-negative. */
  def simhash(tokens: Column): Column =
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, b) => {
        val bitSum = aggregate(tokens, lit(0),
          (s, t) => s + when(shr(xxhash64(t), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        acc + when(bitSum >= 0, shl(lit(1L), b)).otherwise(0L)
      })

  /** Pigeonhole blocking keys for Hamming-distance search: split the
    * `sigBits`-bit simhash into `chunks` pieces; any pair within distance
    * `chunks-1` shares at least one identical chunk. */
  def simhashChunks(sim: Column, chunks: Int, sigBits: Int = 64): Column = {
    val width = sigBits / chunks
    val mask = (1L << width) - 1
    transform(sequence(lit(0), lit(chunks - 1)),
      c => struct(c.as("chunk_idx"),
                  shr(sim, c * width).bitwiseAND(mask).as("chunk_val")))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Oracle-portable 60-bit SimHash: the token hash is two character
    * polynomials (seeds 7/11, bases 131/137, mod the prime 1e9+7 — the
    * same engine-portable family as `TextFunctions.winnowing`) packed
    * into 60 bits, then a splitmix-style finalizer (xorshift +
    * multiply, all arithmetic masked to 60 bits so DuckDB's
    * HUGEINT-multiply-then-mask reproduces the Long wraparound exactly).
    * The finalizer matters: without it the polynomial's correlated low
    * bits inflate the hd≤3 pair count ~20% with no locality benefit.
    * DuckDB can replay signature, pigeonhole chunks, and Hamming
    * verification bit-for-bit, so d4 is oracle-checked end to end.
    * Chunk the result with [[simhashChunks]](sig, 4, sigBits = 60). */
  val simhashPortableFast = org.apache.spark.sql.functions.udf { (tokens: Seq[String]) =>
    val P = 1000000007L
    val Mask60 = (1L << 60) - 1
    val C1 = 0xBF58476D1CE4E5B9L & Mask60
    val C2 = 0x94D049BB133111EBL & Mask60
    val counts = new Array[Int](60)
    var j = 0
    while (j < tokens.length) {
      val s = tokens(j)
      var h1 = 7L; var h2 = 11L
      var ci = 0
      while (ci < s.length) {
        val c = s.charAt(ci)
        h1 = (h1 * 131 + c) % P
        h2 = (h2 * 137 + c) % P
        ci += 1
      }
      var h = h1 * 1073741824L + h2
      h ^= h >>> 30; h = (h * C1) & Mask60
      h ^= h >>> 27; h = (h * C2) & Mask60
      h ^= h >>> 31
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** JVM fast path for the full shingles → minhash → band-keys chain as
    * ONE UDF call per document. The column-expression path above runs
    * each lambda through Catalyst's interpreted HOF evaluator (boxing
    * per element — k·|shingles| boxed evals per doc); this loop is
    * JIT-compiled and ~20× faster at identical LSH behavior. Exactness
    * is unaffected either way: candidates are verified with exact
    * Jaccard downstream. k = bands · rowsPerBand.
    */
  def bandKeysFast(bands: Int, rowsPerBand: Int) = {
    val k = bands * rowsPerBand
    org.apache.spark.sql.functions.udf { (shingles: Seq[String]) =>
      // 64-bit base hash per shingle (two 32-bit murmurs packed)
      val base = new Array[Long](shingles.length)
      var j = 0
      while (j < base.length) {
        val s = shingles(j)
        base(j) = (scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) |
          (scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xFFFFFFFFL)
        j += 1
      }
      // k permutations via multiply-add wrap (fine in JVM; ANSI mode
      // only constrains SQL-side arithmetic)
      val sig = new Array[Long](k)
      var i = 0
      while (i < k) {
        val a = i * 0x9E3779B97F4A7C15L | 1L
        val b = (i + 1) * 0xC2B2AE3D27D4EB4FL
        var mn = Long.MaxValue
        var t = 0
        while (t < base.length) {
          val h = base(t) * a + b
          if (h < mn) mn = h
          t += 1
        }
        sig(i) = mn
        i += 1
      }
      // band keys: polynomial fold of each rowsPerBand slice
      val keys = new Array[Long](bands)
      var bnd = 0
      while (bnd < bands) {
        var bk = 1125899906842597L + bnd
        var r = 0
        while (r < rowsPerBand) {
          bk = bk * 31 + sig(bnd * rowsPerBand + r)
          r += 1
        }
        keys(bnd) = bk
        bnd += 1
      }
      keys
    }
  }
}
