package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** HyperLogLog distinct-count sketch as a custom Catalyst
  * `TypedImperativeAggregate` — the bounded-memory scale twin of
  * `count(DISTINCT key)` (reference analog: the distinct-receiver /
  * distinct-play tallies in `DefCoverage.ipynb`'s group summaries; at
  * 100 TB an exact grouped COUNT DISTINCT shuffles every distinct key,
  * while this sketch moves one m-byte register file per partition).
  *
  * State is `m = 2^p` one-byte registers whatever the key cardinality:
  * `update` hashes the key with the engine's portable SplitMix64
  * scrambler (`Openness.mix64`, the native `mix64` expression's twin),
  * takes the low `p` bits as the register index and the leading-zero
  * rank of the remaining `64-p` bits as the register candidate;
  * `merge` is element-wise max — idempotent, associative, commutative,
  * so partials combine map-side, the exchange carries one 64-byte
  * buffer per partition (p=6), and a streaming complete-mode aggregate
  * ends in exactly the batch buffer (HllStreamSpec's bit-identical
  * claim, like the Count-Min twin).
  *
  * Portability is the design constraint (the engine's exact-oracle
  * discipline, same as [[SketchAgg]]): mix64 replays in DuckDB via
  * `OracleU64.mix64Ctes`, the rank is `64-p - bitlength(w) + 1`
  * (`length(bin(w))` in SQL), and the harmonic-mean estimate is exact
  * integer arithmetic — `floor(alpha_num·2^(2p+(64-p)+1) / (alpha_den·S))`
  * with `S = Σ_j 2^((64-p)+1-M_j)` summed as DECIMAL (the +1 keeps the
  * max-rank term 2^((64-p)+1-(64-p+1)) = 2^0 integral; for p=6 that is
  * S = Σ 2^(59-M_j) against numerator 709·2^71/1000) — so REGISTER
  * CONTENT AND ESTIMATE are both hash-checked, not spec-gated like the
  * engine-internal HLL sketches in a20/s23.
  *
  * Range corrections (round 9, verdict ask #5 — g2's `est_tri` lesson
  * applied here): the paper's small-range branch — linear counting
  * `m·ln(m/V)` when the raw estimate is ≤ 5m/2 and V = #zero registers
  * > 0 — is published as OUTPUT COLUMNS of a29/a30 (`est_corrected`,
  * `band`), not left as a spec-only assertion a user would never see.
  * It stays oracle-exact via [[HllAgg.linearCountTable]]: V ranges over
  * 1..m, so `floor(m·ln(m/V))` is a FIXED m-entry integer table both
  * engines consume as literals — no engine-resident `ln` whose last
  * ulp could differ. The paper's large-range correction exists to
  * undo 32-bit-hash saturation near 2^32 and has no analog here: the
  * hash is 64-bit, whose collision range (~2^64) is unreachable.
  */
case class HllAgg(child: Expression, p: Int,
                  mutableAggBufferOffset: Int = 0,
                  inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  require(p >= 4 && p <= 16, "hll_sketch precision must be in [4, 16]")
  private val m = 1 << p

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val (j, rho) = HllAgg.slot(graft.domain.Openness.mix64(v.asInstanceOf[Long]), p)
      if (rho > buf(j)) buf(j) = rho.toByte
    }
    buf
  }

  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < b1.length) { if (b2(i) > b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Byte]): Any =
    new GenericArrayData(buf.map(_.toLong))

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): HllAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllAgg =
    copy(child = newChild)
  override def prettyName: String = "hll_sketch"
}

object HllAgg {
  /** (register index, rank) of one HASHED key: low p bits index the
    * register; the rank is the position of the first 1-bit in the
    * (64−p)-bit suffix, 1-based, with the all-zero suffix ranking
    * 64−p+1 (the paper's convention). Pure — shared by update() and
    * the ScalaCheck algebra properties so they cannot drift. */
  def slot(h: Long, p: Int): (Int, Int) = {
    val j = (h & ((1 << p) - 1)).toInt
    val w = h >>> p
    val rho = if (w == 0L) 64 - p + 1
              else java.lang.Long.numberOfLeadingZeros(w) - p + 1
    (j, rho)
  }

  /** Driver-side register fold over raw keys (mix64 applied here) —
    * the test/property twin of the distributed aggregate. */
  def sketchOf(keys: Iterable[Long], p: Int): Array[Int] = {
    val regs = new Array[Int](1 << p)
    keys.foreach { k =>
      val (j, rho) = slot(graft.domain.Openness.mix64(k), p)
      if (rho > regs(j)) regs(j) = rho
    }
    regs
  }

  /** Exact raw-HLL estimate from an m-register rho array: for m = 64
    * (p = 6), `floor(709·2^71 / (1000·S))` with `S = Σ 2^(59-M_j)` —
    * alpha_64 = 0.709 from the HLL paper, the 2^59 scale making every
    * harmonic term an exact integer. BigInt so the floor is exact (the
    * DuckDB oracle replays it as one HUGEINT integer division). */
  def estimate(p: Int, scaledHarmonicSum: BigInt): Long = {
    require(p == 6, "fixed-point constants are tabulated for p=6 (m=64)")
    val e = BigInt(709) * BigInt(2).pow(71) / (BigInt(1000) * scaledHarmonicSum)
    // only reachable when nearly all 64 registers sit at rank >= 53 —
    // impossible from real hashing (P ~ 2^-3000) but a corrupted buffer
    // must fail loudly, not wrap negative through toLong
    require(e.isValidLong, s"HLL estimate overflows Long (S=$scaledHarmonicSum)")
    e.toLong
  }

  /** Small-range cutoff 5m/2 (HLL paper §4): at or below it the raw
    * harmonic estimator is known-biased and linear counting is the
    * published estimate (when any register is still zero). */
  def lcThreshold(p: Int): Long = 5L * (1 << p) / 2

  /** `floor(m·ln(m/V))` for V = 1..m — linear counting as a FIXED
    * integer table (V, the zero-register count, has only m possible
    * values). Both the Spark plan and the DuckDB oracle consume these
    * as literals generated from this one function, so the correction
    * is replayed exactly with no engine-resident `ln` in either plan.
    * V = m (empty sketch) gives ln(1) = 0 — the correct empty-set
    * estimate. */
  def linearCountTable(p: Int): IndexedSeq[Long] = {
    val m = 1 << p
    (1 to m).map(v => math.floor(m * math.log(m.toDouble / v)).toLong)
  }

  /** Scalar reference twin of the published `est_corrected` column
    * (a29/a30): linear counting inside the small-range band, raw
    * estimator outside it. */
  def corrected(p: Int, raw: Long, nZero: Int): Long =
    if (raw <= lcThreshold(p) && nZero > 0) linearCountTable(p)(nZero - 1)
    else raw
}
