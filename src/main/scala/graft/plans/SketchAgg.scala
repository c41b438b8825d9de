package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The `count_min`, `ams_sketch` and `bloom_agg` SQL aggregates: one fixed
  * `Array[Long]` of state whatever the key cardinality, built from the
  * [[SketchHash]] family so DuckDB regenerates the whole buffer. They are
  * the bounded-memory twins of full group-bys (reference analog: the
  * frequency tables of `DefCoverage.ipynb`; at 100 TB a full `GROUP BY key`
  * over a heavy-tailed key is the memory hazard a sketch removes).
  *
  * Merges are element-wise `+` or `|`, associative and commutative, so
  * partials combine map-side and the exchange carries one buffer per
  * partition. Null keys are skipped. HLL and KMV stay separate aggregates:
  * their buffers are bytes and a sorted set, with their own wire formats.
  */
case class SketchAgg(child: Expression, sketch: Sketch,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Long] = new Array[Long](sketch.length)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) sketch.add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    if (sketch.mergesByOr) while (i < b1.length) { b1(i) |= b2(i); i += 1 }
    else while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  // The streaming state store persists this buffer across restarts, so it
  // goes through the versioned SketchWire format.
  override def serialize(buf: Array[Long]): Array[Byte] = SketchWire.toBytes(buf)

  override def deserialize(bytes: Array[Byte]): Array[Long] =
    SketchWire.fromBytes(bytes, prettyName)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SketchAgg =
    copy(child = newChild)
  override def prettyName: String = sketch.name

  // plans print the parameters inline: count_min(k, 4, 64, 0, 0)
  override protected def stringArgs: Iterator[Any] =
    Iterator(child) ++ sketch.productIterator ++
      Iterator(mutableAggBufferOffset, inputAggBufferOffset)
}

/** What a [[SketchAgg]] builds: the buffer length, the per-key update and
  * the merge operator. Parameters are checked here, with the SQL name in
  * the message. */
sealed trait Sketch extends Product with Serializable {
  def name: String
  def length: Int
  def add(buf: Array[Long], k: Long): Unit
  /** Merge by `|` instead of `+`. */
  def mergesByOr: Boolean = false
}

object Sketch {
  import SketchHash.{cell, sign}

  private def checkWidth(name: String, width: Int): Unit =
    require(width > 1 && width <= (1 << 20), s"$name width must be in [2, 2^20]")

  private def checkDepth(name: String, depth: Int, rows: Int): Unit =
    require(depth > 0 && depth <= rows, s"$name depth must be in [1, $rows]")

  /** Count-Min: `depth × width` counters, +1 in each row's cell. A point
    * estimate is the min over the key's cells: never under the true count,
    * over it by at most e/width of the total (asserted in CountMinSpec). */
  final case class CountMin(depth: Int, width: Int) extends Sketch {
    checkDepth(name, depth, SketchHash.UnsignedRows)
    checkWidth(name, width)
    def name: String = "count_min"
    def length: Int = depth * width
    def add(buf: Array[Long], k: Long): Unit = {
      var d = 0
      while (d < depth) { buf(d * width + cell(k, d, width)) += 1L; d += 1 }
    }
  }

  /** AMS/AGMS: `depth × width` cells, each adding `sign_d(k)`. The signs
    * cancel cross-key collisions in expectation, so the inner product of
    * two sketches estimates a join size with variance ≈ F₂(A)·F₂(B)/width,
    * a relative bound, where Count-Min's unsigned product overestimates by
    * ≈ N₁N₂/width (measured 1.9×/18×/183× over three decades on the FK join
    * at width 8192; AMS within ~1 %, see a31). The estimate is the median
    * of the per-row products (odd depth: an exact order statistic). */
  final case class Ams(depth: Int, width: Int) extends Sketch {
    checkDepth(name, depth, SketchHash.A.length)
    checkWidth(name, width)
    def name: String = "ams_sketch"
    def length: Int = depth * width
    def add(buf: Array[Long], k: Long): Unit = {
      var d = 0
      while (d < depth) { buf(d * width + cell(k, d, width)) += sign(k, d); d += 1 }
    }
  }

  /** Bloom filter: `bits/64` words, `depth` bits set per key, OR-merged, so
    * re-delivery cannot change the bitmap and a streaming complete-mode
    * aggregate drains to exactly the batch words. Portable twin of the
    * engine-internal `operators.BloomPrune`. Sizing is the caller's: a35
    * publishes fill and measured FPR (size `bits` ≈ 1.44·depth·n). */
  final case class Bloom(bits: Int, depth: Int) extends Sketch {
    require(bits >= 64 && bits % 64 == 0 && bits <= (1 << 26),
      s"$name bits must be a multiple of 64 in [64, 2^26]")
    checkDepth(name, depth, SketchHash.UnsignedRows)
    def name: String = "bloom_agg"
    def length: Int = bits / 64
    override def mergesByOr: Boolean = true
    def add(buf: Array[Long], k: Long): Unit = {
      var d = 0
      while (d < depth) {
        val pos = cell(k, d, bits)
        buf(pos >>> 6) |= 1L << (pos & 63)
        d += 1
      }
    }
  }

  object Bloom {
    /** Driver-side twin of the distributed bitmap. */
    def bitmapOf(keys: Iterable[Long], bits: Int, depth: Int): Array[Long] = {
      val b = Bloom(bits, depth)
      val words = new Array[Long](b.length)
      keys.foreach(b.add(words, _))
      words
    }

    /** Membership test against a bitmap (no false negatives possible). */
    def contains(words: Array[Long], k: Long, bits: Int, depth: Int): Boolean =
      (0 until depth).forall { d =>
        val pos = cell(k, d, bits)
        (words(pos >>> 6) & (1L << (pos & 63))) != 0L
      }
  }
}
