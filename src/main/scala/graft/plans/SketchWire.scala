package graft.plans

import java.nio.ByteBuffer

/** Versioned wire format for the `Array[Long]` buffers of [[SketchAgg]]
  * (Count-Min / AMS / Bloom).
  *
  * Why a version byte: these
  * buffers outlive the process — Structured Streaming's aggregation
  * operator persists the serialized `TypedImperativeAggregate` buffer
  * in the state store, and the sketch twins' restart-recovery test
  * shows that restore path is live. Round 9's mod-P key pre-reduction
  * changed bucket POSITIONS for keys ≥ 2³¹−1 without changing the byte
  * layout, so a checkpoint written by the old code would merge
  * element-wise with new-code updates and drift silently. The version
  * byte turns that into a loud restore failure: old checkpoints carry
  * no header (length ≡ 0 mod 8), new ones lead with [[Version]]
  * (length ≡ 1 mod 8) — both mismatches raise with a message naming
  * the fix.
  *
  * Version history: 1 = unversioned raw longs (rounds ≤ 8, affine hash
  * on the raw key); 2 = round-9 mod-P pre-reduction semantics + this
  * header.
  */
object SketchWire {
  val Version: Byte = 2

  def toBytes(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(1 + buf.length * 8)
    bb.put(Version)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  def fromBytes(bytes: Array[Byte], what: String): Array[Long] = {
    if (bytes.isEmpty || bytes.length % 8 != 1 || bytes(0) != Version) {
      val got =
        if (bytes.isEmpty) "an empty buffer"
        else if (bytes.length % 8 == 0) "a pre-version-2 (round ≤ 8) unversioned buffer"
        else s"wire version ${bytes(0)}"
      throw new IllegalStateException(
        s"$what sketch state is $got; this build reads only sketch wire " +
        s"version $Version (mod-P hash semantics). Rebuild the sketch from " +
        "source data instead of restoring a cross-version checkpoint.")
    }
    val out = new Array[Long]((bytes.length - 1) / 8)
    val bb = ByteBuffer.wrap(bytes)
    bb.get()
    bb.asLongBuffer().get(out)
    out
  }
}
