package graft.plans

/** A fixed buffer and its exact SketchWire v2 bytes: the version byte 0x02,
  * then each long big-endian. Streaming checkpoints persist these bytes, so
  * the sketch specs pin the layout, not just a roundtrip. */
object SketchWireBytes {
  val Buffer: Array[Long] = Array(1L, -2L, 0x0102030405060708L)

  val Expected: Seq[Byte] = Seq(
    0x02,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01,
    0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xfe,
    0x01, 0x02, 0x03, 0x04, 0x05, 0x06, 0x07, 0x08).map(_.toByte)
}
