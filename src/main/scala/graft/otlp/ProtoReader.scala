package graft.otlp

import java.nio.charset.StandardCharsets

/** Bounds-checked protobuf wire reader over `buf[pos, end)`: varint,
  * fixed32/64, length-delimited fields and sub-message views. Every read
  * that would pass `end` (a truncated varint, an over-long length, a cut
  * fixed field) throws [[OtlpParseException]], so malformed input always
  * surfaces as a parse error, never as an index error or zero padding.
  * The one varint decoder in the engine: the OTLP protobuf parser, the
  * OTAP envelope, the OTAP batch-id peek and the gRPC `BatchStatus`
  * reader all read through it. */
private[graft] final class ProtoReader(buf: Array[Byte], private var pos: Int, end: Int) {
  def this(buf: Array[Byte]) = this(buf, 0, buf.length)

  def hasMore: Boolean = pos < end
  def readTag(): (Int, Int) = {
    val v = readVarint()
    ((v >>> 3).toInt, (v & 7).toInt)
  }
  def readVarint(): Long = {
    var shift = 0; var out = 0L
    while (shift < 64) {
      if (pos >= end) throw new OtlpParseException("truncated varint")
      val b = buf(pos); pos += 1
      out |= (b & 0x7fL) << shift
      if ((b & 0x80) == 0) return out
      shift += 7
    }
    throw new OtlpParseException("varint too long")
  }
  def readFixed64(): Long = {
    if (end - pos < 8) throw new OtlpParseException("truncated fixed64")
    var out = 0L; var i = 0
    while (i < 8) { out |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
    pos += 8; out
  }
  def readFixed32(): Int = {
    if (end - pos < 4) throw new OtlpParseException("truncated fixed32")
    var out = 0; var i = 0
    while (i < 4) { out |= (buf(pos + i) & 0xff) << (8 * i); i += 1 }
    pos += 4; out
  }
  def readDouble(): Double = java.lang.Double.longBitsToDouble(readFixed64())
  /** A length prefix, checked against the bytes left (`end - pos` cannot
    * overflow, where `pos + len` can). */
  private def readLength(what: String): Int = {
    val len = readVarint()
    if (len < 0 || len > end - pos) throw new OtlpParseException(s"truncated $what")
    len.toInt
  }
  def readBytes(): Array[Byte] = {
    val len = readLength("bytes")
    val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
    pos += len; out
  }
  def readString(): String = new String(readBytes(), StandardCharsets.UTF_8)
  def readSub(): ProtoReader = {
    val len = readLength("message")
    val r = new ProtoReader(buf, pos, pos + len)
    pos += len; r
  }
  def skip(wire: Int): Unit = wire match {
    case 0 => readVarint()
    case 1 => readFixed64()
    case 2 => pos += readLength("bytes")
    case 5 => readFixed32()
    case w => throw new OtlpParseException(s"unsupported wire type $w")
  }
}
