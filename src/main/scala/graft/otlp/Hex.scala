package graft.otlp

/** Lowercase hex of a byte array, two digits per byte by table lookup: the
  * rendering of trace and span ids (and server tokens) on every path. */
private[graft] object Hex {
  private val Digits = "0123456789abcdef".toCharArray

  def lower(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      out(2 * i) = Digits((b(i) >> 4) & 0xf)
      out(2 * i + 1) = Digits(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }
}
