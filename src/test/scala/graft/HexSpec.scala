package graft

import graft.otlp.Hex
import org.scalatest.funsuite.AnyFunSuite

/** The shared id hex encoder renders exactly what the per-byte formatter it
  * replaced did: two lowercase digits per byte. */
class HexSpec extends AnyFunSuite {

  private def formatted(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  test("Hex.lower equals the per-byte formatter on random, empty and " +
    "all-0x00 / all-0xff arrays") {
    val rnd = new scala.util.Random(7)
    val arrays = Seq(Array.emptyByteArray, Array.fill(16)(0.toByte),
      Array.fill(16)(0xff.toByte), Array.tabulate(256)(_.toByte)) ++
      (1 to 200).map(i => Array.fill(rnd.nextInt(40) + i % 2)(rnd.nextInt().toByte))
    arrays.foreach(b => assert(Hex.lower(b) == formatted(b), b.toSeq))
  }
}
