package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column, expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature over a word array: the k hash functions are k
  * overlapping 16-hex-char (64-bit) fragments of the DOUBLED md5 digest of
  * each word n-gram shingle (h_i = substr(md5hex || md5hex, 4i+1, 16)),
  * value-identical to the relational formulation (`Dedup.minhashSignatures`
  * scaladoc) and to the DuckDB oracle — lexicographic minima over lowercase
  * fixed-width hex equal unsigned-64 numeric minima, so the mins are
  * tracked as longs and materialize to hex once per document.
  *
  * Why an expression: the relational path explodes one row per shingle and
  * min-aggregates behind a doc_id shuffle — per-shingle Catalyst row
  * overhead, 8 substring evaluations, and a full shuffle of every shingle
  * hash. This computes the whole signature in one pass per DOCUMENT:
  * shingle bytes feed the digest incrementally (no join buffer), fragments
  * come from the digest nibbles directly (no hex-string intermediate), and
  * the operator becomes map-only — at 100 TB the shingle shuffle (the
  * dominant data movement of the dedup pipeline) disappears entirely.
  * `doGenCode` emits a static call, keeping whole-stage codegen intact. */
case class MinhashSignature(child: Expression, n: Int, k: Int)
    extends UnaryExpression {
  require(n >= 1 && k >= 1 && k <= 8, "minhash requires n >= 1 and 1 <= k <= 8")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any =
    MinhashSignature.compute(input.asInstanceOf[ArrayData], n, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinhashSignature.compute($c, $n, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

object MinhashSignature {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val HexChars = "0123456789abcdef".toCharArray
  private val Space = Array[Byte](' ')

  /** Static entry point shared by interpreted eval and generated code.
    * Returns the k fragment minima as 16-char hex strings; an array with
    * fewer than n words yields an empty signature (callers filter those). */
  def compute(words: ArrayData, n: Int, k: Int): ArrayData = {
    val m = words.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    // word byte images once (UTF8String bytes == what concat_ws hashes)
    val wb = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) { wb(i) = words.getUTF8String(i).getBytes; i += 1 }

    val mins = Array.fill(k)(-1L) // 0xFFFF… = unsigned max
    val md = digest.get()
    val nibbles = new Array[Int](32)
    var g = 0
    while (g <= m - n) {
      md.reset()
      var t = 0
      while (t < n) {
        if (t > 0) md.update(Space)
        md.update(wb(g + t))
        t += 1
      }
      val d = md.digest()
      var j = 0
      while (j < 16) {
        nibbles(2 * j) = (d(j) >> 4) & 0xf
        nibbles(2 * j + 1) = d(j) & 0xf
        j += 1
      }
      var f = 0
      while (f < k) {
        var v = 0L
        var p = 0
        while (p < 16) {
          v = (v << 4) | nibbles((4 * f + p) & 31)
          p += 1
        }
        if (java.lang.Long.compareUnsigned(v, mins(f)) < 0) mins(f) = v
        f += 1
      }
      g += 1
    }

    val out = new Array[Any](k)
    var f = 0
    while (f < k) {
      val cs = new Array[Char](16)
      var p = 0
      while (p < 16) {
        cs(p) = HexChars(((mins(f) >>> ((15 - p) * 4)) & 0xf).toInt)
        p += 1
      }
      out(f) = UTF8String.fromString(new String(cs))
      f += 1
    }
    new GenericArrayData(out)
  }

  /** `minhash_signature(words, n, k)` over a word-array column. */
  def apply(words: Column, n: Int, k: Int): Column =
    column(MinhashSignature(expression(words), n, k))
}
