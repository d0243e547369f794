package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column, expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native md5 hex of every length-`l` word window (stride 1) of a word
  * array — value-identical to the lambda formulation
  * `transform(sequence(1, size(ws) - l + 1), i -> md5(concat_ws(' ',
  * slice(ws, i, l))))` and to the DuckDB oracle's generate_series form
  * (identical bytes hashed: the window's words joined by single spaces,
  * UTF-8).
  *
  * Why an expression: the lambda form evaluates INTERPRETED — per window
  * Catalyst dispatches the lambda, `slice` COPIES an l-element array,
  * `concat_ws` allocates the joined string, and `md5` re-wraps the bytes
  * (dd_substring_dedup runs ~1.5M windows at sf0.1 and the pipeline is
  * corpus × l-proportional at 100 TB). This computes all windows in one
  * pass per document: word byte images are materialized once and each
  * window feeds the digest incrementally — no slice copies, no joined
  * string, no per-window lambda dispatch (the [[MinhashSignature]]
  * pattern, which hashes the same shingle bytes). `doGenCode` emits a
  * static call so whole-stage codegen stays intact. Fewer than `l`
  * words yield an empty array (callers filter those). */
case class WindowHashes(child: Expression, l: Int) extends UnaryExpression {
  require(l >= 1, "window_hashes requires l >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "window_hashes"

  override def nullSafeEval(input: Any): Any =
    WindowHashes.compute(input.asInstanceOf[ArrayData], l)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WindowHashes.compute($c, $l)")

  override protected def withNewChildInternal(newChild: Expression): WindowHashes =
    copy(child = newChild)
}

object WindowHashes {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val HexChars = "0123456789abcdef".toCharArray
  private val Space = Array[Byte](' ')

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(words: ArrayData, l: Int): ArrayData = {
    val m = words.numElements()
    if (m < l) return new GenericArrayData(Array.empty[Any])
    val wb = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) { wb(i) = words.getUTF8String(i).getBytes; i += 1 }
    val md = digest.get()
    val out = new Array[Any](m - l + 1)
    var g = 0
    while (g <= m - l) {
      md.reset()
      var t = 0
      while (t < l) {
        if (t > 0) md.update(Space)
        md.update(wb(g + t))
        t += 1
      }
      val d = md.digest()
      val cs = new Array[Char](32)
      var j = 0
      while (j < 16) {
        cs(2 * j) = HexChars((d(j) >> 4) & 0xf)
        cs(2 * j + 1) = HexChars(d(j) & 0xf)
        j += 1
      }
      out(g) = UTF8String.fromString(new String(cs))
      g += 1
    }
    new GenericArrayData(out)
  }

  /** `window_hashes(words, l)` over a word-array column. */
  def apply(words: Column, l: Int): Column =
    column(WindowHashes(expression(words), l))
}
