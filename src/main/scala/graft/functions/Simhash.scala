package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column, expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 32-bit SimHash over a word array (with multiplicity): per token
  * the hash is the first 4 md5 bytes as a big-endian unsigned value, bit j
  * (= bit 31-j of that value) votes +1/-1, and the fingerprint sets bit j
  * when the vote is positive — value-identical to the explode + 32
  * conditional-sums aggregate it replaces (and to the DuckDB oracle's
  * explicit-bits formulation). One digest pass per DOCUMENT, no token
  * explode, no shuffle: the operator becomes map-only, the same scale win
  * as MinhashSignature. */
case class SimhashFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_fingerprint"

  override def nullSafeEval(input: Any): Any =
    SimhashFingerprint.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimhashFingerprint.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimhashFingerprint =
    copy(child = newChild)
}

object SimhashFingerprint {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(words: ArrayData): Long = {
    val votes = new Array[Int](32)
    val md = digest.get()
    val m = words.numElements()
    var i = 0
    while (i < m) {
      md.reset()
      val d = md.digest(words.getUTF8String(i).getBytes)
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      var j = 0
      while (j < 32) {
        votes(j) += (if (((v >>> (31 - j)) & 1L) == 1L) 1 else -1)
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 32) {
      if (votes(j) > 0) fp |= 1L << j
      j += 1
    }
    fp
  }

  /** `simhash_fingerprint(words)` over a word-array column. */
  def apply(words: Column): Column = column(SimhashFingerprint(expression(words)))
}
