package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column, expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared md5 plumbing for the native chunk/window hash expressions —
  * identical bytes to `md5(concat_ws(' ', …))`: words joined by single
  * spaces, UTF-8, lowercase-hex digest. */
private[functions] object Md5Words {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray
  private val Space = Array[Byte](' ')

  def byteImages(words: ArrayData): Array[Array[Byte]] = {
    val m = words.numElements()
    val wb = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) { wb(i) = words.getUTF8String(i).getBytes; i += 1 }
    wb
  }

  /** md5 of words [from, until) joined by ' ', as raw digest bytes. */
  def digestOf(wb: Array[Array[Byte]], from: Int, until: Int): Array[Byte] = {
    val md = digest.get()
    md.reset()
    var t = from
    while (t < until) {
      if (t > from) md.update(Space)
      md.update(wb(t))
      t += 1
    }
    md.digest()
  }

  def hex(d: Array[Byte]): UTF8String = {
    val cs = new Array[Char](32)
    var j = 0
    while (j < 16) {
      cs(2 * j) = HexChars((d(j) >> 4) & 0xf)
      cs(2 * j + 1) = HexChars(d(j) & 0xf)
      j += 1
    }
    UTF8String.fromString(new String(cs))
  }
}

/** Native md5 hex per fixed-size word CHUNK (stride = chunk size, the
  * tail chunk partial) — value-identical to the lambda form
  * `transform(sequence(1, ceil(size(ws)/l)), i -> md5(concat_ws(' ',
  * slice(ws, (i-1)*l+1, l))))` that [[graft.operators.CorpusFilters]]'
  * chunkDedup/crossChunkDedup ran interpreted per chunk (lambda
  * dispatch + slice array copies + joined-string allocation). One call
  * per document; codegen passes through. */
case class ChunkHashes(child: Expression, l: Int) extends UnaryExpression {
  require(l >= 1, "chunk_hashes requires l >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "chunk_hashes"

  override def nullSafeEval(input: Any): Any =
    ChunkHashes.compute(input.asInstanceOf[ArrayData], l)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ChunkHashes.compute($c, $l)")

  override protected def withNewChildInternal(newChild: Expression): ChunkHashes =
    copy(child = newChild)
}

object ChunkHashes {
  def compute(words: ArrayData, l: Int): ArrayData = {
    val m = words.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val wb = Md5Words.byteImages(words)
    val nc = (m + l - 1) / l
    val out = new Array[Any](nc)
    var c = 0
    while (c < nc) {
      val from = c * l
      out(c) = Md5Words.hex(Md5Words.digestOf(wb, from, math.min(from + l, m)))
      c += 1
    }
    new GenericArrayData(out)
  }

  /** `chunk_hashes(words, l)` over a word-array column. */
  def apply(words: Column, l: Int): Column = column(ChunkHashes(expression(words), l))
}

/** Native word n-gram SHINGLE strings (stride 1): element g is words
  * g..g+n−1 joined by single spaces — byte-identical to the lambda form
  * `transform(sequence(0, size(w)-n), i -> concat_ws(' ', w[i+1], …,
  * w[i+n]))` that [[graft.operators.Dedup.shingles]] evaluated
  * interpreted per shingle (lambda dispatch + per-element concat
  * allocation). The strings themselves (not hashes) are the product —
  * the candidate-verify family joins on shingle equality. One call per
  * document; codegen passes through. */
case class ShingleStrings(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle_strings requires n >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_strings"

  override def nullSafeEval(input: Any): Any =
    ShingleStrings.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleStrings.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleStrings =
    copy(child = newChild)
}

object ShingleStrings {
  def compute(words: ArrayData, n: Int): ArrayData = {
    val m = words.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val ws = new Array[UTF8String](m)
    var i = 0
    while (i < m) { ws(i) = words.getUTF8String(i); i += 1 }
    val space = UTF8String.fromString(" ")
    val out = new Array[Any](m - n + 1)
    var g = 0
    while (g <= m - n) {
      // UTF8String.concat allocates once at the exact byte length
      val parts = new Array[UTF8String](2 * n - 1)
      var t = 0
      while (t < n) {
        parts(2 * t) = ws(g + t)
        if (t < n - 1) parts(2 * t + 1) = space
        t += 1
      }
      out(g) = UTF8String.concat(parts: _*)
      g += 1
    }
    new GenericArrayData(out)
  }

  /** `shingle_strings(words, n)` over a word-array column. */
  def apply(words: Column, n: Int): Column =
    column(ShingleStrings(expression(words), n))
}

/** Native per-word CDC boundary flags: flag(i) = 1 iff i+1 >= window and
  * the md5 of the `window` words ENDING at word i (joined by ' ') starts
  * with hex nibble 0 — value-identical to the per-row form
  * `when(idx >= window && substring(md5(concat_ws(' ', slice(ws,
  * idx-(window-1), window))), 1, 1) = '0', 1).otherwise(0)` that
  * [[graft.operators.CorpusFilters.cdcChunks]] evaluated interpreted per
  * EXPLODED word row — which also forced the Generate to carry the whole
  * `ws` array on every word row (O(words²) bytes per document through
  * the explode). Computing the flag array before the explode lets the
  * caller explode `arrays_zip(ws, flags)` instead. One digest per
  * window; codegen passes through. */
case class CdcFlags(child: Expression, window: Int) extends UnaryExpression {
  require(window >= 1, "cdc_flags requires window >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cdc_flags"

  override def nullSafeEval(input: Any): Any =
    CdcFlags.compute(input.asInstanceOf[ArrayData], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcFlags.compute($c, $window)")

  override protected def withNewChildInternal(newChild: Expression): CdcFlags =
    copy(child = newChild)
}

object CdcFlags {
  def compute(words: ArrayData, window: Int): ArrayData = {
    val m = words.numElements()
    val out = new Array[Long](m)
    if (m >= window) {
      val wb = Md5Words.byteImages(words)
      var i = window - 1
      while (i < m) {
        val d = Md5Words.digestOf(wb, i - (window - 1), i + 1)
        if (((d(0) >> 4) & 0xf) == 0) out(i) = 1L
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  /** `cdc_flags(words, window)` over a word-array column. */
  def apply(words: Column, window: Int): Column =
    column(CdcFlags(expression(words), window))
}
