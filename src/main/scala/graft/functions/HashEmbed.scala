package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column, expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native UNNORMALIZED hashed bag-of-words embedding: per document, the
  * dims-sized array of signed slot sums — slot(term) = floor(u(salt,
  * term) · dims), sign(term) = +1 if u(salt+"s", term) < 0.5 else −1,
  * u = [[graft.operators.Sampling.hashUnitLocal]] (first 4 md5 bytes of
  * salt||term over 2^32, the engine-portable unit hash every sampler
  * shares).
  *
  * Value-identical to the relational formulation in
  * [[graft.operators.TextAnalysis.hashEmbedding]]'s history (explode
  * terms → two md5s per term → groupBy (doc, slot) → map rebuild):
  * the slot sums add ±1.0 doubles, which are exact integers far below
  * 2^53, so summation order cannot change the value — a doc-local
  * sequential fold equals the shuffle-order aggregate bit for bit, and
  * the DuckDB oracle replays the same sums. What the native form
  * removes at scale: one corpus-sized token explode, TWO md5
  * evaluations per token through interpreted expressions, a
  * (doc, slot)-keyed shuffle and a doc-keyed map_from_entries rollup —
  * the embedding becomes one map-only call per document (normalization
  * stays a plain Column expression on the returned array). */
case class HashEmbed(child: Expression, dims: Int, salt: String)
    extends UnaryExpression {
  require(dims >= 1, "hash_embed requires dims >= 1")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "hash_embed"

  override def nullSafeEval(input: Any): Any =
    HashEmbed.compute(input.asInstanceOf[ArrayData], dims, salt)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltRef = ctx.addReferenceObj("salt", salt, "java.lang.String")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashEmbed.compute($c, $dims, $saltRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): HashEmbed =
    copy(child = newChild)
}

object HashEmbed {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 4 md5 bytes of (salt || term) over 2^32 — hashUnitLocal with a
    * reused thread-local digest. */
  private def unit(md: java.security.MessageDigest, salt: Array[Byte],
                   term: Array[Byte]): Double = {
    md.reset()
    md.update(salt)
    md.update(term)
    val d = md.digest()
    (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)).toDouble / 4294967296.0
  }

  def compute(words: ArrayData, dims: Int, salt: String): ArrayData = {
    val m = words.numElements()
    val md = digest.get()
    val saltB = salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val saltSB = (salt + "s").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sums = new Array[Double](dims)
    var i = 0
    while (i < m) {
      val tb = words.getUTF8String(i).getBytes
      val slot = math.floor(unit(md, saltB, tb) * dims).toInt
      val sgn = if (unit(md, saltSB, tb) < 0.5) 1.0 else -1.0
      sums(slot) += sgn
      i += 1
    }
    new GenericArrayData(sums)
  }

  /** `hash_embed(words, dims, salt)` over a word-array column; the salt
    * reaches [[compute]] byte for byte. */
  def apply(words: Column, dims: Int, salt: String): Column =
    column(HashEmbed(expression(words), dims, salt))
}

/** Native per-document hashed-bucket COUNT array: counts(b) = number of
  * the document's tokens whose [[graft.operators.Sampling.hashUnitLocal]]
  * unit hash lands in bucket b = floor(u(salt, term) · buckets) — the
  * DSIR bucketing rule, one md5 per token inside a single map-only call
  * per document instead of a corpus-sized token explode with an
  * interpreted md5 per row. Counts are exact longs, so any downstream
  * regrouping of sums is value-identical to the token-level rollup the
  * DuckDB oracle replays. */
case class DocBuckets(child: Expression, buckets: Int, salt: String)
    extends UnaryExpression {
  require(buckets >= 1, "doc_buckets requires buckets >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "doc_buckets"

  override def nullSafeEval(input: Any): Any =
    DocBuckets.compute(input.asInstanceOf[ArrayData], buckets, salt)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltRef = ctx.addReferenceObj("salt", salt, "java.lang.String")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.DocBuckets.compute($c, $buckets, $saltRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): DocBuckets =
    copy(child = newChild)
}

object DocBuckets {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(words: ArrayData, buckets: Int, salt: String): ArrayData = {
    val m = words.numElements()
    val md = digest.get()
    val saltB = salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val counts = new Array[Long](buckets)
    var i = 0
    while (i < m) {
      md.reset()
      md.update(saltB)
      md.update(words.getUTF8String(i).getBytes)
      val d = md.digest()
      val u = (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)).toDouble / 4294967296.0
      counts(math.floor(u * buckets).toInt) += 1L
      i += 1
    }
    new GenericArrayData(counts)
  }

  /** `doc_buckets(words, buckets, salt)` over a word-array column; the
    * salt reaches [[compute]] byte for byte. */
  def apply(words: Column, buckets: Int, salt: String): Column =
    column(DocBuckets(expression(words), buckets, salt))
}
