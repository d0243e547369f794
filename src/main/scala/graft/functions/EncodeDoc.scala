package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-DOCUMENT tokenizer application as ONE native call — the encode
  * half of each trained tokenizer family (BPE / unigram-LM / WordPiece),
  * replacing the explode-every-token → distinct-word segment →
  * token-level hash-join → sorted-collect_list-md5 pipeline with a
  * map-only expression per document.
  *
  * Value contract (the DuckDB oracles pin the digests, so ANY
  * divergence fails the gate): n = Σ per-word token counts, unk = #
  * words that collapsed to [UNK] (WordPiece only; 0 elsewhere), digest
  * = md5 of the space-joined token sequence in document order —
  * identical bytes to `array_join(transform(array_sort(collect_list(
  * struct(pos, ts))), x -> x.ts), ' ')` because the per-word token
  * strings are joined by single spaces both within and between words.
  *
  * Scale trade, stated: the relational form segmented each distinct
  * word once per CORPUS but paid a token-level shuffle (join on word +
  * per-doc sorted collect_list) — the dominant data movement of every
  * encode query. The native form segments once per distinct word per
  * TASK (a per-instance concurrent memo, Zipf makes the hit rate high)
  * and moves NOTHING: the whole encode is one projection over the
  * document scan. The trained artifact (vocab / cost table / merge
  * list) is kilobytes and rides the expression into the plan — the
  * same train-then-apply contract as the PQ codebooks.
  *
  * Invocation: each family's companion builds the expression over a
  * word-array column with that call's trained artifact as a field, so a
  * plan holds its own artifact and no name is bound in the session. */
abstract class EncodeDocBase extends UnaryExpression {
  /** Segment one word → (tokens, collapsed-to-UNK). */
  def segment(word: String): (Array[String], Boolean)

  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, (Array[String], Boolean)]()

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("unk", LongType, nullable = false),
    StructField("digest", StringType, nullable = false)))

  final def encode(words: ArrayData): InternalRow = {
    val md = EncodeDocBase.digest.get()
    md.reset()
    var n = 0L
    var unk = 0L
    var first = true
    val m = words.numElements()
    var i = 0
    while (i < m) {
      val w = words.getUTF8String(i).toString
      // bounded memo, checked only on INSERT (ADVICE r17: the previous
      // per-token memo.size() summed ConcurrentHashMap counter cells on
      // every memo HIT — the hot path); get-then-insert keeps the Zipf
      // head's hits size()-free, and the overflow clear only ever runs
      // from the rare miss path
      var cached = memo.get(w)
      if (cached == null) {
        if (memo.size() > (1 << 20)) memo.clear()
        cached = memo.computeIfAbsent(w, (k: String) => segment(k))
      }
      val (toks, isUnk) = cached
      n += toks.length
      if (isUnk) unk += 1L
      var t = 0
      while (t < toks.length) {
        if (!first) md.update(' '.toByte)
        md.update(toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        first = false
        t += 1
      }
      i += 1
    }
    val d = md.digest()
    val cs = new Array[Char](32)
    var j = 0
    while (j < 16) {
      cs(2 * j) = EncodeDocBase.HexChars((d(j) >> 4) & 0xf)
      cs(2 * j + 1) = EncodeDocBase.HexChars(d(j) & 0xf)
      j += 1
    }
    new GenericInternalRow(Array[Any](n, unk,
      UTF8String.fromString(new String(cs))))
  }

  override def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("encoder", this,
      "graft.functions.EncodeDocBase")
    defineCodeGen(ctx, ev, c => s"$ref.encode($c)")
  }
}

object EncodeDocBase {
  private[functions] val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private[functions] val HexChars = "0123456789abcdef".toCharArray
}

/** WordPiece greedy longest-match-first (BERT semantics — a stuck word
  * collapses whole to [UNK]); segmentation delegated to the ONE shared
  * [[graft.operators.TextAnalysis.greedySegment]]. */
case class WordpieceEncodeDoc(child: Expression, vocab: Seq[String])
    extends EncodeDocBase {
  @transient private lazy val vset = vocab.toSet
  @transient private lazy val maxLen =
    if (vocab.isEmpty) 1 else vocab.map(_.length).max
  override def prettyName: String = "wp_encode_doc"
  override def segment(word: String): (Array[String], Boolean) =
    graft.operators.TextAnalysis.greedySegment(word, vset, maxLen)
  override protected def withNewChildInternal(newChild: Expression): WordpieceEncodeDoc =
    copy(child = newChild)
}

object WordpieceEncodeDoc {
  /** `wp_encode_doc(words)` under a trained vocabulary. */
  def apply(words: Column, vocab: Seq[String]): Column =
    column(WordpieceEncodeDoc(expression(words), vocab))
}

/** Unigram-LM integer-cost Viterbi (micro-nat costs re-derived from the
  * trained (piece, cnt) table exactly as the operator did); delegated to
  * the ONE shared [[graft.operators.TextAnalysis.viterbiSegment]]. */
case class UnigramEncodeDoc(child: Expression, pieces: Seq[(String, Long)])
    extends EncodeDocBase {
  @transient private lazy val cost = {
    val total = pieces.map(_._2).sum.toDouble
    pieces.map { case (p, c) => p -> math.round(-math.log(c / total) * 1e6) }.toMap
  }
  @transient private lazy val maxLen = pieces.map(_._1.length).max
  override def prettyName: String = "uni_encode_doc"
  override def segment(word: String): (Array[String], Boolean) =
    (graft.operators.TextAnalysis.viterbiSegment(word, cost, maxLen), false)
  override protected def withNewChildInternal(newChild: Expression): UnigramEncodeDoc =
    copy(child = newChild)
}

object UnigramEncodeDoc {
  /** `uni_encode_doc(words)` under a trained (piece, count) table. */
  def apply(words: Column, pieces: Seq[(String, Long)]): Column =
    column(UnigramEncodeDoc(expression(words), pieces))
}

/** BPE application in learned merge order. Each merge is one
  * left-to-right NON-OVERLAPPING pass (merge at i consumes i and i+1 and
  * resumes at i+2) — exactly the global `regexp_replace` of
  * `|pa| |pb|` → `|pa pb|` on the piped encoding that the relational
  * form ran and the DuckDB oracle still runs (Java and RE2 global
  * replace both resume AFTER the replacement, so replaced text is never
  * re-matched within a pass). */
case class BpeEncodeDoc(child: Expression, merges: Seq[(String, String)])
    extends EncodeDocBase {
  override def prettyName: String = "bpe_encode_doc"
  override def segment(word: String): (Array[String], Boolean) = {
    var syms: Array[String] = Array.tabulate(word.length)(i =>
      word.substring(i, i + 1))
    merges.foreach { case (pa, pb) =>
      if (syms.length >= 2) {
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == pa && syms(i + 1) == pb) {
            out += pa + pb
            i += 2
          } else {
            out += syms(i)
            i += 1
          }
        }
        syms = out.toArray
      }
    }
    (syms, false)
  }
  override protected def withNewChildInternal(newChild: Expression): BpeEncodeDoc =
    copy(child = newChild)
}

object BpeEncodeDoc {
  /** `bpe_encode_doc(words)` under learned merges, in merge order. */
  def apply(words: Column, merges: Seq[(String, String)]): Column =
    column(BpeEncodeDoc(expression(words), merges))
}
