package graft.operators

import graft.functions.{ArrayDot, BpeEncodeDoc, HashEmbed, ShingleStrings,
  UnigramEncodeDoc, WinnowingFingerprints, WordpieceEncodeDoc}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language id, canonical fingerprinting. All are map-only
  * column transforms (no shuffle) — they scan, compute, and keep Catalyst's
  * column pruning / pushdown intact, so at 100 TB they run at IO speed.
  *
  * Determinism: integer counts, ratios rounded to fixed precision, md5
  * fingerprints — all bit-identical across engines.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def wsTokens(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))

  /** BPE-ish subword count: alpha runs count ceil(len/4) subwords (a common
    * ~4-chars-per-token heuristic), digit runs and punctuation count one per
    * char. Pure regexp — no external tokenizer. */
  def bpeishTokens(text: Column): Column = {
    val alphaChunks = // each alpha run contributes ceil(len/4)
      aggregate(
        regexp_extract_all(text, lit("[A-Za-z]+"), lit(0)),
        lit(0L), (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("long"))
    val nonAlpha = length(regexp_replace(text, "[A-Za-z\\s]", "")).cast("long")
    alphaChunks + nonAlpha
  }

  private val stopwords = Seq("the", "a", "an", "and", "of", "to", "in", "is")

  /** Quality features + score in [0,1]: word count band, mean word length
    * band, stopword ratio, punctuation density. Mirrors the usual Gopher/C4
    * style filters, engine-portable. */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val words = filter(split(lower(t), "\\s+"), w => length(w) > 0)
    val wc = size(words).cast("long")
    val meanLen = round(length(regexp_replace(t, "\\s", "")).cast("double") / wc, 4)
    val stopRatio = round(
      size(filter(words, w => w.isin(stopwords.map(lit): _*))).cast("double") / wc, 4)
    val punctRatio = round(
      length(regexp_replace(t, "[A-Za-z0-9\\s]", "")).cast("double")
        / greatest(length(t), lit(1)).cast("double"), 4)
    val score = round(
      when(wc.between(5, 100000), lit(0.25)).otherwise(lit(0.0)) +
      when(meanLen.between(2.0, 12.0), lit(0.25)).otherwise(lit(0.0)) +
      when(stopRatio > 0.01, lit(0.25)).otherwise(lit(0.0)) +
      when(punctRatio < 0.2, lit(0.25)).otherwise(lit(0.0)), 2)
    docs.select(col("doc_id"), wc.as("word_cnt"), meanLen.as("mean_word_len"),
      stopRatio.as("stop_ratio"), punctRatio.as("punct_ratio"), score.as("quality"))
  }

  /** READABILITY: Flesch reading-ease + Flesch-Kincaid grade level per
    * document from pure-regexp proxies — words are whitespace tokens
    * (the corpus-wide rule), sentences are `[.!?]+` runs (floor 1: a
    * fragment is one sentence), syllables are vowel-group runs
    * `[aeiouy]+` of the lowercased text (the standard cheap
    * approximation). The "too dense to train on / too trivial to keep"
    * band filter next to [[qualityScore]]'s structural heuristics.
    * Empty docs (0 words) emit null scores instead of a fabricated
    * constant. round(4). MAP-ONLY. */
  def readability(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val words = wsTokens(t)
    val sentences = greatest(lit(1L),
      size(regexp_extract_all(t, lit("[.!?]+"), lit(0))).cast("long"))
    val syllables = size(
      regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0))).cast("long")
    val wps = words.cast("double") / sentences
    val spw = syllables.cast("double") / words
    docs.select(col("doc_id"), words.cast("long").as("n_words"),
      sentences.as("n_sentences"), syllables.as("n_syllables"),
      when(words > 0, round(lit(206.835) - lit(1.015) * wps
        - lit(84.6) * spw, 4)).as("flesch_ease"),
      when(words > 0, round(lit(0.39) * wps + lit(11.8) * spw
        - lit(15.59), 4)).as("fk_grade"))
  }

  /** Marker words per language for the n-gram/stopword language-id heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "es" -> Seq("el", "la", "y", "los", "es"))

  /** Language id: the language whose marker-word hit count is highest
    * (ties broken by language code order); 'und' when nothing matches. */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0)
    val scored = docs.select(col("doc_id"), words.as("w"))
      .select(col("doc_id") +:
        langMarkers.map { case (lang, ms) =>
          size(filter(col("w"), w => w.isin(ms.map(lit): _*))).as(s"c_$lang")
        }: _*)
    // greatest-count argmax; deterministic tie-break = first in list order
    val best = langMarkers.map { case (l, _) => col(s"c_$l") }.reduce((a, b) => greatest(a, b))
    val firstWins = langMarkers.reverse.foldLeft(lit("und"): Column) {
      case (e, (l, _)) => when(col(s"c_$l") === best && best > 0, lit(l)).otherwise(e)
    }
    scored.select(col("doc_id"), firstWins.as("lang_pred"))
  }

  /** Canonical fingerprint (OpenRefine-style): md5 of the space-joined,
    * sorted, distinct lowercase tokens. Word order / repetition insensitive —
    * a cheap semantic dedup key. */
  def fingerprint(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0)
    docs.select(col("doc_id"),
      md5(concat_ws(" ", array_sort(array_distinct(words)))).as("fingerprint"))
  }

  /** Per-document top-k terms by tf-idf (tfidf = tf · ln(N/df), rounded to
    * 4 decimals BEFORE ranking so engines whose ln differs in the last ulp
    * still rank identically; ties break on the term). Plan shape: explode →
    * two map-side-combinable aggregates (doc-term tf, term df) → broadcast
    * of the 1-row corpus count → per-doc window top-k. The df table is
    * vocabulary-sized, and the window partitions by doc_id — both shuffle
    * keys are uniform at any corpus size. */
  def tfidfTopTerms(docs: DataFrame, k: Int, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol),
      explode(filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))))
      .where(col("rnk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("tfidf"), col("rnk"))
  }

  /** BM25 retrieval for a LITERAL query term set — the standard way to pull
    * topic-targeted training data out of a web-scale corpus ("give me the
    * top-k docs about X" as a selection stage). Okapi BM25 with the Lucene
    * idf form: score(d) = Σ_t ln(1 + (N − df + ½)/(df + ½)) ·
    * tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).
    *
    * Determinism contract: dl and the corpus dl-sum are integer-valued
    * doubles (exact below 2^53), so avgdl is engine-identical; each
    * per-term contribution rounds to 6 decimals and the per-doc sum runs
    * as exact DECIMAL (partial-agg order cannot flip it), then rounds to 4
    * for ranking with a doc-id tiebreak.
    *
    * Shape at 100 TB: tokens are filtered to the query's own terms BEFORE
    * the explode leaves the map side — the (doc, term) aggregate only ever
    * sees matching rows; df reduces to a query-sized frame (broadcast);
    * corpus stats are one broadcast row; the final top-k is
    * TakeOrderedAndProject, never a global sort. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val qlit = array(queryTerms.map(lit): _*)
    val base = docs.select(col(idCol),
        filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0).as("ws"))
      .where(size(col("ws")) > 0)
    val stats = broadcast(base
      .agg(count(lit(1)).as("n_docs"),
        avg(size(col("ws")).cast("double")).as("avgdl")))
    val tf = base
      .select(col(idCol), size(col("ws")).cast("double").as("dl"),
        explode(filter(col("ws"), w => array_contains(qlit, w))).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = broadcast(tf.groupBy("term").agg(count(lit(1)).as("df")))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    // evaluation order mirrors the oracle exactly: (1-b) + ((b*dl)/avgdl),
    // then k1 * that — multiplication associativity is not free to change
    val norm = col("tf") +
      lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))
    tf.join(dfreq, "term")
      .crossJoin(stats)
      .withColumn("w",
        round(idf * col("tf") * (k1 + 1) / norm, 6).cast("decimal(18,6)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("matched_terms"),
        round(sum(col("w")), 4).cast("double").as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Mean token surprisal under the corpus unigram LM with add-one
    * smoothing: -ln((cnt+1)/(total+vocab)) averaged per doc — the cheap
    * perplexity-style quality signal (high = rare/garbled tokens, low =
    * common fluent text). Plan: explode → term-frequency partial agg →
    * broadcast of the 1-row corpus stats → per-doc aggregate; both shuffle
    * keys (term, doc id) are uniform at any corpus size. Rounded to 4
    * decimals so engines whose ln differs in the last ulp agree. */
  def unigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)).as("term"))
    val freq = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val stats = broadcast(freq.agg(
      sum("cnt").cast("double").as("total"),
      count(lit(1)).cast("double").as("vocab")))
    toks.join(freq, "term").crossJoin(stats)
      .withColumn("nll",
        -log((col("cnt") + 1).cast("double") / (col("total") + col("vocab"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), round(avg("nll"), 4).as("surprisal"))
  }

  /** BPE vocabulary induction over the corpus (Sennrich et al. 2016,
    * "Neural Machine Translation of Rare Words with Subword Units"): the
    * classic tokenizer-training loop — count adjacent symbol pairs over
    * the word-frequency table, merge the most frequent pair everywhere
    * (ties to the lexicographically smallest pair), repeat. Returns the
    * learned merge table (round, left_sym, right_sym, cnt) — the artifact
    * a BPE tokenizer ships. Pre-tokenization keeps only [a-z]+ runs (the
    * standard alphabetic pre-split). Greedy merge application is
    * left-to-right non-overlapping ("aaa" + (a,a) -> "aa","a"), identical
    * to a global regex replace — which is how the DuckDB oracle and
    * `bpeEncode`'s plan-literal replace chain express the same semantics.
    *
    * Shape at 100 TB: ONE distributed corpus pass builds the DISTINCT-WORD
    * frequency table (the classic BPE scale trick — everything after runs
    * on the vocabulary, orders of magnitude smaller than the corpus); the
    * merge loop itself runs on the driver over that artifact with
    * incremental pair-count maintenance — a lazy-deletion heap of pair
    * counts plus a pair→words index, so each round touches only the words
    * containing the merged pair. This is how production trainers work
    * (Sennrich's own reference implementation; HF tokenizers), and it is
    * the fix for the round-7 watch-item: a 32k-merge vocabulary is 32k
    * heap operations, not 32k sequential Spark jobs. Exact below
    * `maxVocabWords` (driver-memory guard for extreme word cardinalities —
    * beyond it the most frequent words train the tokenizer, the standard
    * min-frequency truncation; a vocabulary frame is megabytes where the
    * corpus is terabytes). */
  def bpeMerges(docs: DataFrame, merges: Int, textCol: String = "text",
                maxVocabWords: Int = 1 << 22): DataFrame = {
    require(merges >= 1, "merges must be positive")
    val spark = docs.sparkSession
    // the only distributed work: word frequencies (uniform-key partial agg)
    val wf = docs.select(explode(
        expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .orderBy(col("wc").desc, col("word")).limit(maxVocabWords)
      .collect()

    val syms: Array[Array[String]] = wf.map(_.getString(0).split(""))
    val wcs: Array[Long] = wf.map(_.getLong(1))
    val pairCount = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val pairWords = scala.collection.mutable.HashMap.empty[(String, String), scala.collection.mutable.BitSet]

    def eachPair(s: Array[String])(f: ((String, String)) => Unit): Unit = {
      var i = 0
      while (i + 1 < s.length) { f((s(i), s(i + 1))); i += 1 }
    }
    syms.indices.foreach { w =>
      eachPair(syms(w)) { p =>
        pairCount.update(p, pairCount.getOrElse(p, 0L) + wcs(w))
        pairWords.getOrElseUpdate(p, scala.collection.mutable.BitSet.empty) += w
      }
    }
    // max-heap: highest count first, then lexicographically smallest pair
    // (the argmax tie-break of the per-round distributed formulation).
    // Entries go stale when counts change; dequeue validates against the
    // live count and discards mismatches (classic lazy deletion).
    val ord: Ordering[(Long, String, String)] =
      (x: (Long, String, String), y: (Long, String, String)) => {
        val c = java.lang.Long.compare(x._1, y._1)
        if (c != 0) c
        else { val a = y._2.compareTo(x._2); if (a != 0) a else y._3.compareTo(x._3) }
      }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)](ord)
    pairCount.foreach { case ((a, b), c) => heap.enqueue((c, a, b)) }

    def applyMerge(s: Array[String], pa: String, pb: String): Array[String] = {
      val out = Array.newBuilder[String]
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == pa && s(i + 1) == pb) { out += pa + pb; i += 2 }
        else { out += s(i); i += 1 }
      }
      out.result()
    }

    val learned = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var r = 1
    while (r <= merges && heap.nonEmpty) {
      val (cnt, pa, pb) = heap.dequeue()
      if (cnt > 0 && pairCount.get((pa, pb)).contains(cnt)) {
        learned += ((r, pa, pb, cnt))
        val touched = scala.collection.mutable.HashSet.empty[(String, String)]
        // only the words actually containing (pa,pb) are re-encoded
        pairWords.get((pa, pb)).map(_.toArray).getOrElse(Array.empty).foreach { w =>
          val before = syms(w)
          eachPair(before) { p =>
            pairCount.update(p, pairCount(p) - wcs(w))
            touched += p
            pairWords.get(p).foreach(_ -= w)
          }
          val after = applyMerge(before, pa, pb)
          syms(w) = after
          eachPair(after) { p =>
            pairCount.update(p, pairCount.getOrElse(p, 0L) + wcs(w))
            touched += p
            pairWords.getOrElseUpdate(p, scala.collection.mutable.BitSet.empty) += w
          }
        }
        touched.foreach { p =>
          val c = pairCount.getOrElse(p, 0L)
          if (c > 0) heap.enqueue((c, p._1, p._2))
          else { pairCount.remove(p); pairWords.remove(p) }
        }
        r += 1
      }
      // stale or zeroed entry: discard and pop again in the same round
    }
    import spark.implicits._
    learned.toSeq.toDF("round", "left_sym", "right_sym", "cnt")
  }

  /** Apply a learned BPE merge table to the corpus — the tokenization pass
    * a training pipeline runs over every document once the tokenizer is
    * trained (`bpeMerges` is train, this is apply). Returns one row per doc:
    * (idCol, n_bpe_tokens, tok_digest) where tok_digest is the md5 of the
    * space-joined token sequence in document order — WHICH tokens, not just
    * how many.
    *
    * The merge table is collected to the driver (a tokenizer vocabulary is
    * kilobytes — same train-then-apply shape as the PQ codebooks) and folded
    * into the plan as a chain of literal `regexp_replace` calls, applied in
    * merge order: greedy BPE application IS "replace each merge pair
    * globally, in the order learned" (Sennrich et al. 2016), and global
    * regex replace is left-to-right non-overlapping in both Java regex and
    * DuckDB's RE2, so token sequences are bit-identical cross-engine.
    *
    * Shape at 100 TB: encoding runs once per DISTINCT word (the same
    * vocabulary-memoization trick training uses), map-only over the
    * distinct-word frame; the corpus then hash-joins that frame on the
    * uniform word key and re-aggregates per doc (order restored by
    * array_sort on the carried position — collect_list order is not
    * guaranteed post-shuffle). No driver-side row data, no broadcast of
    * anything corpus-sized. */
  def bpeEncode(docs: DataFrame, merges: DataFrame,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    // (round, left, right) in learned order; kilobytes by construction
    val ms = merges.select(col("round"), col("left_sym"), col("right_sym"))
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))
    // one native call per document (graft.functions.BpeEncodeDoc): merge
    // application and the hop-ordered digest run doc-locally — the token
    // digest the oracle pins is byte-identical, and the token-level
    // shuffle (word join + per-doc sorted collect_list) disappears
    docs.select(col(idCol),
        expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)").as("ws"))
      .where(size(col("ws")) > 0)
      .select(col(idCol), BpeEncodeDoc(col("ws"), ms.toSeq).as("e"))
      .select(col(idCol), col("e.n").as("n_bpe_tokens"),
        col("e.digest").as("tok_digest"))
  }

  /** Tokenizer fertility report: BPE tokens emitted per word, by stratum
    * (language/source) — the standard tokenizer-evaluation metric. A
    * vocabulary trained on a majority language over-segments the others;
    * this report is how a curation run catches that before training. Pure
    * composition: [[bpeEncode]]'s per-doc token counts joined to the
    * map-only word counts and rolled up per stratum (uniform keys
    * everywhere; the rollup is strata-sized). */
  def bpeFertility(docs: DataFrame, merges: DataFrame,
                   strataCol: String = "lang", idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val enc = bpeEncode(docs, merges, idCol, textCol)
      .select(col(idCol), col("n_bpe_tokens"))
    val base = docs.select(col(idCol), col(strataCol),
      size(expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)"))
        .cast("long").as("n_words"))
    base.join(enc, Seq(idCol), "left")
      .groupBy(strataCol)
      .agg(sum("n_words").as("n_words"),
        sum(coalesce(col("n_bpe_tokens"), lit(0L))).as("n_bpe_tokens"),
        round(sum(coalesce(col("n_bpe_tokens"), lit(0L))).cast("double") /
          greatest(sum("n_words"), lit(1L)), 4).as("fertility"))
  }

  /** Character-level Shannon entropy per document over [a-z] (the
    * lowercase-alphabetic convention of every operator here) — a classic
    * gibberish/low-quality signal: keyboard mash and base64-ish blobs sit
    * far from prose's ~2.6–2.9 nats. The per-doc fold runs in SORTED
    * character order on both engines (collected ≤26-entry count list),
    * so the double sum is order-identical and round(6) compares exactly.
    * Documents with no alphabetic characters emit no row.
    *
    * Shape at 100 TB: one (doc, char) partial agg (≤ 26 rows per doc
    * survive the combine), then a doc-keyed agg; no window. */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(col(idCol), explode(
        expr(s"regexp_extract_all(lower($textCol), '[a-z]', 0)")).as("ch"))
      .groupBy(idCol, "ch").agg(count(lit(1)).as("k"))
      .groupBy(idCol)
      .agg(sum("k").as("n_chars"),
        sort_array(collect_list(struct(col("ch"), col("k")))).as("cs"))
      .select(col(idCol), col("n_chars"),
        round(expr(
          "aggregate(cs, 0D, (acc, x) -> acc - (x.k / CAST(n_chars AS DOUBLE)) * ln(x.k / CAST(n_chars AS DOUBLE)))"),
          6).as("entropy"))

  /** Substring-frequency SEED table for the unigram-LM trainer (Kudo 2018,
    * "Subword Regularization": the initial over-complete vocabulary EM
    * prunes down) — every substring of length 1..`maxPieceLen` of every
    * corpus word, counted per occurrence weighted by word frequency.
    * This is the trainer's ONE distributed pass beyond word frequencies,
    * and the oracle-checkable face of training ([[unigramVocab]] derives
    * its driver-side seed with the identical rule — spec-pinned equal).
    *
    * Shape at 100 TB: word frequencies are a uniform-key partial agg; the
    * substring explode multiplies the DISTINCT-WORD frame (vocabulary-
    * sized, not corpus-sized) by ~len·maxPieceLen, then one more uniform
    * partial agg onto the piece key. */
  def unigramSeed(docs: DataFrame, maxPieceLen: Int = 3,
                  textCol: String = "text",
                  maxVocabWords: Int = 1 << 22): DataFrame = {
    require(maxPieceLen >= 1, "maxPieceLen must be positive")
    docs.select(explode(
        expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .orderBy(col("wc").desc, col("word")).limit(maxVocabWords)
      .select(col("wc"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)),
           |  st -> transform(sequence(1, least($maxPieceLen, length(word) - st + 1)),
           |    ln -> substring(word, st, ln))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum(col("wc")).as("cnt"))
  }

  /** Unigram-LM tokenizer TRAINING (Kudo 2018 — the SentencePiece unigram
    * model real pipelines ship beside BPE): seed with the most frequent
    * substrings ([[unigramSeed]]'s rule), run `emIters` rounds of EM —
    * E-step Viterbi-segments every distinct word under the current piece
    * probabilities, M-step re-estimates probabilities from the
    * frequency-weighted piece usage — then prune to `vocabSize` keeping
    * every single character (full coverage, the paper's invariant).
    * Returns (piece, cnt, score) with score = round(ln p, 6).
    *
    * Determinism: piece costs are quantized to integer MICRO-NATS
    * (round(−ln p · 1e6)) before Viterbi, so segmentation decisions are
    * integer comparisons — no float-order sensitivity; ties prefer the
    * longer final piece at each DP boundary, then the seed order is
    * (count desc, piece asc). Unreferenced non-char pieces drop each
    * round; unreferenced chars keep a floor count of 1.
    *
    * Shape at 100 TB: the distinct-word frequency frame (capped at
    * `maxVocabWords`, checkpointed once) NEVER leaves the executors — the
    * seed pass is the distributed [[unigramSeed]] rule, and each EM
    * round's E-step Viterbi-segments the distinct words in executors
    * under the broadcast micro-nat cost map (exactly [[unigramEncode]]'s
    * contract) with the M-step a piece-keyed partial aggregation. Only
    * VOCABULARY-SIZED artifacts (seed top-k, per-round usage counts, the
    * final table — kilobytes) ever reach the driver. Integer costs and
    * exact long usage sums make the distributed fold order-insensitive,
    * so results are bit-identical to the former driver-side loop
    * (spec-pinned: the hand-computed EM goldens are unchanged). */
  def unigramVocab(docs: DataFrame, vocabSize: Int = 64,
                   maxPieceLen: Int = 3, emIters: Int = 2,
                   seedSize: Int = 2048, textCol: String = "text",
                   maxVocabWords: Int = 1 << 22): DataFrame = {
    require(vocabSize >= 1 && emIters >= 1 && seedSize >= vocabSize,
      s"bad unigram config ($vocabSize, $emIters, $seedSize)")
    val spark = docs.sparkSession
    import spark.implicits._
    // the EM loop reads this frame emIters (+1 seed) times: checkpoint
    // once; repartition spreads the top-k's single output partition back
    // across the cluster so every E-step segments in parallel
    val wfDf = docs.select(explode(
        expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .orderBy(col("wc").desc, col("word")).limit(maxVocabWords)
      .repartition(col("word"))
      .localCheckpoint()

    // distributed seed with unigramSeed's exact rule (spec-pinned equal);
    // only the top-seedSize pieces and the (≤ alphabet-sized) char slice
    // are collected
    val seedDf = wfDf.select(col("wc"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)),
           |  st -> transform(sequence(1, least($maxPieceLen, length(word) - st + 1)),
           |    ln -> substring(word, st, ln))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum(col("wc")).as("cnt"))
      .localCheckpoint()
    val charCounts = seedDf.where(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val chars = charCounts.map(_._1)
    val topSeed = seedDf.orderBy(col("cnt").desc, col("piece")).limit(seedSize)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    Blocks.release(seedDf)
    var pieces: Map[String, Long] = topSeed.toMap ++
      charCounts.map { case (c, cnt) => c -> math.max(1L, cnt) }

    def costsOf(ps: Map[String, Long]): Map[String, Long] = {
      val total = ps.valuesIterator.sum.toDouble
      ps.map { case (p, c) => p -> math.round(-math.log(c / total) * 1e6) }
    }
    for (_ <- 1 to emIters) {
      val bc = spark.sparkContext.broadcast(costsOf(pieces))
      val used = wfDf.select(col("word").as("_1"), col("wc").as("_2"))
        .as[(String, Long)]
        .mapPartitions { it =>
          val cm = bc.value
          it.flatMap { case (w, wc) =>
            viterbiSegment(w, cm, maxPieceLen).iterator.map(p => (p, wc)) }
        }
        .toDF("piece", "wc")
        .groupBy("piece").agg(sum(col("wc")).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      bc.destroy()
      pieces = used ++
        chars.filterNot(used.contains).map(c => c -> 1L)
    }
    Blocks.release(wfDf)
    // prune: every single char stays (coverage invariant); the remaining
    // vocabSize − nChars slots go to the best non-char pieces
    val charSet = chars.toSet
    val kept = (pieces.view.filterKeys(!charSet.contains(_))
        .toSeq.sortBy { case (p, c) => (-c, p) }
        .take(math.max(0, vocabSize - chars.length)) ++
      chars.map(c => c -> pieces.getOrElse(c, 1L)))
      .sortBy { case (p, c) => (-c, p) }
    val total = kept.map(_._2).sum.toDouble
    import spark.implicits._
    kept.map { case (p, c) =>
      (p, c, BigDecimal(math.log(c / total))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("piece", "cnt", "score")
  }

  /** Per-character fallback cost for a character the vocabulary does not
    * cover — SentencePiece's &lt;unk&gt; convention: the char passes
    * through as its own piece at a cost worse than any trained piece
    * (40 nats ≈ p = e⁻⁴⁰, far below a 1-in-total floor), so ties can
    * never prefer it over covered pieces. Below `maxVocabWords` this
    * never fires (every char of every counted word seeds the vocab and
    * survives pruning); ABOVE the cap a char appearing only in
    * below-cap words would otherwise be uncoverable and a hard require
    * here would kill the whole encode job on one rare glyph. */
  private[graft] val UnkCharCost: Long = 40L * 1000000L

  /** Integer-cost Viterbi segmentation: minimal total micro-nat cost over
    * pieces of length ≤ maxLen (single chars are always in the vocab —
    * or fall back to [[UnkCharCost]], so every word segments). Ties
    * prefer the LONGER final piece at each DP boundary — a deterministic
    * integer rule shared by train and encode. */
  private[graft] def viterbiSegment(word: String, cost: Map[String, Long],
                             maxLen: Int): Array[String] = {
    val n = word.length
    val INF = Long.MaxValue / 4
    val best = Array.fill(n + 1)(INF)
    val lastLen = new Array[Int](n + 1)
    best(0) = 0L
    var i = 1
    while (i <= n) {
      var l = 1
      val maxL = math.min(maxLen, i)
      while (l <= maxL) {
        if (best(i - l) < INF) {
          val piece = word.substring(i - l, i)
          val c = cost.get(piece) match {
            case Some(pc) => pc
            case None => if (l == 1) UnkCharCost else -1L // -1 = no piece
          }
          if (c >= 0L) {
            val cand = best(i - l) + c
            if (cand < best(i) || (cand == best(i) && l > lastLen(i))) {
              best(i) = cand; lastLen(i) = l
            }
          }
        }
        l += 1
      }
      i += 1
    }
    require(best(n) < INF, s"word '$word' not segmentable — missing chars in vocab")
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var pos = n
    while (pos > 0) {
      val l = lastLen(pos)
      out.prepend(word.substring(pos - l, pos))
      pos -= l
    }
    out.toArray
  }

  /** Apply a trained unigram vocabulary to the corpus — [[unigramVocab]]
    * is train, this is apply (the bpeEncode twin): one row per doc,
    * (idCol, n_unigram_tokens, tok_digest), digest = md5 of the
    * space-joined token sequence in document order. The vocabulary
    * collects to the driver (kilobytes — the PQ-codebook contract),
    * costs re-derived in micro-nats exactly as training did, and
    * segmentation runs ONCE per distinct word (mapPartitions over the
    * distinct-word frame with the broadcast cost map — the
    * vocabulary-memoization trick), then hash-joins back on the uniform
    * word key and re-aggregates per doc. */
  def unigramEncode(docs: DataFrame, vocab: DataFrame,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val vs = vocab.select(col("piece"), col("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    require(vs.nonEmpty, "empty unigram vocabulary")
    // one native call per document (graft.functions.UnigramEncodeDoc —
    // same micro-nat cost table, same shared viterbiSegment, byte-
    // identical digest): the distinct-word mapPartitions + token-level
    // join + sorted collect_list pipeline becomes one map-only projection
    docs.select(col(idCol),
        expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)").as("ws"))
      .where(size(col("ws")) > 0)
      .select(col(idCol), UnigramEncodeDoc(col("ws"), vs.toSeq).as("e"))
      .select(col(idCol), col("e.n").as("n_unigram_tokens"),
        col("e.digest").as("tok_digest"))
  }

  /** Tokenizer bake-off: BPE vs unigram-LM fertility per stratum — the
    * side-by-side report a pipeline publishes when choosing which
    * tokenizer to commit to (same `fertility` metric as
    * [[bpeFertility]]; both encodes ride the distinct-word memoization,
    * the rollup is strata-sized). */
  def tokenizerCompare(docs: DataFrame, merges: DataFrame, vocab: DataFrame,
                       strataCol: String = "lang", idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val bpe = bpeEncode(docs, merges, idCol, textCol)
      .select(col(idCol), col("n_bpe_tokens"))
    val uni = unigramEncode(docs, vocab, idCol, textCol)
      .select(col(idCol), col("n_unigram_tokens"))
    val base = docs.select(col(idCol), col(strataCol),
      size(expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)"))
        .cast("long").as("n_words"))
    base.join(bpe, Seq(idCol), "left").join(uni, Seq(idCol), "left")
      .groupBy(strataCol)
      .agg(sum("n_words").as("n_words"),
        sum(coalesce(col("n_bpe_tokens"), lit(0L))).as("n_bpe_tokens"),
        round(sum(coalesce(col("n_bpe_tokens"), lit(0L))).cast("double") /
          greatest(sum("n_words"), lit(1L)), 4).as("bpe_fertility"),
        sum(coalesce(col("n_unigram_tokens"), lit(0L)))
          .as("n_unigram_tokens"),
        round(sum(coalesce(col("n_unigram_tokens"), lit(0L))).cast("double") /
          greatest(sum("n_words"), lit(1L)), 4).as("unigram_fertility"))
  }

  /** WordPiece vocabulary (Schuster & Nakajima 2012 — the BERT-family
    * tokenizer, the third tokenizer beside [[bpeMerges]] and
    * [[unigramVocab]]): the top `vocabSize` substrings by the
    * [[unigramSeed]] frequency rule (cnt desc, piece asc) plus EVERY
    * single character the corpus contains (the full-coverage floor).
    * Deliberately seed-frequency-based rather than likelihood-trained so
    * the WHOLE vocabulary is SQL-replayable — BPE and unigram-LM cover
    * the trained-vocab story; this family's value is the ENCODER's
    * greedy longest-match-first semantics, which the registry oracle
    * pins cross-engine. Role-agnostic vocabulary: a piece may match
    * word-initially or as a continuation; the `##` marker is RENDERING
    * on the encoded output, not a separate vocab entry (divergence from
    * BERT's split initial/continuation vocab, documented).
    *
    * Shape at 100 TB: exactly unigramSeed's shape (distinct-word
    * substring explode + uniform partial aggs); the top-k and the char
    * floor are vocabulary-sized. */
  def wordpieceVocab(docs: DataFrame, vocabSize: Int = 256,
                     maxPieceLen: Int = 4, textCol: String = "text",
                     maxVocabWords: Int = 1 << 22): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be positive")
    // seed feeds both the top-k and the char floor: checkpoint so the
    // corpus substring pass runs once
    val seed = unigramSeed(docs, maxPieceLen, textCol, maxVocabWords)
      .localCheckpoint()
    val top = seed.orderBy(col("cnt").desc, col("piece")).limit(vocabSize)
    val chars = seed.where(length(col("piece")) === 1)
    top.union(chars).groupBy("piece").agg(max(col("cnt")).as("cnt"))
  }

  /** One LIKELIHOOD-scored WordPiece merge round (the published
    * WordPiece/SentencePiece-BPE criterion — Schuster & Nakajima 2012,
    * as popularized by the BERT tokenizer): over the character-split
    * word-frequency table, every adjacent symbol pair scores
    * freq(ab) / (freq(a) · freq(b)) — the pair whose merge most
    * increases corpus likelihood under a unigram symbol model — and the
    * round's ranking IS the trainer's choice function (BPE merges by
    * raw pair frequency; WordPiece normalizes by the parts' own
    * frequencies, preferring pairs that co-occur more than their parts
    * predict). Returns the top `topK` scored pairs:
    * (rnk, left_sym, right_sym, pair_cnt, left_cnt, right_cnt,
    * score_e9) with score_e9 = round(score · 1e9, 6); ranking uses the
    * UNROUNDED score — both engines form the identical IEEE
    * double(freq a)·double(freq b) product (doubles, because a long
    * product overflows at web-corpus symbol counts) and divide the same
    * exact integer numerator, so ordering can never drift — ties to the
    * lexicographically smallest pair.
    *
    * Complements [[wordpieceVocab]] (the seed-frequency vocab this
    * criterion would iterate from) — one round is exactly what a SQL
    * oracle can replay, the `ta_unigram_em1` pattern.
    *
    * Shape at 100 TB: ONE distributed pass to the distinct-word
    * frequency table, then uniform-key partial aggs onto the
    * alphabet-sized symbol frame and the alphabet²-bounded pair frame;
    * the final rank window runs on ≤ 26² rows. No driver loop, no
    * collect. */
  def wordpieceMergeScores(docs: DataFrame, topK: Int = 10,
                           textCol: String = "text"): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val wf = docs.select(explode(
        expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .localCheckpoint()
    val symCnt = wf.select(col("wc"), explode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as("c"))
      .groupBy("c").agg(sum("wc").as("scnt"))
    val pairCnt = wf.where(length(col("word")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> " +
          "struct(substring(word, i, 1) AS pa, substring(word, i + 1, 1) AS pb))"))
        .as("__p"))
      .select(col("__p.pa").as("pa"), col("__p.pb").as("pb"), col("wc"))
      .groupBy("pa", "pb").agg(sum("wc").as("pair_cnt"))
    val scored = pairCnt
      .join(broadcast(symCnt.select(col("c").as("pa"), col("scnt").as("left_cnt"))), Seq("pa"))
      .join(broadcast(symCnt.select(col("c").as("pb"), col("scnt").as("right_cnt"))), Seq("pb"))
      // the denominator product forms in DOUBLES: long·long overflows at
      // web-corpus symbol counts (two ~3e9 counts already exceed
      // Long.MaxValue); double(la)·double(lb) is the identical IEEE value
      // in both engines, so ordering still cannot drift
      .withColumn("__score",
        col("pair_cnt") /
          (col("left_cnt").cast("double") * col("right_cnt")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__score").desc, col("pa"), col("pb"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= topK)
      .select(col("rnk"), col("pa").as("left_sym"), col("pb").as("right_sym"),
        col("pair_cnt"), col("left_cnt"), col("right_cnt"),
        round(col("__score") * 1e9, 6).as("score_e9"))
  }

  /** ITERATED likelihood-scored WordPiece merges — the
    * [[wordpieceMergeScores]] criterion run as a real trainer loop:
    * each round scores every adjacent symbol pair
    * freq(ab) / (freq(a) · freq(b)) over the current symbol sequences,
    * merges the argmax pair everywhere (left-to-right non-overlapping,
    * [[bpeMerges]]' application rule; ties to the lexicographically
    * smallest pair), and re-scores. Returns the learned merge table
    * (round, left_sym, right_sym, pair_cnt, left_cnt, right_cnt,
    * score_e9); scores compare UNROUNDED, with the denominator product
    * formed in doubles (identical IEEE values both engines; a long
    * product overflows at web-corpus symbol counts).
    *
    * Shape at 100 TB: the ONE distributed pass builds the distinct-word
    * frequency table ([[bpeMerges]]' scale trick); the loop recomputes
    * pair + symbol counts over that vocabulary-sized artifact per round
    * — O(rounds · total symbols) driver work, right for the small merge
    * counts an oracle can replay. A production-depth vocabulary (32k
    * merges) would maintain counts incrementally exactly as
    * [[bpeMerges]]' lazy-deletion heap does (a merge only perturbs
    * scores of pairs touching its symbols — the likelihood numerator
    * AND denominators change only there), not by widening this loop. */
  def wordpieceMerges(docs: DataFrame, merges: Int, textCol: String = "text",
                      maxVocabWords: Int = 1 << 22): DataFrame = {
    require(merges >= 1, "merges must be positive")
    val spark = docs.sparkSession
    val wf = docs.select(explode(
        expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .orderBy(col("wc").desc, col("word")).limit(maxVocabWords)
      .collect()
    val syms: Array[Array[String]] = wf.map(_.getString(0).split(""))
    val wcs: Array[Long] = wf.map(_.getLong(1))

    def applyMerge(s: Array[String], pa: String, pb: String): Array[String] = {
      val out = Array.newBuilder[String]
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == pa && s(i + 1) == pb) { out += pa + pb; i += 2 }
        else { out += s(i); i += 1 }
      }
      out.result()
    }

    val learned = scala.collection.mutable.ListBuffer
      .empty[(Int, String, String, Long, Long, Long, Double)]
    var r = 1
    var live = true
    while (r <= merges && live) {
      val symCnt = scala.collection.mutable.HashMap.empty[String, Long]
      val pairCnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      syms.indices.foreach { w =>
        val s = syms(w); val c = wcs(w)
        var i = 0
        while (i < s.length) {
          symCnt.update(s(i), symCnt.getOrElse(s(i), 0L) + c)
          if (i + 1 < s.length)
            pairCnt.update((s(i), s(i + 1)),
              pairCnt.getOrElse((s(i), s(i + 1)), 0L) + c)
          i += 1
        }
      }
      if (pairCnt.isEmpty) live = false
      else {
        // argmax by score (double denominators — see above), ties to the
        // lexicographically smallest pair
        // double denominators: long·long overflows at web-corpus counts
        val best = pairCnt.keysIterator.reduce { (x, y) =>
          val sx = pairCnt(x).toDouble / (symCnt(x._1).toDouble * symCnt(x._2))
          val sy = pairCnt(y).toDouble / (symCnt(y._1).toDouble * symCnt(y._2))
          if (sx > sy) x
          else if (sy > sx) y
          else if (x._1 < y._1 || (x._1 == y._1 && x._2 <= y._2)) x else y
        }
        val (pa, pb) = best
        val score = pairCnt(best).toDouble / (symCnt(pa).toDouble * symCnt(pb))
        learned += ((r, pa, pb, pairCnt(best), symCnt(pa), symCnt(pb),
          BigDecimal(score * 1e9)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        syms.indices.foreach(w => syms(w) = applyMerge(syms(w), pa, pb))
        r += 1
      }
    }
    import spark.implicits._
    learned.toSeq.toDF("round", "left_sym", "right_sym", "pair_cnt",
      "left_cnt", "right_cnt", "score_e9")
  }

  /** Greedy longest-match-first WordPiece segmentation: at each position
    * take the LONGEST vocab piece prefixing the remainder; a stuck
    * position collapses the WHOLE word to `[UNK]` (BERT semantics —
    * partial segmentations are never emitted). Continuation pieces
    * render with the `##` marker. */
  private[graft] def greedySegment(word: String, vocab: Set[String],
                            maxLen: Int): (Array[String], Boolean) = {
    val n = word.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = 0
    while (pos < n) {
      var l = math.min(maxLen, n - pos)
      var found = 0
      while (l >= 1 && found == 0) {
        if (vocab.contains(word.substring(pos, pos + l))) found = l
        else l -= 1
      }
      if (found == 0) return (Array("[UNK]"), true)
      out += (if (pos == 0) word.substring(0, found)
              else "##" + word.substring(pos, pos + found))
      pos += found
    }
    (out.toArray, false)
  }

  /** Apply a WordPiece vocabulary to the corpus ([[wordpieceVocab]] is
    * train, this is apply — the [[bpeEncode]]/[[unigramEncode]] twin):
    * one row per doc, (idCol, n_wp_tokens, n_unk_words, tok_digest),
    * digest = md5 of the space-joined token sequence (with ## markers)
    * in document order. Same distributed contract as unigramEncode: the
    * vocabulary collects to the driver (kilobytes), segmentation runs
    * ONCE per distinct word (mapPartitions under the broadcast piece
    * set), then hash-joins back on the uniform word key. An [UNK] word
    * contributes one token. */
  def wordpieceEncode(docs: DataFrame, vocab: DataFrame,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val vs = vocab.select("piece").collect().map(_.getString(0))
    require(vs.nonEmpty, "empty wordpiece vocabulary")
    // one native call per document (graft.functions.WordpieceEncodeDoc —
    // same shared greedySegment, byte-identical digest): the distinct-
    // word mapPartitions + token-level join + sorted collect_list
    // pipeline becomes one map-only projection
    docs.select(col(idCol),
        expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)").as("ws"))
      .where(size(col("ws")) > 0)
      .select(col(idCol), WordpieceEncodeDoc(col("ws"), vs.toSeq).as("e"))
      .select(col(idCol), col("e.n").as("n_wp_tokens"),
        col("e.unk").as("n_unk_words"),
        col("e.digest").as("tok_digest"))
  }

  /** WordPiece fertility + UNK-rate report per stratum — the
    * [[bpeFertility]] twin with the extra signal BPE can't produce: how
    * often a word falls out of the vocabulary entirely (`unk_rate`), the
    * number a multilingual curation run watches per language. */
  def wordpieceFertility(docs: DataFrame, vocab: DataFrame,
                         strataCol: String = "lang",
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val enc = wordpieceEncode(docs, vocab, idCol, textCol)
      .select(col(idCol), col("n_wp_tokens"), col("n_unk_words"))
    val base = docs.select(col(idCol), col(strataCol),
      size(expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)"))
        .cast("long").as("n_words"))
    base.join(enc, Seq(idCol), "left")
      .groupBy(strataCol)
      .agg(sum("n_words").as("n_words"),
        sum(coalesce(col("n_wp_tokens"), lit(0L))).as("n_wp_tokens"),
        round(sum(coalesce(col("n_wp_tokens"), lit(0L))).cast("double") /
          greatest(sum("n_words"), lit(1L)), 4).as("fertility"),
        sum(coalesce(col("n_unk_words"), lit(0L))).as("n_unk_words"),
        round(sum(coalesce(col("n_unk_words"), lit(0L))).cast("double") /
          greatest(sum("n_words"), lit(1L)), 4).as("unk_rate"))
  }

  /** TextRank corpus keywords (Mihalcea & Tarau 2004): PageRank over the
    * word co-occurrence graph — words are nodes, adjacency (window 2) in
    * the CANDIDATE-FILTERED token sequence is an undirected edge weighted
    * by corpus-wide co-occurrence count. Candidate rule: alphabetic
    * tokens of length >= `minWordLen` (the POS filter of the paper
    * re-expressed as a deterministic, engine-replayable rule — short
    * function words drop, content words stay). The graph caps at
    * `maxEdges` heaviest pairs (cnt desc, pair asc — deterministic), so
    * the PageRank frame is bounded no matter the corpus; the cap is the
    * operator's scale contract, not a silent truncation (it is in the
    * signature). Undirected = both directions with the same weight
    * through the ONE shared [[Graphs.pageRank]].
    *
    * Shape at 100 TB: one explode to adjacent pairs + a uniform-key
    * partial agg onto the distinct-bigram frame, a bounded top-k, then
    * PageRank arithmetic on the maxEdges-bounded frame. Returns the top
    * `topK` (keyword, rank), rank desc / keyword asc. NOTE: the shared
    * DuckOracles.pageRank2 fragment hard-codes exactly two rounds, so
    * `iters` (here and in hostRank/serviceCentrality) is cross-engine
    * oracle-covered ONLY at the default iters = 2; other values run the
    * same code path but outside the pin. */
  def textrankKeywords(docs: DataFrame, topK: Int = 50,
                       minWordLen: Int = 4, maxEdges: Int = 10000,
                       iters: Int = 2, textCol: String = "text"): DataFrame = {
    require(topK >= 1 && minWordLen >= 1 && maxEdges >= 1,
      s"bad textrank config ($topK, $minWordLen, $maxEdges)")
    val toks = filter(
      expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)"),
      t => length(t) >= minWordLen)
    val pairs = docs.select(toks.as("w"))
      .where(size(col("w")) >= 2)
      .select(explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
          " (a, b) -> struct(a, b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .where(col("a") =!= col("b"))
      // canonical undirected pair before counting
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b")).limit(maxEdges)
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"),
        col("cnt").as("w"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst"),
        col("cnt").as("w")))
    Graphs.pageRank(sym, iters)
      .withColumnRenamed("node", "keyword")
      .orderBy(col("rank").desc, col("keyword")).limit(topK)
  }

  /** Deterministic hashed bag-of-words document embedding (the "hashing
    * trick", Weinberger et al. 2009): every token adds ±1 to one of `dims`
    * slots — slot and sign both md5-derived — and the counts vector is
    * L2-normalized, round(4)ed. No model, no training pass: the same
    * document embeds identically in any engine, which makes the embedding
    * operators (SemDeDup, ANN, prototypicality) applicable to corpora that
    * ship as raw text. Not a semantic embedding — it is the deterministic
    * lexical stand-in (docs sharing vocabulary land close).
    *
    * Shape at 100 TB: explode → (doc, slot) partial agg → per-doc array
    * assembly via map_from_entries — uniform keys, no broadcast needed,
    * nothing on the driver. */
  def hashEmbedding(docs: DataFrame, dims: Int = 64, salt: String = "he",
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    // one native call per document (graft.functions.HashEmbed): the
    // slot-sum array directly — value-identical to the old explode →
    // two-md5s-per-term → (doc, slot) groupBy → map rebuild (±1.0 sums
    // are exact integers, so summation order can't change a value; the
    // DuckDB oracle still replays the relational form), without the
    // corpus-sized token explode and its two shuffles
    val vec = docs.select(col(idCol), Dedup.tokens(col(textCol)).as("ws"))
      .where(size(col("ws")) > 0)
      .select(col(idCol), HashEmbed(col("ws"), dims, salt).as("raw"))
    vec.withColumn("nrm", sqrt(Similarity.dot(col("raw"), col("raw"))))
      .select(col(idCol),
        transform(col("raw"), x =>
          when(col("nrm") > 0, round(x / col("nrm"), 4)).otherwise(lit(0.0)))
          .as("embedding"))
  }

  /** Learned quality classifier trained IN the engine — the fastText-style
    * filter step of the DCLM / FineWeb-Edu pipelines: logistic regression
    * over the deterministic hashed doc embeddings, positives defined by a
    * caller predicate (e.g. `source === "src0"`, docs from a trusted
    * corpus), full-batch gradient descent. Weights round to 4 decimals
    * after EVERY update — the `ivfCentroidsTrained` trick — so the trained
    * model is bit-reproducible in any engine and an oracle can recompute
    * it exactly. Returns every doc with its σ(w·x) score and the keep
    * verdict at `threshold`.
    *
    * Shape at 100 TB: features materialize once (eager localCheckpoint —
    * the per-iteration scans would otherwise recompute the hash-embedding
    * aggregation each pass; blocks release when the frame is GC'd); each
    * GD iteration is ONE distributed pass whose output is a dims-row
    * gradient frame (collected — bytes, the train-then-apply shape);
    * scoring is a map-only scan against the plan-literal weight vector. */
  def qualityClassifier(docs: DataFrame, positive: Column, iters: Int = 3,
                        lr: Double = 1.0, dims: Int = 64,
                        threshold: Double = 0.5, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val feat = hashEmbedding(docs, dims, "he", idCol, textCol)
      .join(docs.select(col(idCol),
        when(positive, 1.0).otherwise(0.0).as("y")), Seq(idCol))
      .localCheckpoint()
    val w = Array.fill(dims)(0.0)
    def wLit = s"array(${w.map(x => s"${x}D").mkString(",")})"
    for (_ <- 0 until iters) {
      val sig = lit(1.0) /
        (lit(1.0) + exp(-ArrayDot(col("embedding"), expr(wLit))))
      feat.withColumn("sig", sig)
        .select(col("y"), col("sig"), posexplode(col("embedding")))
        .select((col("pos") + 1).cast("int").as("d"), col("col").as("xv"),
          col("y"), col("sig"))
        .groupBy("d")
        .agg(round(element_at(expr(wLit), col("d")) -
          lit(lr) * avg((col("sig") - col("y")) * col("xv")), 4).as("wn"))
        .collect()
        .foreach(r => w(r.getAs[Int]("d") - 1) = r.getAs[Double]("wn"))
    }
    feat.withColumn("score",
        round(lit(1.0) /
          (lit(1.0) + exp(-ArrayDot(col("embedding"), expr(wLit)))), 4))
      .select(col(idCol), col("score"), (col("score") >= threshold).as("keep"))
  }

  /** Per-stratum quality-median filter: keep documents whose quality score
    * clears their own stratum's (e.g. language's) exact median — the
    * per-language thresholding that avoids one language's score scale
    * starving another (a single global cutoff would). Returns every doc
    * with its stratum median and the keep verdict; median and quality are
    * rounded so the comparison is engine-exact.
    *
    * Shape at 100 TB: quality is map-only; the exact per-stratum
    * percentile aggregates a strata-count-sized frame (broadcast back);
    * the verdict is a map-side comparison. The corpus never sorts
    * globally — only the tiny per-stratum aggregate does. */
  def qualityAboveMedian(docs: DataFrame, strataCol: String = "lang",
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val q = qualityScore(docs, textCol)
      .select(col(idCol), col("quality"))
      .join(docs.select(col(idCol), col(strataCol)), Seq(idCol))
    val med = q.groupBy(strataCol)
      .agg(round(expr("percentile(quality, 0.5)"), 4).as("stratum_median"))
    q.join(broadcast(med), Seq(strataCol))
      .select(col(idCol), col(strataCol), col("quality"),
        col("stratum_median"),
        (col("quality") >= col("stratum_median")).as("keep"))
  }

  /** The trained artifact behind `unigramSurprisal`/`perplexityBuckets`,
    * packaged for SERVING: a (term, nll) frame of per-term add-one NLLs
    * over THIS corpus, plus the out-of-vocabulary NLL (count 0) — exactly
    * the numbers the batch pass computes, but materialized so a live
    * stream or a different corpus can be scored under this corpus's LM
    * without re-aggregating it (the CCNet deployment split: train the LM
    * offline, score documents online). Vocab-sized, so it broadcasts;
    * the two scalars ship with one tiny aggregate. */
  def unigramModel(docs: DataFrame,
                   textCol: String = "text"): (DataFrame, Double) = {
    val toks = docs.select(
      explode(filter(split(lower(col(textCol)), "\\s+"),
        t => length(t) > 0)).as("term"))
    val freq = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val stats = freq.agg(sum("cnt").cast("double"),
      count(lit(1)).cast("double")).collect().head
    val denom = stats.getDouble(0) + stats.getDouble(1)
    val model = freq.select(col("term"),
      (-log((col("cnt") + 1).cast("double") / lit(denom))).as("nll"))
    (model, -math.log(1.0 / denom))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data"):
    * score every document by LM perplexity (here: mean unigram surprisal,
    * the engine's corpus-intrinsic stand-in for CCNet's pretrained KenLM),
    * then split the corpus into head / middle / tail terciles — head is
    * the fluent third that web-scale pipelines keep, tail the third they
    * drop or down-weight.
    *
    * Shape at 100 TB: the scoring pass is `unigramSurprisal` (uniform-key
    * frequency joins + per-doc rollup); the two tercile thresholds are ONE
    * exact-percentile aggregate of the doc-level (not token-level) frame,
    * broadcast back; the bucket verdict is a map-side comparison. The
    * corpus never sorts globally — no ntile window over all docs, which
    * would funnel 100 TB through a single task. Thresholds and scores are
    * round(4)ed before comparison so an interpolation ulp cannot flip a
    * boundary doc's bucket across engines. */
  def perplexityBuckets(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val s = unigramSurprisal(docs, idCol, textCol)
    val thr = broadcast(s.agg(
      round(expr("percentile(surprisal, 0.3333333333333333D)"), 4).as("t1"),
      round(expr("percentile(surprisal, 0.6666666666666666D)"), 4).as("t2")))
    s.crossJoin(thr)
      .select(col(idCol), col("surprisal"), col("t1"), col("t2"),
        when(col("surprisal") <= col("t1"), "head")
          .when(col("surprisal") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Mean BIGRAM surprisal under the corpus bigram LM with add-one
    * smoothing — the KenLM-style step up from `unigramSurprisal`:
    * -ln((c(prev,cur)+1)/(c(prev)+V)) averaged over a document's bigrams.
    * Fluent text scores low (its word transitions are common corpus-wide);
    * shuffled or templated word salad scores high even when its unigrams
    * are ordinary — exactly the signal the unigram model cannot see.
    * Plan: one bigram explode, bigram/unigram frequency partial aggs,
    * joins on uniform (prev,cur)/(prev) keys, broadcast 1-row vocab stat,
    * per-doc rollup. Rounded to 4 decimals for engine-portable ln. */
  def bigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol),
      filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0).as("ws"))
    val toks = base.select(col(idCol), explode(col("ws")).as("term"))
    // native bigram strings (graft.functions.ShingleStrings, one call per
    // document) instead of the interpreted per-element struct lambda.
    // Words contain no whitespace by the split contract, so the single
    // space splits back losslessly: (prev, cur) <-> "prev cur" is a
    // bijection, the string-keyed bigram frequency equals the pair-keyed
    // one, and `prev` recovers exactly via substring_index — every nll is
    // value-identical to the struct formulation the DuckDB oracle runs.
    val bg = base.where(size(col("ws")) >= 2)
      .select(col(idCol), explode(ShingleStrings(col("ws"), 2)).as("g"))
    val bfreq = bg.groupBy("g").agg(count(lit(1)).as("cb"))
    val ufreq = toks.groupBy("term").agg(count(lit(1)).as("cu"))
    val stats = broadcast(ufreq.agg(count(lit(1)).cast("double").as("vocab")))
    bg.join(bfreq, Seq("g"))
      .withColumn("prev", substring_index(col("g"), " ", 1))
      .join(ufreq.withColumnRenamed("term", "prev"), Seq("prev"))
      .crossJoin(stats)
      .withColumn("nll",
        -log((col("cb") + 1).cast("double") / (col("cu") + col("vocab"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), round(avg("nll"), 4).as("surprisal"))
  }

  /** Winnowing fingerprints (Schleimer et al.): hash every character
    * `k`-gram (rolling window over the text; hash = first 8 hex chars of
    * md5), then keep the minimum hash of every `w`-hash window — the
    * classic local fingerprinting scheme for near-copy detection. Returns
    * one row per doc: the distinct selected hashes, sorted, plus their
    * digest. Shuffle-free until the final per-doc aggregate. */
  def winnowing(docs: DataFrame, k: Int = 8, w: Int = 4,
                textCol: String = "text"): DataFrame = {
    // one row in, one row out, no explode, no window sort, no shuffle: the
    // whole rolling k-gram hash + w-window minimum selection is a single
    // native Catalyst expression (graft.functions.WinnowingFingerprints —
    // O(n) deque minima, reused md5 buffer, codegen-friendly static call;
    // the previous transform/slice SQL ran its lambdas interpreted per
    // element, O(n·w) dispatch steps, ~5x slower at sf0.1). lower() stays
    // OUTSIDE the expression so Spark's own Unicode lowercasing defines
    // case folding, identical to the SQL/oracle formulation.
    docs.where(length(col(textCol)) >= k)
      .select(col("doc_id"), lower(col(textCol)).as("t"))
      .withColumn("fingerprints", WinnowingFingerprints(col("t"), k, w))
      .select(col("doc_id"),
        size(col("fingerprints")).cast("long").as("n_fingerprints"),
        md5(concat_ws(",", col("fingerprints"))).as("fp_digest"))
  }

  /** Per-stratum vocabulary drift: Jensen–Shannon divergence of each
    * stratum's unigram distribution P vs the whole corpus's Q — the
    * corpus-release health metric that catches a source whose language
    * shifted (crawler change, contamination, template churn) before it
    * shifts the trained model. JSD = ½Σ[p·ln(p/m) + q·ln(q/m)], m=(p+q)/2;
    * 0 = identical distribution, ln 2 = disjoint vocabularies.
    *
    * The absent-term mass needs no |vocab|×|strata| expansion: a term with
    * p = 0 contributes exactly ½·q·ln 2, so those terms fold into the
    * closed form ½·ln 2·(1 − Σ_present q). Returns
    * (stratum, n_terms, n_tokens, js_divergence).
    *
    * Shape at 100 TB: explode → (stratum, term) partial-agg counts → term
    * totals by one more uniform-key aggregate → equi-join back on the
    * term key (both sides already hash-partitioned by term) → per-stratum
    * rollup over strata-count rows; the 1-row corpus total and the
    * strata-row totals frame broadcast. No window, no skew key (terms are
    * Zipfian but the join is count-to-count, one row per (stratum, term)).
    * Per-term contributions are rounded to 12 decimals and summed as exact
    * DECIMALs, so the aggregate is order-insensitive: neither Spark's
    * partial-agg order nor DuckDB's sequential order can flip the 4-decimal
    * report (a plain double sum could, even rounded afterwards). */
  /** Calibration report of the learned quality filter against the
    * heuristic: documents bucketed by classifier-probability decile, each
    * decile reporting its size, mean classifier score, mean Gopher-style
    * heuristic quality, and the actual positive count — the reliability
    * diagram a curation run reads before trusting a learned threshold
    * (well-calibrated ⇒ positives/n_docs tracks mean_score per bin; the
    * heuristic column shows where the two filters disagree).
    *
    * Determinism: per-bin means sum round(4)/round(2) scores as exact
    * DECIMAL (order-insensitive) with ONE final double division, so
    * partial-agg order cannot flip a reported mean.
    *
    * Shape at 100 TB: inherits the classifier's train-then-apply contract
    * (each GD round ships a dims-row gradient); the report itself is two
    * uniform doc-keyed joins and one 10-row partial agg. */
  def qualityCalibration(docs: DataFrame, positive: Column, bins: Int = 10,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(bins > 1, "bins must be > 1")
    val clf = qualityClassifier(docs, positive, idCol = idCol,
      textCol = textCol).select(col(idCol), col("score"))
    val heur = qualityScore(docs, textCol).select(col(idCol), col("quality"))
    val y = docs.select(col(idCol),
      when(positive, 1L).otherwise(0L).as("pos"))
    clf.join(heur, Seq(idCol)).join(y, Seq(idCol))
      .withColumn("bin",
        least(floor(col("score") * bins), lit(bins - 1)).cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("score").cast("decimal(18,4)")).cast("double")
          / count(lit(1)), 4).as("mean_score"),
        round(sum(col("quality").cast("decimal(18,4)")).cast("double")
          / count(lit(1)), 4).as("mean_quality"),
        sum(col("pos")).as("positives"))
  }

  /** Most-duplicated word n-grams across the corpus — the boilerplate
    * report (C4's "most common 13-gram" analysis, MassiveText's repeated-
    * passage audit): grams that recur in many documents are headers,
    * license banners, navigation chrome — the stuff sub-document dedup
    * should be removing. One row per gram with how many distinct documents
    * carry it and total occurrences; grams seen in a single document are
    * dropped (they're content, not boilerplate).
    *
    * Shape at 100 TB: explode is map-side; the (gram, doc) collapse and the
    * per-gram rollup are partial-agg shuffles on uniform gram keys (a
    * boilerplate gram appearing a million times collapses map-side before
    * the exchange); the final top-k is TakeOrderedAndProject over the
    * (already tiny) n_docs>1 survivors — no global sort materializes. */
  def dupNgrams(docs: DataFrame, n: Int = 5, topK: Int = 50,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(n >= 2 && topK > 0, "need n >= 2 and topK > 0")
    val perDoc = Dedup.shingles(docs, n, idCol, textCol)
      .groupBy(col("shingle").as("gram"), col(idCol))
      .agg(count(lit(1)).as("occ"))
    perDoc.groupBy("gram")
      .agg(count(lit(1)).as("n_docs"), sum("occ").as("n_occurrences"))
      .where(col("n_docs") > 1)
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("gram"))
      .limit(topK)
  }

  /** Per-document n-gram novelty: the fraction of a document's word
    * n-grams (with multiplicity) that appear in NO other document — the
    * corpus-level novelty/memorization metric of the dedup literature
    * (Lee et al. 2022 measure exactly this to show what dedup removes):
    * low novelty = the document is mostly text the corpus already has.
    * Documents below the n-word floor carry no n-gram and are omitted.
    *
    * Shape at 100 TB: gram reach (distinct-doc count per gram) is two
    * partial-agg shuffles on uniform gram keys; the join back is big-big
    * but both sides hash-partition by the same gram key, and the per-doc
    * rollup shuffles doc-keyed partials. No broadcast of anything
    * corpus-sized, no window, no all-pairs. */
  def noveltyScore(docs: DataFrame, n: Int = 5, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(n >= 2, "need n >= 2")
    val grams = Dedup.shingles(docs, n, idCol, textCol)
    val reach = grams.select(col(idCol), col("shingle")).distinct()
      .groupBy("shingle").agg(count(lit(1)).as("n_docs"))
    grams.join(reach, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_docs") === 1, 1L).otherwise(0L)).as("novel_grams"))
      .withColumn("novelty",
        round(col("novel_grams").cast("double") / col("n_grams"), 4))
  }

  /** Zipf's-law fit over the corpus unigram distribution — the corpus
    * health report next to [[vocabDrift]]: least-squares fit of
    * ln(freq) ~ ln(rank) (ranked by frequency desc, term asc for a
    * deterministic tiebreak). Natural-language corpora fit slope ≈ −1
    * with high r²; a slope collapsing toward 0 or an r² crater flags
    * boilerplate/spam/templated text taking over the distribution.
    * Reports n_terms, n_tokens, slope/intercept/r2 round(4).
    *
    * Shape at 100 TB: the term-frequency agg is the [[vocabDrift]]
    * partial-agg pass; the ranked regression runs on the VOCABULARY
    * frame (bounded, millions of rows at web scale — the ta_vocab
    * argument), so the global rank window sorts the vocab, never the
    * corpus. */
  def zipfFit(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val freq = docs
      .select(explode(Dedup.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val ranked = freq.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("term"))))
    ranked.agg(
      count(lit(1)).as("n_terms"),
      sum(col("c")).as("n_tokens"),
      round(regr_slope(log(col("c")), log(col("rank"))), 4).as("slope"),
      round(regr_intercept(log(col("c")), log(col("rank"))), 4).as("intercept"),
      round(regr_r2(log(col("c")), log(col("rank"))), 4).as("r2"))
  }

  def vocabDrift(docs: DataFrame, strataCol: String = "source",
                 textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(strataCol).as("stratum"),
      explode(Dedup.tokens(col(textCol))).as("term"))
    val sc = toks.groupBy("stratum", "term").agg(count(lit(1)).as("c"))
    val stot = sc.groupBy("stratum").agg(sum("c").as("n"))
    val gc = sc.groupBy("term").agg(sum("c").as("g"))
    val gtot = gc.agg(sum("g").as("gt"))
    val joined = sc.join(gc, Seq("term"))
      .join(broadcast(stot), Seq("stratum"))
      .crossJoin(broadcast(gtot))
      .withColumn("p", col("c").cast("double") / col("n"))
      .withColumn("q", col("g").cast("double") / col("gt"))
      .withColumn("m", (col("p") + col("q")) / 2)
      .withColumn("contrib",
        round((col("p") * log(col("p") / col("m")) +
         col("q") * log(col("q") / col("m"))) / 2, 12).cast("decimal(28,14)"))
      .withColumn("qd", round(col("q"), 12).cast("decimal(28,14)"))
    joined.groupBy("stratum")
      .agg(count(lit(1)).as("n_terms"),
        max(col("n")).as("n_tokens"),
        round(sum(col("contrib")).cast("double") +
          lit(math.log(2) / 2) * (lit(1.0) - sum(col("qd")).cast("double")), 4)
          .as("js_divergence"))
  }
}
