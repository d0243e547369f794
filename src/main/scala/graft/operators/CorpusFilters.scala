package graft.operators

import graft.functions.{CdcFlags, ChunkHashes, ShingleStrings, WindowHashes}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Corpus-curation operators from the published web-scale pipeline
  * playbook: C4-style line filtering (Raffel et al. 2020, "Exploring the
  * Limits of Transfer Learning" appendix), Gopher-style repetition
  * statistics (Rae et al. 2021, "Scaling Language Models" table A1),
  * sub-document chunk dedup (RefinedWeb-style), and deterministic
  * token-budget shard packing for training-batch assembly.
  *
  * Scale shapes: the filters are map-only column transforms; repetition
  * stats and chunk dedup shuffle on uniform keys (doc_id / chunk hash);
  * shard packing windows within md5-derived groups so the cumulative sum
  * parallelizes over `nGroups` independent partitions instead of one
  * global ordering. All hashing is md5 hex and all ratios are rounded to
  * fixed precision — bit-identical across engines (the DuckDB oracle runs
  * the same definitions).
  */
object CorpusFilters {

  // one tokenization contract for the whole dedup/curation family (and
  // its DuckDB oracles) — see Dedup.tokens
  private def wordsOf(textCol: Column): Column = Dedup.tokens(textCol)

  /** Corpus-wide keep-first over (hash h, owner doc_id, position pos):
    * min(struct(doc_id, pos)) per hash — map-side combinable, so a
    * boilerplate hash appearing in 10% of the corpus collapses to one row
    * per map partition BEFORE the shuffle (a row_number window would haul
    * every occurrence of the hot hash into a single sort partition — the
    * straggler this operator exists to remove). Returns per-doc kept
    * counts keyed by doc_id. */
  private def keptPerDoc(ch: DataFrame): DataFrame =
    ch.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("f.doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("kept_chunks"))

  /** C4 line-level cleaning: keep lines that (after trimming) end in a
    * terminal punctuation mark (. ! ? or a closing quote), contain at
    * least 3 words, and do not mention javascript; flag documents with
    * curly braces (code) or "lorem ipsum" (boilerplate). `keep` is the
    * document-level verdict (>= 3 surviving lines and no flags). Map-only;
    * the kept text is returned as an md5 digest so results stay compact
    * and engine-comparable. */
  def c4LineFilter(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val lines = transform(split(t, "\n"), l => trim(l))
    val kept = c4KeptLines(t)
    val hasBrace = t.contains("{")
    val hasLorem = lower(t).contains("lorem ipsum")
    docs.select(
      col("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("kept_lines"),
      hasBrace.as("has_brace"),
      hasLorem.as("has_lorem"),
      (size(kept) >= 3 && !hasBrace && !hasLorem).as("keep"),
      md5(concat_ws("\n", kept)).as("kept_digest"))
  }

  /** The C4 kept-line rule as one array expression — shared by the
    * report form ([[c4LineFilter]]) and the verdict column ([[c4Keep]])
    * so the two can never drift. */
  private def c4KeptLines(t: Column): Column =
    filter(transform(split(t, "\n"), l => trim(l)), l =>
      l.rlike("[.!?\"]$") &&
        size(filter(split(l, "\\s+"), w => length(w) > 0)) >= 3 &&
        !lower(l).contains("javascript"))

  /** The document-level C4 verdict as one map-only boolean column — the
    * [[gopherKeep]] twin for composition/streaming use. Identical rules
    * to [[c4LineFilter]] (same shared kept-line expression). */
  def c4Keep(textCol: Column): Column =
    size(c4KeptLines(textCol)) >= 3 && !textCol.contains("{") &&
      !lower(textCol).contains("lorem ipsum")

  /** Gopher repetition statistics: the most frequent word and word 2-gram
    * per document with their count and fraction (word fraction of total
    * words; 2-gram fraction of total word characters — the paper's
    * "fraction of characters in the most frequent n-gram"). Ties break to
    * the lexicographically smallest term so results are deterministic.
    * Two count-aggregate + join stages, both keyed by doc_id — uniform
    * shuffles, same shape as tf-idf.
    *
    * Deliberately RELATIONAL, unlike minhash/simhash/winnowing which are
    * native per-row expressions: those carry O(k)-bounded per-document
    * state, while a per-doc n-gram frequency map is unbounded (a
    * pathological giant document would hold its whole distinct-gram set in
    * one task's heap). The explode + partial-agg form lets Spark spread a
    * single document's grams across the cluster — the safer shape at
    * 100 TB. */
  def repetitionStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val base = docs.select(col("doc_id"), wordsOf(col(textCol)).as("ws"))
      .where(size(col("ws")) > 0)
    val tot = base.select(col("doc_id"),
      size(col("ws")).cast("long").as("total_words"),
      aggregate(col("ws"), lit(0L), (a, x) => a + length(x)).as("total_chars"))
    def top(items: DataFrame, itemCol: String, outTerm: String, outCnt: String) = {
      val cnt = items.groupBy("doc_id", itemCol).agg(count(lit(1)).as("cnt"))
      val mx = cnt.groupBy("doc_id").agg(max("cnt").as("mc"))
      cnt.join(mx, Seq("doc_id")).where(col("cnt") === col("mc"))
        .groupBy("doc_id")
        .agg(min(itemCol).as(outTerm), max("mc").as(outCnt))
    }
    val wtop = top(base.select(col("doc_id"), explode(col("ws")).as("w")),
      "w", "top_word", "top_word_cnt")
    // native shingle construction (graft.functions.ShingleStrings) —
    // byte-identical strings to the interpreted transform/concat_ws
    // lambda this replaces (the DuckDB oracle still runs the lambda
    // form); a <2-word array yields an empty shingle array, so the old
    // explicit when(size >= 2) guard is the kernel's own contract
    val btop = top(
      base.select(col("doc_id"), explode(ShingleStrings(col("ws"), 2)).as("g")),
      "g", "top_2gram", "top_2gram_cnt")
    tot.join(wtop, Seq("doc_id"), "left").join(btop, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total_words"), col("total_chars"),
        col("top_word"), col("top_word_cnt"),
        round(col("top_word_cnt").cast("double") / col("total_words"), 4)
          .as("top_word_frac"),
        col("top_2gram"), col("top_2gram_cnt"),
        round(col("top_2gram_cnt") * (length(col("top_2gram")) - 1).cast("double")
          / col("total_chars"), 4).as("top_2gram_frac"))
  }

  /** Sub-document dedup: split each document into fixed-size word chunks,
    * md5 each chunk, and keep only the corpus-wide FIRST occurrence of
    * every chunk (ordered by doc_id, then chunk position — deterministic,
    * via the skew-safe `keptPerDoc` min-struct aggregate). This is the
    * finer-grained sibling of document-level exact dedup — boilerplate
    * shared across documents dies here while unique content survives. */
  def chunkDedup(docs: DataFrame, chunkWords: Int = 16,
                 textCol: String = "text"): DataFrame = {
    val base = docs.select(col("doc_id"), wordsOf(col(textCol)).as("ws"))
      .where(size(col("ws")) > 0)
    val nc = ceil(size(col("ws")).cast("double") / chunkWords).cast("int")
    // one native call per document (graft.functions.ChunkHashes) —
    // value-identical to the transform/slice/concat_ws/md5 lambda the
    // DuckDB oracle still runs, without per-chunk interpreted dispatch
    val hashes = ChunkHashes(col("ws"), chunkWords)
    val ch = base.select(col("doc_id"), posexplode(hashes).as(Seq("pos", "h")))
    val counts = base.select(col("doc_id"), nc.cast("long").as("n_chunks"))
    counts.join(keptPerDoc(ch), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("kept_chunks"), lit(0L)).as("kept_chunks"))
      .withColumn("dropped_chunks", col("n_chunks") - col("kept_chunks"))
  }

  /** Cross-corpus chunk dedup: drop every fixed-size chunk of `docs` whose
    * md5 already occurs in `ref` — dedup NEW data against an
    * already-released corpus (the incremental-crawl / train-set-refresh
    * primitive; within-batch duplicates in `docs` are chunkDedup's job,
    * not this one's). Returns per-doc (n_chunks, dropped_chunks,
    * kept_chunks, fully_dup) where fully_dup marks documents with no
    * surviving chunk.
    *
    * Shape at 100 TB: the ref side reduces to DISTINCT chunk hashes
    * (partial agg) and the probe is a left-anti-style hash join on the
    * uniform md5 key — at a 10:1 ref:new ratio the new batch streams
    * against the ref hash set without ever materializing pairs. */
  def crossChunkDedup(docs: DataFrame, ref: DataFrame, chunkWords: Int = 16,
                      textCol: String = "text"): DataFrame = {
    def chunksOf(d: DataFrame) = {
      val base = d.select(col("doc_id"), wordsOf(col(textCol)).as("ws"))
        .where(size(col("ws")) > 0)
      base.select(col("doc_id"), explode(ChunkHashes(col("ws"), chunkWords))
        .as("h"))
    }
    val refHashes = chunksOf(ref).select("h").distinct()
    val flagged = chunksOf(docs)
      .join(refHashes.withColumn("dup", lit(true)), Seq("h"), "left")
    flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("dropped_chunks"),
        sum(when(col("dup").isNull, 1L).otherwise(0L)).as("kept_chunks"))
      .withColumn("fully_dup", col("kept_chunks") === 0L)
  }

  /** Line-level corpus dedup (the CCNet/RefinedWeb boilerplate strip —
    * Wenzek et al. 2020 §3.1, Penedo et al. 2023): a trimmed non-empty
    * line appearing in at least `minDocs` DISTINCT documents is removed
    * from EVERY document (nav bars, cookie banners, license footers). This
    * differs from `chunkDedup` on purpose: chunk dedup keeps the first
    * copy of duplicated content; boilerplate lines are noise in all their
    * copies, so none survives. Returns per-doc (n_lines, removed_lines,
    * kept_lines, kept_digest) where kept_digest is md5 of the surviving
    * trimmed lines newline-joined in original order — a byte-exact check
    * of WHICH lines were cut.
    *
    * Shape at 100 TB: one explode to line rows, one distinct-doc count per
    * line hash (Spark plans partial distinct aggregation, so a banner in
    * 10% of the corpus collapses per map partition before the shuffle),
    * one uniform hash join back, one per-doc rollup. No window over the
    * corpus, nothing on the driver. */
  def lineDedup(docs: DataFrame, minDocs: Int = 2,
                textCol: String = "text"): DataFrame = {
    val base = docs.select(col("doc_id"),
      posexplode(transform(split(col(textCol), "\n"), l => trim(l)))
        .as(Seq("pos", "line")))
      .where(length(col("line")) > 0)
    val lines = base.withColumn("h", md5(col("line")))
    val freq = lines.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("dcnt"))
    val flagged = lines.join(freq, Seq("h"))
      .withColumn("removed", col("dcnt") >= minDocs)
    flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("removed_lines"),
        sum(when(!col("removed"), 1L).otherwise(0L)).as("kept_lines"),
        md5(coalesce(concat_ws("\n",
          transform(array_sort(collect_list(
            when(!col("removed"), struct(col("pos"), col("line"))))),
            s => s.getField("line"))), lit(""))).as("kept_digest"))
  }

  /** Intra-document repetition removal (the within-doc half of
    * RefinedWeb/CCNet line filtering, distinct from `lineDedup`'s
    * corpus-wide frequency rule): inside EACH document, a repeated
    * trimmed line keeps only its first occurrence — navigation chrome,
    * repeated headers, and copy-paste stutter collapse without looking at
    * any other document. Returns per-doc (n_lines, kept_lines,
    * kept_digest over the surviving lines in order).
    *
    * Shape at 100 TB: MAP-ONLY — the whole decision lives inside one row
    * (array_position over the doc's own trimmed lines marks first
    * occurrences), so there is NO shuffle, no state, and the operator
    * composes with streaming plans unchanged. Per-doc cost is O(L²) over
    * line COUNT (not bytes) with L typically < 10³; a pathological
    * million-line single document belongs to the explode-based shapes,
    * not this one. */
  def intraDocDedup(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // staged projections: the trimmed-lines and survivors arrays are
    // expensive lambda trees referenced more than once downstream, so
    // each gets its own Project — CollapseProject keeps them single
    // evaluations (a one-select formulation re-split the text once per
    // output column; PlanSpec pins the single split)
    val trimmed = filter(
      transform(split(col(textCol), "\n"), l => trim(l)),
      l => length(l) > 0)
    docs.select(col("doc_id"), trimmed.as("__tl"))
      .select(col("doc_id"), size(col("__tl")).cast("long").as("n_lines"),
        filter(col("__tl"), (l, i) =>
          array_position(col("__tl"), l) === (i + 1).cast("long"))
          .as("__kept"))
      .select(col("doc_id"), col("n_lines"),
        size(col("__kept")).cast("long").as("kept_lines"),
        md5(concat_ws("\n", col("__kept"))).as("kept_digest"))
  }

  /** Content-defined chunking dedup: chunk boundaries come from the CONTENT
    * (a word is a chunk end when the md5 of the 4-word window ending at it
    * starts with hex '0' — 1/16 odds, ~16-word mean chunks), so an
    * insertion near the start of a copied document shifts only its local
    * chunk instead of re-aligning every fixed-size chunk after it — the
    * property that makes CDC the standard sub-document dedup in
    * storage/corpus systems where `chunkDedup`'s fixed windows would miss
    * shifted copies. Fully relational: posexplode words with index →
    * map-side boundary flag → BLOCK-LOCAL prefix sum (see below) → chunk
    * hash → corpus-wide keep-first exactly like chunkDedup. Returns
    * per-doc (n_chunks, kept_chunks, dropped_chunks).
    *
    * The running boundary count is computed as a block-local prefix sum,
    * not a per-document window: words hash into `blockWords`-sized blocks,
    * the window runs within (doc_id, block), and per-block flag totals
    * roll up into block offsets. A per-document window would serialize a
    * document's entire word list through one task — nothing for web docs,
    * a straggler for one multi-GB document; with blocks, the heavy sort is
    * over (doc_id, block) slices and the only per-document stage is the
    * one-row-per-block offset roll-up (a 1e9-word document is ~250k block
    * rows, not 1e9 word rows). Chunk numbering is bit-identical to the
    * single-window formulation.
    *
    * Scan budget (the expensive stage is the word explode + per-word md5):
    * the chunk-level frame is localCheckpoint'ed before the two per-doc
    * rollups read it — the un-checkpointed form re-ran the whole explode
    * pipeline FOUR times (once per rollup branch × once per offsets/prefix
    * branch); checkpointing caps it at the two structural scans, and the
    * offsets scan shuffles only block-level rows (words/4096). */
  def cdcChunkDedup(docs: DataFrame, window: Int = 4,
                    textCol: String = "text",
                    blockWords: Int = 4096): DataFrame = {
    // chunk rows feed TWO rollups (per-doc counts + corpus keep-first):
    // checkpoint so the explode pipeline runs once, not once per branch
    val ch = cdcChunks(docs, window, textCol, blockWords).localCheckpoint()
    val counts = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    counts.join(keptPerDoc(ch), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("kept_chunks"), lit(0L)).as("kept_chunks"))
      .withColumn("dropped_chunks", col("n_chunks") - col("kept_chunks"))
  }

  /** The CDC chunk-hash frame (doc_id, pos, h) of [[cdcChunkDedup]] — one
    * row per content-defined chunk, un-checkpointed (PlanSpec pins its
    * one-corpus-scan shape; callers wanting a reusable frame should
    * checkpoint/persist like cdcChunkDedup does). */
  def cdcChunks(docs: DataFrame, window: Int = 4,
                textCol: String = "text",
                blockWords: Int = 4096): DataFrame = {
    val base = docs.select(col("doc_id"), wordsOf(col(textCol)).as("ws"))
      .where(size(col("ws")) > 0)
    // per-word boundary flags computed natively BEFORE the explode
    // (graft.functions.CdcFlags — value-identical to the per-row
    // when(idx >= window && substring(md5(slice …)),1,1)='0' form the
    // DuckDB oracle still runs): the old shape evaluated an interpreted
    // md5+slice per exploded row AND made the Generate carry the whole
    // `ws` array on every word row — O(words²) bytes per document
    // through the explode. Exploding arrays_zip(ws, flags) ships each
    // word exactly once.
    val w = base.select(col("doc_id"),
      posexplode(arrays_zip(col("ws"), CdcFlags(col("ws"), window).as("fl")))
        .as(Seq("pos", "zf")))
    val flagged = w
      .select(col("doc_id"), col("pos"), col("zf.ws").as("word"),
        col("zf.fl").as("flag"))
      .withColumn("blk", (col("pos") / blockWords).cast("long"))
    // exclusive prefix sum of flags at pos' < pos, decomposed:
    //   chunk(pos) = boff(block)   [flags in earlier blocks of this doc]
    //              + lsum(pos)     [flags earlier within this block]
    val localWin = Window.partitionBy("doc_id", "blk").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offWin = Window.partitionBy("doc_id").orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    // the offsets branch partial-aggregates flags map-side: only BLOCK-level
    // rows (words/4096) ever shuffle here, so the branch's second corpus
    // scan costs map work but no shuffle volume. (A shared-exchange variant
    // computing btot as a second window was measured SLOWER: per-branch
    // column pruning below the exchange defeats ReusedExchange, and it
    // turned this tiny shuffle into a second full word-level one.)
    val blockOffsets = flagged.groupBy("doc_id", "blk")
      .agg(sum("flag").as("btot"))
      .withColumn("boff", coalesce(sum(col("btot")).over(offWin), lit(0L)))
      .select(col("doc_id"), col("blk"), col("boff"))
    val chunks = flagged
      .withColumn("lsum", coalesce(sum(col("flag")).over(localWin), lit(0L)))
      .join(blockOffsets, Seq("doc_id", "blk"))
      .withColumn("chunk", col("boff") + col("lsum"))
      .groupBy(col("doc_id"), col("chunk"))
      // collect_list order is NOT guaranteed post-shuffle: collect (pos,
      // word) pairs and sort by position before hashing the chunk text
      .agg(md5(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("word")))),
          s => s.getField("word")))).as("h"))
    chunks.select(col("doc_id"), col("chunk").as("pos"), col("h"))
  }

  /** Benchmark decontamination: flag corpus documents sharing word n-grams
    * with an evaluation set (Brown et al. 2020 §C ran 13-gram overlap; n is
    * a parameter because short synthetic docs need shorter grams). Returns
    * per-doc (n_grams, matched_grams, contaminated).
    *
    * Shape at 100 TB: the eval set is benchmarks — thousands of documents,
    * kilobytes of distinct gram hashes — so its distinct-gram side is
    * BROADCAST and the corpus side stays a map-only explode + partial-agg
    * rollup keyed by doc_id; the corpus is never shuffled by gram. The
    * gram hash is md5 of the space-joined window (the dedup family's
    * shared contract), so the DuckDB oracle runs the same bytes. */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, n: Int = 5,
                    textCol: String = "text"): DataFrame = {
    def grams(d: DataFrame) = {
      val ws = wordsOf(col(textCol))
      d.select(col("doc_id"), ws.as("ws"))
        .where(size(col("ws")) >= n)
        .select(col("doc_id"), explode(WindowHashes(col("ws"), n)).as("gh"))
    }
    val evalGrams = grams(evalDocs).select("gh").distinct()
    val counts = docs.select(col("doc_id"),
      greatest(size(wordsOf(col(textCol))) - (n - 1), lit(0))
        .cast("long").as("n_grams"))
    val matched = grams(docs)
      .join(broadcast(evalGrams), Seq("gh"))
      .groupBy("doc_id").agg(count(lit(1)).as("matched_grams"))
    counts.join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("matched_grams"), lit(0L)).as("matched_grams"))
      .withColumn("contaminated", col("matched_grams") > 0)
  }

  /** Multi-suite decontamination: a release screens against MANY
    * benchmark suites at once (MMLU, GSM8K, …) and reports leakage PER
    * SUITE — a single "contaminated" bit is not actionable when each
    * suite has its own owner and removal policy. `evalDocs` carries a
    * `suiteCol` tag; the result is one row per (corpus doc, suite) with
    * the matched-gram count for every doc that leaks that suite.
    *
    * Shape at 100 TB: identical to [[decontaminate]] — ALL suites'
    * distinct (suite, gram) hashes ride ONE broadcast (benchmarks are
    * kilobytes; K suites are K kilobytes), the corpus side is one
    * map-only gram explode and one (doc, suite)-keyed partial-agg rollup.
    * Adding a suite costs broadcast bytes, not a scan. */
  def decontaminateSuites(docs: DataFrame, evalDocs: DataFrame, n: Int = 5,
                          suiteCol: String = "suite",
                          textCol: String = "text"): DataFrame = {
    def grams(d: DataFrame, keep: Seq[String]) = {
      val ws = wordsOf(col(textCol))
      d.select(keep.map(col) :+ ws.as("ws"): _*)
        .where(size(col("ws")) >= n)
        .select(keep.map(col) :+ explode(WindowHashes(col("ws"), n)).as("gh"): _*)
    }
    val evalGrams = broadcast(
      grams(evalDocs, Seq(suiteCol)).select(col(suiteCol), col("gh")).distinct())
    grams(docs, Seq("doc_id"))
      .join(evalGrams, Seq("gh"))
      .groupBy(col("doc_id"), col(suiteCol))
      .agg(count(lit(1)).as("matched_grams"))
  }

  /** Fuzzy (near-duplicate) decontamination — the MinHash sibling of the
    * exact n-gram `decontaminate`: a corpus document is flagged when any
    * of its LSH bands collides with a band of ANY eval-set document, i.e.
    * when it is a *near*-duplicate of benchmark text (catches lightly
    * edited leakage — a changed date or name — that breaks every exact
    * 5-gram but leaves most shingles intact). Completes the
    * decontamination family: exact n-gram (`decontaminate`), semantic
    * (`Similarity.embeddingDecontaminate`), and fuzzy lexical (this).
    * Returns (doc_id, matched_bands, contaminated) for every corpus doc
    * that has a signature (>= n words — the same domain as
    * `Dedup.minhashSignatures`).
    *
    * Shape at 100 TB: the eval side is benchmark-sized, so its distinct
    * (band, key) set — kilobytes — is BROADCAST; the corpus side is one
    * map-only native-minhash scan (no shingle explode) into k/r band rows
    * per doc, and the only shuffle is the doc_id-keyed partial-agg count.
    * The corpus is never joined to itself and never shuffled by band. */
  def decontaminateFuzzy(docs: DataFrame, evalDocs: DataFrame, n: Int = 3,
                         k: Int = 8, r: Int = 2): DataFrame = {
    val evalKeys = broadcast(
      Dedup.lshBands(Dedup.minhashSignatures(evalDocs, n, k), k, r)
        .select(col("band"), col("bkey")).distinct()
        .withColumn("__hit", lit(1)))
    // one row per (doc, band); evalKeys is distinct on (band, bkey) so the
    // left join matches at most once per row and count(__hit) counts
    // distinct colliding bands without a countDistinct expansion
    Dedup.lshBands(Dedup.minhashSignatures(docs, n, k), k, r)
      .join(evalKeys, Seq("band", "bkey"), "left")
      .groupBy("doc_id")
      .agg(count(col("__hit")).as("matched_bands"))
      .withColumn("contaminated", col("matched_bands") > 0)
  }

  /** Gopher document-quality filter (Rae et al. 2021 table A1): the full
    * rule set as one map-only verdict — word count in [minWords, maxWords],
    * mean word length in [3, 10], symbol-to-word ratio (# or ...) <= 0.1,
    * <= 90% of lines starting with a bullet, <= 30% ending with an
    * ellipsis, >= 80% of words containing an alphabetic character, and at
    * least 2 of the common English stop words. Returns the per-rule
    * measurements plus the combined `keep` verdict, so a pipeline can
    * re-weight individual rules without re-reading the corpus. */
  def gopherFilter(docs: DataFrame, minWords: Int = 50,
                   maxWords: Int = 100000, textCol: String = "text"): DataFrame = {
    val m = gopherMeasurements(col(textCol))
    docs.select((col("doc_id") +: m.map { case (n, c) => c.as(n) }): _*)
      .withColumn("keep", gopherVerdict(minWords, maxWords))
  }

  /** The document-level Gopher verdict as one map-only boolean column —
    * usable as a streaming-safe gate (`docs.where(gopherKeep(col("text")))`
    * keeps the caller's columns and attaches to a streaming plan
    * unchanged, where a join against gopherFilter's output would be a
    * stream-stream join). Identical rules to `gopherFilter`. */
  def gopherKeep(textCol: Column, minWords: Int = 50,
                 maxWords: Int = 100000): Column = {
    val m = gopherMeasurements(textCol).toMap
    verdictOf(m, minWords, maxWords)
  }

  private def gopherVerdict(minWords: Int, maxWords: Int): Column =
    verdictOf(Map(
      "n_words" -> col("n_words"), "mean_word_len" -> col("mean_word_len"),
      "symbol_ratio" -> col("symbol_ratio"), "bullet_ratio" -> col("bullet_ratio"),
      "ellipsis_ratio" -> col("ellipsis_ratio"), "alpha_ratio" -> col("alpha_ratio"),
      "stop_hits" -> col("stop_hits")), minWords, maxWords)

  private def verdictOf(m: Map[String, Column], minWords: Int,
                        maxWords: Int): Column =
    m("n_words") >= minWords && m("n_words") <= maxWords &&
      m("mean_word_len") >= 3 && m("mean_word_len") <= 10 &&
      m("symbol_ratio") <= 0.1 &&
      m("bullet_ratio") <= 0.9 && m("ellipsis_ratio") <= 0.3 &&
      m("alpha_ratio") >= 0.8 && m("stop_hits") >= 2

  /** The seven Gopher rule measurements as named map-only columns. */
  private def gopherMeasurements(t: Column): Seq[(String, Column)] = {
    val ws = wordsOf(t)
    val lines = filter(transform(split(t, "\n"), l => trim(l)),
      l => length(l) > 0)
    val nWords = size(ws).cast("long")
    val meanLen = round(
      aggregate(ws, lit(0L), (a, w) => a + length(w)).cast("double") /
        greatest(nWords, lit(1L)), 4)
    val symbolWords = size(filter(ws, w =>
      w.contains("#") || w.contains("...")))
    val bulletLines = size(filter(lines, l =>
      l.startsWith("-") || l.startsWith("*") || l.startsWith("•")))
    val ellipsisLines = size(filter(lines, l => l.endsWith("...")))
    val alphaWords = size(filter(ws, w => w.rlike("[a-z]")))
    val stops = Array("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = stops.map(s =>
      when(array_contains(ws, s), 1).otherwise(0): Column)
      .reduce(_ + _)
    val nLines = greatest(size(lines), lit(1))
    Seq(
      "n_words" -> nWords,
      "mean_word_len" -> meanLen,
      "symbol_ratio" ->
        round(symbolWords.cast("double") / greatest(nWords, lit(1L)), 4),
      "bullet_ratio" -> round(bulletLines.cast("double") / nLines, 4),
      "ellipsis_ratio" -> round(ellipsisLines.cast("double") / nLines, 4),
      "alpha_ratio" ->
        round(alphaWords.cast("double") / greatest(nWords, lit(1L)), 4),
      "stop_hits" -> stopHits.cast("long"))
  }

  /** PII patterns shared by the operator and its oracle — RE2-safe (no
    * lookaround), so the same strings run in Java regex and DuckDB. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "\\+?\\d{9,15}"

  /** PII scrubbing: count and redact emails, IPv4 addresses, and long
    * phone-like digit runs (replaced in that order, so an IP is never
    * double-counted as a phone). Map-only; the redacted text is returned
    * as an md5 digest for compact cross-engine comparison — callers
    * wanting the text itself use `redactedText`. */
  def redactedText(textCol: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(textCol, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(t, lit(EmailPattern), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(Ipv4Pattern), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(
        regexp_replace(regexp_replace(t, EmailPattern, "<EMAIL>"),
          Ipv4Pattern, "<IP>"),
        lit(PhonePattern), lit(0))).cast("long").as("n_phones"),
      md5(redactedText(t)).as("redacted_digest"))
  }

  /** Payment-card candidate runs: 13–19 digits with optional single
    * space/hyphen separators, word-bounded. RE2-safe (shared with the
    * DuckDB oracle). Deliberately permissive — the Luhn gate below is
    * what separates a card from a phone number or an order id. */
  val CardPattern = "\\b(?:\\d[ -]?){12,18}\\d\\b"

  /** Luhn checksum (ISO/IEC 7812) of a digits-only string, as a pure
    * column expression: from the RIGHT, double every second digit and
    * subtract 9 when that doubling carries; a valid PAN sums to ≡ 0
    * (mod 10). Runs per candidate inside a higher-order filter, so it
    * stays in codegen — no UDF. */
  def luhnChecksum(digits: Column): Column =
    aggregate(
      sequence(lit(1), length(digits)),
      lit(0),
      (acc, i) => {
        val d = substr(digits, i, lit(1)).cast("int")
        val doubled = (length(digits) - i) % 2 === 1
        acc + when(doubled, d * 2 - when(d > 4, 9).otherwise(0)).otherwise(d)
      })

  /** PAN-plausible AND Luhn-clean — the card gate over a digits-only
    * candidate (public: the streaming pii gate applies it too). */
  def cardValid(digits: Column): Column =
    length(digits).between(13, 19) && luhnChecksum(digits) % 10 === 0

  /** The Luhn-surviving card candidates of a text column, raw (with
    * their separators) so redaction can replace the exact matched
    * spans. THE single definition — piiCards, piiReport, and the
    * streaming piiGate all call this, so candidate normalization can
    * never drift between the counts, the scrub, and the oracle. */
  def validCardCandidates(text: Column): Column =
    filter(regexp_extract_all(text, lit(CardPattern), lit(0)),
      c => cardValid(regexp_replace(c, "[ -]", "")))

  /** Text with the Luhn-valid card candidates replaced by `<CARD>` —
    * the card leg of the scrub, applied BEFORE the pattern redactions
    * so a bare PAN is gone before the phone pattern could eat its
    * digits. */
  def cardRedacted(text: Column): Column =
    aggregate(validCardCandidates(text), text,
      (acc, c) => replace(acc, c, lit("<CARD>")))

  /** Card-number PII with Luhn validation — the checksum gate every
    * production scrubber runs because the bare digit-run regex drowns in
    * false positives (order ids, timestamps, phone numbers): candidates
    * come from [[CardPattern]], and only candidates whose digits pass the
    * Luhn check are counted as cards and redacted (the redaction fold
    * replaces each VALID candidate string, so a Luhn-failing lookalike in
    * the same document survives untouched). Returns per doc:
    * `n_candidates`, `n_valid_cards`, and the md5 of the redacted text.
    *
    * Map-only: one regex pass + a per-candidate checksum over a
    * candidates-bounded array; no exchange, runs inside the scan at any
    * scale. */
  def piiCards(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(t, lit(CardPattern), lit(0))).cast("long")
        .as("n_candidates"),
      size(validCardCandidates(t)).cast("long").as("n_valid_cards"),
      md5(cardRedacted(t)).as("redacted_digest"))
  }

  /** Token-anchored hit count of a content blocklist — C4's badword
    * gate (Raffel et al. 2020 drop any page with a hit from the public
    * "List of Dirty, Naughty…" list; CCNet thresholds on the rate
    * instead). Entries are lowercase words or space-joined phrases;
    * matching is case-insensitive and word-bounded so "scunthorpe"
    * never hits "thorpe" (the classic false-positive this anchoring
    * exists for). One alternation regex over the config-sized list —
    * map-only, no broadcast, runs inside the scan. */
  def blocklistHits(text: Column, words: Seq[String]): Column = {
    require(words.forall(_.matches("[a-z0-9]+( [a-z0-9]+)*")),
      "blocklist entries must be lowercase word/phrase tokens")
    if (words.isEmpty) lit(0L)
    else size(regexp_extract_all(lower(text),
      lit("\\b(" + words.mkString("|") + ")\\b"), lit(0))).cast("long")
  }

  /** The blocklist verdict per document: `n_blocked` hits and `keep`
    * (hits ≤ maxHits; C4's rule is maxHits = 0). */
  def blocklistGate(docs: DataFrame, words: Seq[String], maxHits: Long = 0L,
                    textCol: String = "text"): DataFrame =
    docs
      .withColumn("n_blocked", blocklistHits(col(textCol), words))
      .withColumn("keep", col("n_blocked") <= maxHits)

  /** Corpus-level PII prevalence by source — the provenance report a
    * curation pipeline publishes before deciding per-source scrub/drop
    * policy: per `srcCol`, documents scanned, documents carrying ANY
    * PII, totals for each type (emails, IPv4s, phone-like runs after
    * email/IP redaction, Luhn-valid cards), and the prevalence rate.
    * Types are INDEPENDENT tallies: a bare unseparated PAN is long
    * enough to read as a phone-like run too and then counts under both
    * types (a separator-grouped PAN never does); the scrub path
    * ([[graft.streaming.CorpusStreams.piiGate]]) redacts cards first,
    * so no byte is ever redacted twice.
    * One map-only pass (all four detectors in a single projection)
    * feeding one partial-aggregating groupBy on the low-cardinality
    * source key — at 100 TB the shuffle moves one row per (partition,
    * source). */
  def piiReport(docs: DataFrame, srcCol: String = "source",
                textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val cards = validCardCandidates(t)
    val perDoc = docs.select(
      col(srcCol).as("source"),
      size(regexp_extract_all(t, lit(EmailPattern), lit(0))).cast("long").as("e"),
      size(regexp_extract_all(t, lit(Ipv4Pattern), lit(0))).cast("long").as("i"),
      size(regexp_extract_all(
        regexp_replace(regexp_replace(t, EmailPattern, "<EMAIL>"),
          Ipv4Pattern, "<IP>"),
        lit(PhonePattern), lit(0))).cast("long").as("p"),
      size(cards).cast("long").as("c"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("docs"),
        sum(when(col("e") + col("i") + col("p") + col("c") > 0, 1L)
          .otherwise(0L)).as("docs_with_pii"),
        sum("e").as("emails"), sum("i").as("ips"),
        sum("p").as("phones"), sum("c").as("cards"))
      .withColumn("pii_rate",
        round(col("docs_with_pii").cast("double") / col("docs"), 4))
  }

  /** Deterministic token-budget shard packing: hash documents into
    * `nGroups` independent groups (md5 of the salted doc id), order each
    * group by that hash, and cut shards whenever the running token count
    * crosses the budget (a document's shard is the bin its PRECEDING
    * cumulative count falls in, so every shard holds >= 1 document and at
    * most budget + one overflow doc of tokens). The window partitions by
    * group — parallelism = nGroups, no global sort; reproducible across
    * engines, partitionings, and runs. */
  def packShards(docs: DataFrame, budgetTokens: Int = 512, nGroups: Int = 8,
                 salt: String = "p0", textCol: String = "text"): DataFrame = {
    val base = docs.select(col("doc_id"),
      TextAnalysis.wsTokens(col(textCol)).cast("long").as("toks"),
      md5(concat(lit(salt), col("doc_id").cast("string"))).as("h"))
      .withColumn("grp",
        (expr("CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT)") % nGroups)
          .cast("int"))
    val win = Window.partitionBy("grp").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.withColumn("cum", sum(col("toks")).over(win))
      .withColumn("shard", (col("cum") - col("toks")) / lit(budgetTokens.toLong))
      .withColumn("shard", floor(col("shard")).cast("long"))
      .select(col("doc_id"), col("toks"), col("grp"), col("shard"))
  }

  /** GPT-style sequence packing (concat-and-chunk): the corpus
    * concatenates in doc_id order into one token stream which chunks
    * into fixed `seqLen`-token training sequences, so a document SPANS
    * chunk boundaries when one falls inside it — the standard
    * pretraining data layout ([[packShards]] is the OTHER policy:
    * whole-document shard assignment; both are deterministic and
    * order-insensitive to partitioning). Per doc:
    * (doc_id, n_tokens, tok_start, first_chunk, last_chunk, n_chunks)
    * with tok_start the EXCLUSIVE prefix sum; zero-token docs occupy no
    * chunk (NULL first/last, n_chunks 0).
    *
    * Shape at 100 TB: the prefix sum is the textbook TWO-PHASE
    * distributed scan — range-repartition on doc_id, per-partition
    * token totals collect to the driver (ONE LONG PER PARTITION — the
    * only driver traffic), each partition's exclusive global offset
    * broadcasts back, and the intra-partition cumsum runs as a window
    * PARTITIONED BY the physical partition id. Parallelism =
    * partitions; there is never a single global-order window task. The
    * result is partition-count independent (offsets + local sums
    * reassociate exactly — token counts are integers). */
  def seqPack(docs: DataFrame, seqLen: Int = 2048,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(seqLen >= 1, "seqLen must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    // checkpoint AFTER the partition id is stamped: the second pass and
    // the offset pass must see the same physical partitioning
    // coalesce: a NULL text must count as zero tokens, not poison the
    // per-partition sum (a partition of all-NULL texts would NPE the
    // driver's offset fold on a NULL sum)
    val parted = docs
      .select(col(idCol),
        coalesce(size(Dedup.tokens(col(textCol))).cast("long"), lit(0L))
          .as("n_tokens"))
      .repartitionByRange(col(idCol))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val partSums = parted.groupBy("__pid").agg(sum("n_tokens").as("s"))
      .orderBy("__pid").collect()
    var acc = 0L
    val offs = partSums.map { r =>
      val row = (r.getInt(0), acc); acc += r.getLong(1); row
    }.toSeq
    val offDf = broadcast(offs.toDF("__pid", "__off"))
    val w = Window.partitionBy("__pid").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = lit(seqLen.toLong)
    parted.join(offDf, Seq("__pid"))
      .withColumn("tok_start",
        col("__off") + sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("first_chunk",
        when(col("n_tokens") > 0, floor(col("tok_start") / c)))
      .withColumn("last_chunk",
        when(col("n_tokens") > 0,
          floor((col("tok_start") + col("n_tokens") - 1) / c)))
      .withColumn("n_chunks",
        coalesce(col("last_chunk") - col("first_chunk") + 1, lit(0L)))
      .select(col(idCol), col("n_tokens"), col("tok_start"),
        col("first_chunk"), col("last_chunk"), col("n_chunks"))
  }

  /** MATERIALIZED packed sequences — the inverse map of [[seqPack]]
    * that a training loader actually consumes: one row per
    * (chunk_id, doc_id) with the document's token SLICE in that chunk.
    * A boundary document emits one row per chunk it spans, split
    * exactly at the chunk edges:
    *
    *  - `chunk_off` — where the slice starts INSIDE the chunk;
    *  - `doc_slice_start` — where it starts INSIDE the document
    *    (token offset, 0-based);
    *  - `doc_slice_len` — its length.
    *
    * Reading a chunk's rows ordered by `chunk_off` reconstructs the
    * chunk: slices tile it exactly — every chunk sums to `seqLen`
    * tokens except the final tail (spec-pinned). Zero-token documents
    * emit nothing (they occupy no chunk, the [[seqPack]] contract).
    *
    * Shape at 100 TB: [[seqPack]]'s two-phase scan plus ONE bounded
    * explode — a document emits `n_chunks ≤ n_tokens/seqLen + 1` rows,
    * so total output is ~(corpus tokens / seqLen) + n_docs rows,
    * map-only after the prefix sum. No shuffle is added. */
  def seqChunks(docs: DataFrame, seqLen: Int = 2048,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val c = lit(seqLen.toLong)
    seqPack(docs, seqLen, idCol, textCol)
      .where(col("n_chunks") > 0)
      .select(col(idCol), col("tok_start"), col("n_tokens"),
        explode(sequence(col("first_chunk"), col("last_chunk")))
          .as("chunk_id"))
      .withColumn("chunk_off",
        greatest(lit(0L), col("tok_start") - col("chunk_id") * c))
      .withColumn("doc_slice_start",
        greatest(lit(0L), col("chunk_id") * c - col("tok_start")))
      .withColumn("doc_slice_len",
        least(col("n_tokens"), (col("chunk_id") + 1) * c - col("tok_start"))
          - col("doc_slice_start"))
      .select(col("chunk_id"), col(idCol), col("chunk_off"),
        col("doc_slice_start"), col("doc_slice_len"))
  }
}
