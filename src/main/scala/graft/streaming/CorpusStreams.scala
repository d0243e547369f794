package graft.streaming

import graft.functions.MinhashSignature
import graft.operators.{CorpusFilters, Dedup, MediaItem}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming corpus curation: the training-data operators
  * applied to a LIVE document feed (a crawler drop-folder, a Kafka topic,
  * the seal export of an ingest server) instead of a settled corpus. The
  * map-only curation family (C4/Gopher filters, PII redaction, quality,
  * token counts) composes with streaming DataFrames untouched — this
  * object adds the pieces that genuinely need streaming machinery:
  * watermarked state for cross-batch dedup and event-time windowed corpus
  * telemetry.
  *
  * Scale: dedup state is keyed by md5(text) — maximally uniform, sized by
  * the watermark horizon not the corpus (the store holds one key per
  * DISTINCT recent document); windowed stats state is (window × stratum)
  * rows. Both partition cleanly across executors, and late arrivals
  * beyond the watermark are dropped rather than growing state without
  * bound — the same contract as TelemetryStreams.
  */
object CorpusStreams {

  /** Cross-batch exact dedup over a document stream: the first arrival of
    * a text body within the watermark horizon survives, replays and
    * duplicates after it are suppressed. This is the streaming face of
    * `Dedup.exactGroups` — state bounded by the horizon, so an
    * at-least-once upstream (e.g. the parquet seal export) becomes
    * effectively-once for downstream training-data consumers. */
  def dedupDocStream(docs: DataFrame, tsCol: String = "ts",
                     textCol: String = "text",
                     watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("text_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("text_hash")
      // the state key is internal — callers get their own schema back,
      // the same contract qualityGate keeps
      .drop("text_hash")

  /** Sealed OTLP log rows reshaped to the curation document contract
    * (doc_id, ts, text): body is the document text, event time is the
    * curation timestamp, and the producer carries its document id as a
    * `doc_id` log attribute (rendered by AttrJson as a JSON number).
    * Map-only — works identically on a batch frame of sealed rows and on
    * the live `otlp-seals` stream, which is what lets the capstone spec
    * assert stream-vs-batch equivalence on the same sealed data. */
  def docsFromLogs(logs: DataFrame): DataFrame =
    logs.select(
      get_json_object(col("log_attributes"), "$.doc_id").cast("long")
        .as("doc_id"),
      col("time_unix_nano").as("ts"),
      col("body").as("text"))

  /** The live-to-training-shards composition, end to end: a running ingest
    * server's seal stream (`format("otlp-seals")` — checkpointed, exactly
    * once) reshaped to documents, watermark-bounded exact dedup, Gopher
    * quality gate. The output is the curated APPEND stream a pipeline
    * writes to its curated-corpus table; shard packing
    * (`CorpusFilters.packShards`) then runs as the batch finalization over
    * that table — packing needs a per-group running token sum, which is a
    * settled-data operation by design (shards are cut when a corpus
    * snapshot ships, not per micro-batch).
    *
    * Scale: every stage is the streaming-native shape — the source reads
    * retained seal buffers zero-copy, dedup state is bounded by the
    * watermark horizon, the gate is a map-only WHERE. One such pipeline
    * runs per ingest endpoint; consumers shard exactly like servers. */
  def curateFromSeals(spark: SparkSession, uri: String,
                      watermark: String = "10 minutes",
                      minWords: Int = 50,
                      evalDocs: Option[DataFrame] = None): DataFrame = {
    val deduped = dedupDocStream(docsFromLogs(
      spark.readStream.format("otlp-seals")
        .option("uri", uri).option("signal", "logs").load()),
      watermark = watermark)
    // optional benchmark-leak gate between dedup and quality: eval band
    // keys are plan literals, so this stays a stateless map-only stage
    val decontaminated =
      evalDocs.map(ev => decontaminationGate(deduped, ev)).getOrElse(deduped)
    qualityGate(decontaminated, minWords = minWords)
  }

  /** Quality gate on the stream: Gopher document rules as one map-only
    * WHERE (`CorpusFilters.gopherKeep`), keeping the caller's columns —
    * attaches to a streaming plan unchanged; a join against the
    * measurement frame would be a stream-stream join. */
  def qualityGate(docs: DataFrame, textCol: String = "text",
                  minWords: Int = 50): DataFrame =
    docs.where(CorpusFilters.gopherKeep(col(textCol), minWords = minWords))

  /** Decontamination gate on the stream: documents whose MinHash LSH bands
    * collide with a benchmark eval set are dropped BEFORE they reach the
    * curated corpus — the streaming face of
    * `CorpusFilters.decontaminateFuzzy`, for pipelines that must never
    * persist leaked benchmark text in the first place.
    *
    * The eval set is static and benchmark-sized, so its distinct band
    * keys — kilobytes — are collected ONCE at composition time and baked
    * into the plan as a literal array (the PQ-codebook pattern): the gate
    * itself is a map-only WHERE (native minhash signature → k/r band keys
    * → arrays_overlap against the literal), no stream-static join, no
    * state, attaches to any streaming plan and keeps the caller's
    * schema. Documents below the n-word shingle floor have no signature
    * and pass (they cannot carry an n-gram of benchmark text). */
  def decontaminationGate(docs: DataFrame, evalDocs: DataFrame, n: Int = 3,
                          k: Int = 8, r: Int = 2,
                          textCol: String = "text"): DataFrame = {
    val evalKeys: Array[String] =
      Dedup.lshBands(Dedup.minhashSignatures(evalDocs, n, k), k, r)
        .select(concat_ws(":", col("band"), col("bkey")).as("key"))
        .distinct().collect().map(_.getString(0))
    val bands = (0 until k / r).map { b =>
      concat_ws(":", lit(b), md5(concat(
        (b * r until (b + 1) * r).map(i =>
          element_at(col("__sig"), i + 1)): _*)))
    }
    docs
      .withColumn("__w", Dedup.tokens(col(textCol)))
      // sub-shingle docs get a NULL signature (not the expression's empty
      // array) so the element_at band lookups below never index an empty
      // array — their band keys degrade to 'b:' strings that match no key
      .withColumn("__sig", when(size(col("__w")) >= n,
        MinhashSignature(col("__w"), n, k)))
      .where(col("__sig").isNull ||
        !arrays_overlap(array(bands: _*), lit(evalKeys)))
      .drop("__w", "__sig")
  }

  /** Streaming incremental dedup gate: drop live documents whose exact
    * text the RELEASED corpus already contains — the stream-static twin of
    * `Dedup.incrementalDedup`'s corpus check, completing the incremental
    * story for live ingest (within-stream duplicates are
    * [[dedupDocStream]]'s watermarked state; this gate handles the
    * batch-released history without any state at all).
    *
    * Shape: a stream-static LEFT ANTI join against the corpus' DISTINCT
    * md5 keys. Stateless on the stream side (append-compatible, no
    * watermark needed); the static side re-resolves per micro-batch, so a
    * corpus table that grows between batches is picked up. At 100 TB the
    * static side is the corpus' hash projection — at that scale back it
    * with a bucketed-by-hash table so each micro-batch join prunes to
    * matching buckets instead of rescanning. */
  def corpusDedupGate(docs: DataFrame, corpus: DataFrame,
                      textCol: String = "text"): DataFrame = {
    // null text is a normal dedup group (the incrementalDedup convention):
    // coalesce BOTH sides or md5(null)=null never equi-joins and null-text
    // stream docs bypass the gate its batch twin would close
    val h = coalesce(md5(col(textCol)), lit("0"))
    val seen = corpus.select(h.as("__seen_hash")).distinct()
    docs.withColumn("__h", h)
      .join(seen, col("__h") === col("__seen_hash"), "left_anti")
      .drop("__h")
  }

  /** Streaming IMAGE near-dup gate: a live media feed (a crawler's image
    * drop, a re-crawl) is checked against the RELEASED corpus's dHash
    * band keys, and an arriving image that shares ANY 16-bit band with a
    * corpus image dies before persisting — the multimodal face of
    * [[corpusDedupGate]], band keys instead of md5. By the 4-band
    * pigeonhole every true near-duplicate (Hamming ≤ 3 — the batch
    * `Multimodal.imageNearDup` threshold) shares a band, so the gate
    * NEVER passes an image the batch dedup would have paired; like
    * [[decontaminationGate]] it is deliberately one-sided — a rare
    * farther image that happens to share a band also drops (LSH-gate
    * semantics: the cost of a lost fresh image is a re-crawl, the cost
    * of a persisted near-duplicate is a polluted corpus).
    *
    * Shape: the stream hashes inline (one decode per item, keeping the
    * caller's item columns), then FOUR stream-static LEFT ANTI equi-joins
    * — one per band, via the shared `Similarity.hamming64BandKey` so gate
    * and batch banding can never drift. Stateless on the stream side; the
    * static side re-resolves per micro-batch, so a corpus that grows
    * between batches is picked up. At 100 TB the static side is the
    * corpus hash projection — bucket it by band value so each micro-batch
    * join prunes to matching buckets. */
  def imageDedupGate(media: Dataset[MediaItem],
                     corpusHashes: DataFrame,
                     hashCol: String = "dhash"): DataFrame = {
    import media.sparkSession.implicits._
    val hashed = media.mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map(m => (m.media_id, m.media_type, m.content,
          graft.operators.Multimodal.dHash64(m)))
      }.toDF("media_id", "media_type", "content", "__dhash")
    val gated = (0 until 4).foldLeft(hashed) { (df, b) =>
      val keys = corpusHashes.select(
        graft.operators.Similarity.hamming64BandKey(col(hashCol), b)
          .as(s"__ck$b")).distinct()
      df.withColumn(s"__b$b", graft.operators.Similarity
          .hamming64BandKey(col("__dhash"), b))
        .join(keys, col(s"__b$b") === col(s"__ck$b"), "left_anti")
        .drop(s"__b$b")
    }
    gated.drop("__dhash")
  }

  /** Streaming canonical-URL dedup gate: a live crawl frontier is checked
    * against the already-crawled corpus's CANONICAL urls, so scheme/port/
    * case/tracking-param/fragment variants of an already-fetched page are
    * never fetched again — [[corpusDedupGate]] with
    * `WebFilters.urlCanonical` as the key instead of md5(text). Stateless
    * stream-static LEFT ANTI equi-join; the static side re-resolves per
    * micro-batch. Unparseable URLs (NULL canonical) flow — killing them
    * is `WebFilters.urlFilter`'s job, and a NULL key would never
    * equi-join anyway. */
  def urlDedupGate(pages: DataFrame, corpus: DataFrame,
                   urlCol: String = "url",
                   corpusUrlCol: String = "url"): DataFrame = {
    val seen = corpus
      .select(graft.operators.WebFilters.urlCanonical(col(corpusUrlCol))
        .as("__seen_url"))
      .where(col("__seen_url").isNotNull).distinct()
    pages
      .withColumn("__cu", graft.operators.WebFilters.urlCanonical(col(urlCol)))
      .join(seen, col("__cu") === col("__seen_url"), "left_anti")
      .drop("__cu")
  }

  /** Streaming robots politeness gate: a live crawl frontier is filtered
    * by the RFC 9309 verdict of
    * [[graft.operators.WebFilters.robotsFilter]] — rules are a BATCH
    * frame (robots fetches are tiny and slow-moving), collapsed to one
    * (host, rules[]) row per host with patterns pre-compiled, and the
    * verdict is a map-only fold per arriving URL, so the gate attaches
    * to any streaming plan in append mode (stream-static join — the
    * planner broadcasts a stats-small rules frame, no force hint; no
    * state, row-preserving before the filter).
    * Blocked URLs drop; the annotation columns robotsFilter adds
    * (host, path, robots_blocked) are dropped again — a gate filters,
    * it does not annotate — and a caller's OWN host/path columns are
    * stashed around the verdict and restored untouched (robotsFilter
    * overwrites them in flight; a gate must never eat caller schema). */
  def robotsGate(frontier: DataFrame, rules: DataFrame,
                 urlCol: String = "url"): DataFrame = {
    // stash matches CASE-INSENSITIVELY (Spark resolution is
    // case-insensitive by default, so a caller's 'Host' would be
    // clobbered just like 'host') and covers robots_blocked too — the
    // verdict column is gate-internal, never the caller's
    val clobbered = Set("host", "path", "robots_blocked")
    val stash = frontier.columns
      .filter(c => clobbered.contains(c.toLowerCase)).toSeq
    val renamed = stash.foldLeft(frontier)((d, c) =>
      d.withColumnRenamed(c, "__keep_" + c.toLowerCase))
    val gated = graft.operators.WebFilters
      .robotsFilter(renamed, rules, urlCol)
      .where(!col("robots_blocked"))
      .drop("host", "path", "robots_blocked")
    stash.foldLeft(gated)((d, c) =>
      d.withColumnRenamed("__keep_" + c.toLowerCase, c))
  }

  /** Streaming incremental-recrawl gate: each freshly fetched page checks
    * against the PREVIOUS crawl snapshot and flows only when it is worth
    * persisting — `new` (canonical URL never crawled) or `changed`
    * (content digest differs); a byte-identical refetch drops. The live
    * face of [[graft.operators.WebFilters.crawlDelta]] for the two
    * statuses a stream can decide per arrival (`gone` needs the whole
    * snapshot — that stays the batch operator's job, documented).
    * Stateless stream-static LEFT join on canonical URL; the static side
    * collapses keep-first per canonical exactly as crawlDelta does, so
    * the gate's verdict equals the batch delta's for every arriving URL.
    * Unparseable URLs drop — there is nothing to key a store on. */
  def recrawlGate(pages: DataFrame, prevSnapshot: DataFrame,
                  urlCol: String = "url", textCol: String = "text",
                  prevIdCol: String = "doc_id", prevUrlCol: String = "url",
                  prevTextCol: String = "text"): DataFrame = {
    // the ONE snapshot-collapse rule, shared with the batch delta so the
    // gate's verdicts cannot drift from crawlDelta's (spec-pinned); it
    // also digests NULL content as empty, so a fetched-but-empty page
    // compares as a real fetch on both sides
    val prev = graft.operators.WebFilters
      .snapshotDigests(prevSnapshot, prevIdCol, prevUrlCol, prevTextCol)
      .select(col("canonical_url").as("__pu"), col("digest").as("__pd"))
    pages
      .withColumn("__cu", graft.operators.WebFilters.urlCanonical(col(urlCol)))
      .where(col("__cu").isNotNull)
      .join(prev, col("__cu") === col("__pu"), "left")
      .withColumn("status",
        when(col("__pd").isNull, lit("new"))
          .when(col("__pd") === md5(coalesce(col(textCol), lit(""))),
            lit("unchanged"))
          .otherwise(lit("changed")))
      .where(col("status") =!= "unchanged")
      .drop("__cu", "__pu", "__pd")
  }

  /** Temperature-mix gate on the stream: per-stratum keep rates derived
    * ONCE from a settled reference corpus (`Sampling.temperatureRates` —
    * share ∝ n^alpha) and baked into the plan as a literal CASE chain, so
    * a live crawler feed downsamples its dominant sources at exactly the
    * shares a batch run over the reference corpus would keep. The keep
    * decision is the shared md5 unit hash (same salt ⇒ a document admitted
    * here is the same document the batch sample keeps — stream and batch
    * curation stay membership-consistent).
    *
    * Stateless map-only WHERE (the rate table is strata-sized, kilobytes,
    * collected at composition time — the PQ-codebook / eval-band-key
    * pattern); attaches to any streaming plan in append mode. Strata the
    * reference corpus never saw rate 0 — an unknown-source document does
    * not pass an audited mixing gate. */
  def temperatureGate(docs: DataFrame, corpus: DataFrame, alpha: Double,
                      budgetDocs: Long, strataCol: String = "lang",
                      salt: String = "tmix",
                      idCol: String = "doc_id"): DataFrame = {
    val rates = graft.operators.Sampling
      .temperatureRates(corpus, alpha, budgetDocs, strataCol, idCol)
      .select(col(strataCol), col("rate")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    val rateExpr = rates.foldLeft(lit(0.0)) { case (acc, (s, rt)) =>
      when(col(strataCol) === s, lit(rt)).otherwise(acc)
    }
    docs.where(
      graft.operators.Sampling.hashUnit(col(idCol), salt) < rateExpr)
  }

  /** CCNet serving on a live feed: each arriving document scored by mean
    * unigram surprisal under a model trained OFFLINE
    * (`TextAnalysis.unigramModel`) and bucketed head/middle/tail against
    * batch-derived tercile thresholds (`perplexityBuckets`' t1/t2) —
    * the deployment split CCNet itself uses (Wenzek et al. 2020): the LM
    * and the thresholds come from a settled reference corpus, the stream
    * only pays a lookup per token. Terms the model never saw cost
    * `oovNll` (the model's count-0 surprisal), so novel junk scores high
    * and lands in `tail` instead of silently dropping out.
    *
    * Shape: explode → stream-STATIC broadcast join (the model is
    * vocab-sized and static — no stream-stream state) → watermarked
    * per-(window, doc) rollup (state bounded by the horizon, keyed by the
    * maximally-uniform doc id) → map-side bucket verdict. */
  def surprisalBucketStream(docs: DataFrame, model: DataFrame,
                            oovNll: Double, t1: Double, t2: Double,
                            tsCol: String = "ts", idCol: String = "doc_id",
                            textCol: String = "text",
                            watermark: String = "10 minutes",
                            windowLen: String = "1 minute"): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol),
        explode(filter(split(lower(col(textCol)), "\\s+"),
          t => length(t) > 0)).as("term"))
      .join(broadcast(model), Seq("term"), "left")
      .withColumn("nll", coalesce(col("nll"), lit(oovNll)))
      .groupBy(window(col(tsCol), windowLen), col(idCol))
      .agg(count(lit(1)).as("n_tokens"), round(avg("nll"), 4).as("surprisal"))
      .select(col(idCol), col("n_tokens"), col("surprisal"),
        when(col("surprisal") <= t1, "head")
          .when(col("surprisal") <= t2, "middle")
          .otherwise("tail").as("bucket"))

  /** Streaming charset TRANSCODE gate: live page bytes decode to text by
    * [[graft.operators.WebFilters.transcode]]'s pinned precedence (HTTP
    * charset > meta charset > UTF-8 default) and rows whose declared
    * charset could not be honored DROP — a gate filters; the batch
    * operator's `decode_ok = false` latin-1 fallback is for pipelines
    * that keep-and-flag instead. Pure column ops (one decode + regexes
    * per row), so the gate is stateless, map-only, append-mode — it
    * attaches between [[graft.operators.WebFilters.warcHttp]]'s envelope
    * verdict and any extraction stage on a live crawl with no state and
    * no watermark. Emits the caller's columns plus `charset_used` and
    * `text`. */
  def transcodeGate(pages: DataFrame, bytesCol: String = "body_bytes",
                    httpCharsetCol: String = "charset"): DataFrame =
    graft.operators.WebFilters.transcode(pages, bytesCol, httpCharsetCol)
      .where(col("decode_ok"))
      .drop("decode_ok")

  /** Streaming mojibake gate — the twin of [[transcodeGate]] for feeds
    * that arrive ALREADY decoded (an upstream fetcher guessed the
    * charset): flagged rows get the cp1252-roundtrip repair of
    * [[graft.operators.WebFilters.mojibakeRepair]] applied in place
    * (`text` is replaced; unflagged and unrepairable rows pass through
    * byte-identical), and `n_artifacts`/`repaired` ride along for
    * downstream quality filters. Pure column ops — stateless, map-only,
    * append-mode, no watermark. */
  def mojibakeGate(docs: DataFrame, textCol: String = "text",
                   minHits: Int = 2): DataFrame =
    graft.operators.WebFilters.mojibakeRepair(docs, textCol, minHits)
      .withColumn(textCol, col("text_repaired"))
      .drop("text_repaired", "artifact_rate", "mojibake")

  /** Streaming PII scrub gate: emails, IPv4s, and phone-like runs
    * redact by pattern ([[graft.operators.CorpusFilters.redactedText]])
    * and card candidates redact only when they pass the Luhn check
    * ([[graft.operators.CorpusFilters.validCardCandidates]]) — `text`
    * is replaced in place, `n_pii` rides along so downstream can route
    * heavy-PII docs to quarantine instead of publishing them scrubbed.
    * `n_pii` counts exactly the entities the scrub removes: cards
    * first, then phones counted on the CARD-REDACTED text — a bare
    * unseparated PAN is long enough to match the phone pattern too,
    * and counting it twice would double the routing signal for
    * precisely the documents it matters most for. Pure column ops —
    * stateless, map-only, append-mode. */
  def piiGate(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import graft.operators.CorpusFilters._
    val t = col(textCol)
    val afterCards = cardRedacted(t)
    docs
      .withColumn("n_pii",
        size(validCardCandidates(t)).cast("long") +
          size(regexp_extract_all(afterCards, lit(EmailPattern), lit(0)))
            .cast("long") +
          size(regexp_extract_all(afterCards, lit(Ipv4Pattern), lit(0)))
            .cast("long") +
          size(regexp_extract_all(
            regexp_replace(regexp_replace(afterCards, EmailPattern, "<EMAIL>"),
              Ipv4Pattern, "<IP>"),
            lit(PhonePattern), lit(0))).cast("long"))
      .withColumn(textCol, redactedText(afterCards))
  }

  /** Event-time windowed corpus telemetry per stratum: docs and tokens
    * per (window, stratum) — the live dashboard a curation pipeline
    * publishes while filling shards. Append-mode compatible (the
    * watermarked tumbling windows of `TelemetryStreams.windowed`). */
  def corpusStats(docs: DataFrame, tsCol: String = "ts",
                  strataCol: String = "lang", textCol: String = "text",
                  windowLen: String = "1 minute",
                  watermark: String = "2 minutes"): DataFrame =
    TelemetryStreams.windowed(
        docs.withColumn("toks", size(Dedup.tokens(col(textCol))).cast("long")),
        tsCol, windowLen, Some(watermark))(col(strataCol))(
      count(lit(1)).as("docs"), sum("toks").as("tokens"))
}
