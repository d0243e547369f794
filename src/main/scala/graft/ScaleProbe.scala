package graft

/** One-off scale-point harness (dev tool, not part of the driver
  * contract): times a single operator configuration so SCALE.md's
  * fixed-k vs paper-scaled-k comparisons are reproducible commands
  * instead of ad-hoc console sessions.
  *
  * Usage: runMain graft.ScaleProbe <sfDir> <op> <k>
  * ops: label_prop | d4 | knn | semdedup (k = centroids; k=0 = AutoCells,
  *        the n/250 data-derived default) | bpe (k = merges)
  *      hardneg (k = centroids) | kmeans (k = clusters) |
  *      shuffle (k = hex digits) | increm | incremnear | bloom (k unused) |
  *      cdc (k = blockWords) | editdist (k = prefixChars) | mhcal |
  *      dupngrams (k = n) | tempmix (k = budgetDocs) | qualcal (k = bins) |
  *      novelty (k = n-gram order) | tracetree (k = chain depth; 1M synthetic spans)
  *      metricrate | deltacum | histq | exphistq (k = points in units of
  *        100k; synthetic series tables, ~100 points/series — the corpus
  *        has no metric points, and row count x cardinality is the cost)
  *      logtmpl (k = maxDistinct budget; documents.text as log bodies)
  *      unigram (k = EM iterations; distributed-E-step trainer)
  *      anchors (k = PR iters) | wordpiece (k = vocabSize) |
  *      sq8 (k = rerank) | textrank (k = maxEdges) — full-corpus web/
  *        tokenizer/ANN probes (no LIMIT fixtures)
  *      warchttp (k = records/file) | linkpolicy (k unused) —
  *        full-corpus WARC HTTP gate / nofollow-aware outlinks
  *      piicards (k unused) | mojibake (k = plant-every-k) —
  *        full-corpus Luhn card gate / mojibake detect+repair
  * (PlanProbe writes a registry query's formatted plan.) */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, op, kStr) = args
    val spark = Sessions.local()
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.limit(1).count() // JVM/codegen warmup outside the timing
    val k = kStr.toInt
    import graft.operators.{Similarity, TextAnalysis}
    def run(): Double = {
      val t0 = System.nanoTime()
      val df = op match {
        case "label_prop" =>
          Similarity.labelPropagation(emb, k = 3, centroids = k, dims = 64)
        case "d4" =>
          Similarity.d4Prune(emb, centroids = k, dims = 64,
            threshold = 0.3, dropFrac = 0.25)
        case "knn" => Similarity.knnGraph(emb, k = 3, centroids = k, dims = 64)
        case "semdedup" =>
          Similarity.semDedup(emb, centroids = k, dims = 64, threshold = 0.3)
        case "bpe" =>
          TextAnalysis.bpeMerges(
            spark.read.parquet(s"$sfDir/documents.parquet"), merges = k)
        case "hardneg" =>
          Similarity.hardNegatives(emb, k = 3, centroids = k, dims = 64)
        case "kmeans" =>
          Similarity.kmeansClusters(emb, k = k, dims = 64, iters = 2)
        case "shuffle" =>
          operators.Sampling.shuffleOrder(
            spark.read.parquet(s"$sfDir/documents.parquet"), hexDigits = k)
        case "increm" =>
          val d = spark.read.parquet(s"$sfDir/documents.parquet")
          operators.Dedup.incrementalDedup(
            d.where(org.apache.spark.sql.functions.col("doc_id") % 10 === 0),
            d.where(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0))
        case "incremnear" =>
          val d = spark.read.parquet(s"$sfDir/documents.parquet")
          operators.Dedup.incrementalNearDedup(
            d.where(org.apache.spark.sql.functions.col("doc_id") % 10 === 0),
            d.where(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0))
        case "bloom" =>
          val d = spark.read.parquet(s"$sfDir/documents.parquet")
          val corpus = d.where(
            org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0)
          operators.Dedup.bloomDedup(
            d.where(org.apache.spark.sql.functions.col("doc_id") % 10 === 0),
            corpus, expectedItems = corpus.count())
        case "cdc" =>
          operators.CorpusFilters.cdcChunkDedup(
            spark.read.parquet(s"$sfDir/documents.parquet"), blockWords = k)
        case "editdist" =>
          operators.Dedup.editDistVerify(
            spark.read.parquet(s"$sfDir/documents.parquet"), prefixChars = k)
        case "semclusters" =>
          // dd_semantic_clusters: cell-bounded kNN edges -> pointer-doubling
          val edges = Similarity.knnGraph(emb, k = 3, centroids = k, dims = 64)
            .where(org.apache.spark.sql.functions.col("sim") >= 0.3)
            .select(org.apache.spark.sql.functions.col("src").as("id_a"),
              org.apache.spark.sql.functions.col("dst").as("id_b"))
          operators.Dedup.neardupClusters(edges)
        case "keepbest" =>
          // dd_cluster_keep_best: LSH bands -> jaccard verify -> clusters
          // -> best-doc-per-cluster
          import org.apache.spark.sql.functions.col
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          val cand = operators.Dedup.lshCandidatePairs(docs, n = 3, k = 8, r = 2)
          val pairs = operators.Dedup.ngramJaccard(docs, cand, n = 2)
            .where(col("jaccard") >= 0.5)
          val clusters = operators.Dedup.neardupClusters(
            pairs.select("id_a", "id_b"))
          operators.Dedup.clusterKeepBest(docs, clusters, col("n_chars"))
        case "substr" =>
          operators.Dedup.substringDedup(
            spark.read.parquet(s"$sfDir/documents.parquet"), l = k)
        case "mhcal" =>
          operators.Dedup.minhashCalibration(
            spark.read.parquet(s"$sfDir/documents.parquet"))
        case "dupngrams" =>
          TextAnalysis.dupNgrams(
            spark.read.parquet(s"$sfDir/documents.parquet"), n = k)
        case "tempmix" =>
          operators.Sampling.temperatureReport(
            spark.read.parquet(s"$sfDir/documents.parquet"),
            alpha = 0.3, budgetDocs = k.toLong)
        case "qualcal" =>
          TextAnalysis.qualityCalibration(
            spark.read.parquet(s"$sfDir/documents.parquet"),
            positive = org.apache.spark.sql.functions.col("source") === "src0",
            bins = k)
        case "novelty" =>
          TextAnalysis.noveltyScore(
            spark.read.parquet(s"$sfDir/documents.parquet"), n = k)
        case "tracetree" =>
          // synthetic span table: 1M spans in chains of depth k — the
          // documents corpus has no spans, and the walk's cost depends on
          // span count x rounds, both captured here deterministically
          import org.apache.spark.sql.functions._
          val n = 1000000L
          val spans = spark.range(n).select(
            (col("id") / k).cast("long").cast("string").as("trace_id"),
            col("id").cast("string").as("span_id"),
            when(col("id") % k === 0, lit(null))
              .otherwise((col("id") - 1).cast("string")).as("parent_span_id"),
            (col("id") % 100 + 1).as("duration_time_unix_nano"))
          operators.Traces.traceTree(spans)
        case "logtmpl" =>
          operators.Logs.logTemplates(
            spark.read.parquet(s"$sfDir/documents.parquet")
              .selectExpr("text AS body"), maxDistinct = k)
        case "metricrate" | "deltacum" | "overtime" | "increase" | "quantby"
           | "holtwinters" | "seasonal" =>
          import org.apache.spark.sql.functions._
          val n = k * 100000L
          val series = math.max(1L, n / 100) // ~100 points per series
          val pts = spark.range(n).select(
            concat(lit("metric_"), (col("id") % series).cast("string")).as("name"),
            lit("svc").as("service_name"),
            lit(null).cast("string").as("service_namespace"),
            (col("id") % series).cast("string").as("service_instance_id"),
            lit(null).cast("string").as("resource_attributes"),
            lit("scope").as("scope_name"),
            lit("{}").as("metric_attributes"),
            timestamp_micros(lit(1700000000000000L) +
              expr(s"id div $series") * 10000000L).as("time_unix_nano"),
            (col("id") % 7 === 0).cast("boolean").as("is_monotonic"),
            (col("id").cast("double") / series).as("double_value"),
            lit(null).cast("long").as("int_value"),
            when(col("id") % 2 === 0, 1).otherwise(2).as("aggregation_temporality"))
          op match {
            case "metricrate" => operators.Metrics.rate(pts)
            case "deltacum" => operators.Metrics.deltaToCumulative(pts)
            case "overtime" => operators.Metrics.overTime(pts, windowSec = 60)
            case "increase" => operators.Metrics.increase(pts, windowSec = 60)
            case "holtwinters" => operators.Metrics.holtWinters(pts)
            case "seasonal" =>
              operators.Metrics.seasonalAnomaly(pts, "minute", k = 1.0)
            case _ => operators.Metrics.quantileBy(pts, q = 0.9)
          }
        case "histq" =>
          import org.apache.spark.sql.functions._
          val n = k * 100000L
          spark.range(n).select(
            expr("array(id % 5 + 1, id % 11 + 2, id % 17 + 1, id % 3)")
              .as("bucket_counts"),
            expr("array(CAST(10 AS DOUBLE), CAST(50 AS DOUBLE), CAST(100 AS DOUBLE))")
              .as("explicit_bounds"))
            .transform(df => operators.Metrics.histogramQuantile(df, 0.9))
        case "funnel" =>
          import org.apache.spark.sql.functions._
          // k*100k synthetic events over k*2k users, ~50 events each, 5
          // types — the ev_funnel shape at probe scale
          val n = k * 100000L
          spark.range(n).select(
            (col("id") % (k * 2000L)).as("user_id"),
            element_at(array(lit("view"), lit("click"), lit("purchase"),
              lit("signup"), lit("error")),
              (pmod(col("id") * 31L, lit(5L)) + 1).cast("int"))
              .as("event_type"),
            (col("id") * 7919L % 86400000000000L).as("ts_ns"))
            .transform(df => operators.Events.funnel(df,
              Seq("view", "click", "purchase"), windowNs = 3600000000000L))
        case "activeusers" | "transitions" | "attribution" | "gini" =>
          import org.apache.spark.sql.functions._
          // the funnel generator's shape (k*100k events, k*2k users,
          // ~50 events each, 5 types) with the timestamp/id columns the
          // wider family needs
          val n = k * 100000L
          val ev = spark.range(n).select(
            (col("id") % (k * 2000L)).as("user_id"),
            element_at(array(lit("view"), lit("click"), lit("purchase"),
              lit("signup"), lit("error")),
              (pmod(col("id") * 31L, lit(5L)) + 1).cast("int"))
              .as("event_type"),
            (col("id") * 7919L % 86400000000000L).as("ts_ns"),
            col("id").as("event_id"),
            // second-resolution spread across a REAL 30 days: a µs-axis
            // modulus collapsed the frame to ~2 days at probe sizes and
            // made the 7-day rolling window vacuous (review finding)
            timestamp_micros(lit(1700000000000000L) +
              (col("id") * 7919L % 2592000L) * 1000000L).as("ts"))
          op match {
            case "activeusers" => operators.Events.activeUsers(ev)
            case "transitions" => operators.Events.transitions(ev)
            case "attribution" =>
              operators.Events.attribution(ev, "purchase")
            case _ => operators.Events.engagementGini(ev)
          }
        case "expagg" =>
          import org.apache.spark.sql.functions._
          val n = k * 100000L
          spark.range(n).select(
            concat(lit("m"), col("id") % 50).as("name"),
            lit("svc").as("service_name"),
            lit(null).cast("string").as("service_namespace"),
            lit(null).cast("string").as("service_instance_id"),
            lit("{}").as("resource_attributes"),
            lit("sc").as("scope_name"),
            lit("{}").as("metric_attributes"),
            timestamp_micros(col("id") * 1000000L).as("time_unix_nano"),
            (col("id") % 3).cast("int").as("scale"),
            (col("id") % 4).as("zero_count"),
            (col("id") % 5 - 2).cast("int").as("positive_offset"),
            expr("array(id % 5 + 1, id % 11 + 2, id % 17 + 1)")
              .as("positive_bucket_counts"),
            lit(0).as("negative_offset"),
            expr("array()").cast("array<bigint>")
              .as("negative_bucket_counts"))
            .transform(df => operators.Metrics.aggregateExpHistograms(df))
        case "htmlextract" =>
          // the registry query rides a LIMIT-150 fixture (oracle needs a
          // deterministic subset); this probe measures the operator over
          // the WHOLE corpus so the map-only claim has a number (k = words
          // per fixture line)
          val d = spark.read.parquet(s"$sfDir/documents.parquet")
          operators.WebFilters.htmlExtract(
            operators.WebFilters.htmlFixture(d, limit = 0,
              lineWords = if (k > 0) k else 12))
        case "weblinks" =>
          // full-corpus outlink extraction + canonicalization (k unused)
          val d = spark.read.parquet(s"$sfDir/documents.parquet")
          import org.apache.spark.sql.functions._
          operators.WebFilters.htmlLinks(
              operators.WebFilters.htmlFixture(d, limit = 0)
                .withColumn("base_url", concat(lit("https://docs.example.org/d/"),
                  col("doc_id").cast("string"))))
            .withColumn("canonical_url",
              operators.WebFilters.urlCanonical(col("url")))
        case "anchors" =>
          // full-corpus anchor extraction -> host graph -> PageRank (the
          // web-graph family end to end; k = PR iterations)
          val d = spark.read.parquet(s"$sfDir/documents.parquet")
          operators.WebFilters.hostRank(
            operators.WebFilters.htmlAnchors(
              operators.WebFilters.anchorFixture(d, limit = 0)),
            iters = if (k > 0) k else 2)
        case "wordpiece" =>
          // vocab (seed rule) + whole-corpus encode; k = vocabSize
          val d = spark.read.parquet(s"$sfDir/documents.parquet")
          TextAnalysis.wordpieceEncode(d,
            TextAnalysis.wordpieceVocab(d,
              vocabSize = if (k > 0) k else 256, maxPieceLen = 4))
        case "sq8" =>
          // full-corpus integer scan + rerank (k = rerank window)
          Similarity.annTopKSq8(emb, queryId = 7, k = 10,
            rerank = if (k > 0) k else 40)
        case "textrank" =>
          // whole-corpus co-occurrence graph (k = maxEdges cap)
          TextAnalysis.textrankKeywords(
            spark.read.parquet(s"$sfDir/documents.parquet"),
            topK = 50, maxEdges = if (k > 0) k else 10000)
        case "warchttp" =>
          // whole corpus wrapped as WARC response records (k docs per
          // file, default 10) -> HTTP envelope gate; the groupBy is the
          // fixture's cost, the gate itself is the map-only explode+regex
          import org.apache.spark.sql.functions._
          val per = if (k > 0) k else 10
          val d = spark.read.parquet(s"$sfDir/documents.parquet")
          val recs = d.select(col("doc_id"),
            floor(col("doc_id") / per).cast("long").as("file_id"),
            concat(lit("WARC/1.0\nWARC-Target-URI: https://x.org/"),
              col("doc_id").cast("string"),
              lit("\n\nHTTP/1.1 200 OK\nContent-Type: text/html\n\n" +
                "<html><body><p>"), col("text"),
              lit("</p></body></html>\n\n")).as("rec"))
          operators.WebFilters.warcHttp(recs.groupBy("file_id").agg(
            concat_ws("", transform(
              array_sort(collect_list(struct(col("doc_id"), col("rec")))),
              x => x.getField("rec"))).as("body")))
        case "linkpolicy" =>
          // full-corpus nofollow-aware outlink extraction: the anchor
          // fixture plus a nofollow anchor per page and a page-level
          // meta nofollow on every 7th page
          import org.apache.spark.sql.functions._
          val d = spark.read.parquet(s"$sfDir/documents.parquet")
          operators.WebFilters.followLinks(
            operators.WebFilters.anchorFixture(d, limit = 0)
              .withColumn("html", concat(col("html"),
                lit("<a rel=\"nofollow\" href=\"https://spam.example.net/x\">s</a>"),
                when(col("doc_id") % 7 === 0,
                  lit("<meta name=\"robots\" content=\"nofollow\">"))
                  .otherwise(lit("")))))
        case "piicards" =>
          // full-corpus Luhn card gate (no LIMIT): every doc carries one
          // valid PAN and one checksum-failing lookalike — candidate
          // extraction + the per-candidate checksum fold over the whole
          // corpus, the 100 TB shape of the gate
          import org.apache.spark.sql.functions._
          val d = spark.read.parquet(s"$sfDir/documents.parquet")
          operators.CorpusFilters.piiCards(d.withColumn("text",
            concat(col("text"),
              lit(" pay 4111 1111 1111 1111 or 4111-1111-1111-1112"))))
        case "mojibake" =>
          // full-corpus mojibake detect + cp1252-roundtrip repair (no
          // LIMIT): artifacts planted on every k-th doc (default 5)
          import org.apache.spark.sql.functions._
          val every = if (k > 0) k else 5
          val d = spark.read.parquet(s"$sfDir/documents.parquet")
          operators.WebFilters.mojibakeRepair(d.withColumn("text",
            when(col("doc_id") % every === 0,
              concat(col("text"), lit(" donâ€™t â€” cafÃ© naÃ¯ve Â» fin")))
              .otherwise(col("text"))))
        case "unigram" =>
          // whole trainer timed (seed pass + k EM rounds, all distributed;
          // the internal jobs run eagerly so the noop write adds nothing)
          TextAnalysis.unigramVocab(
            spark.read.parquet(s"$sfDir/documents.parquet"),
            vocabSize = 64, emIters = k)
        case "exphistq" =>
          import org.apache.spark.sql.functions._
          val n = k * 100000L
          spark.range(n).select(
            (col("id") % 4).as("zero_count"),
            lit(0).as("scale"),
            (col("id") % 5 - 2).cast("int").as("positive_offset"),
            expr("array(id % 5 + 1, id % 11 + 2, id % 17 + 1)")
              .as("positive_bucket_counts"),
            lit(0).as("negative_offset"),
            expr("array()").cast("array<bigint>").as("negative_bucket_counts"))
            .transform(df => operators.Metrics.expHistogramQuantile(df, 0.9))
        case other => throw new IllegalArgumentException(s"unknown op $other")
      }
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val a = run(); System.gc(); val b = run()
    println(f"[scaleprobe] op=$op sfDir=$sfDir centroids=$k best=${math.min(a, b)}%.2f s (runs $a%.2f / $b%.2f)")
    spark.stop()
  }
}
