package graft

import org.apache.spark.sql.functions._

/** Physical-plan hygiene: the plans we rely on at 100 TB actually form.
  * (SURVEY.md §4 — pushdown, broadcast, partial aggregation, no stray
  * shuffles in map-only operators.) */
class PlanSpec extends SparkTestBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("parquet scan pushes filters and prunes columns") {
    Tables.register(spark, sfDir)
    val df = spark.table("lineitem")
      .where(col("l_quantity") > 30 && col("l_returnflag") === "R")
      .select("l_orderkey")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)") ||
      p.contains("PushedFilters: [IsNotNull(l_returnflag)"), p)
    assert(p.contains("ReadSchema") &&
      !p.contains("l_comment"), "column pruning should drop unused columns")
  }

  test("small-dimension join broadcasts (no shuffle of the big side)") {
    Tables.register(spark, sfDir)
    val df = spark.table("customer")
      .join(broadcast(spark.table("nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)))
    assert(plan(df).contains("BroadcastHashJoin"), plan(df))
  }

  test("groupBy aggregates partially before the shuffle (map-side combine)") {
    Tables.register(spark, sfDir)
    val df = spark.table("lineitem")
      .groupBy("l_returnflag").agg(sum("l_quantity"))
    val p = plan(df)
    // two HashAggregate nodes around a single Exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("approx percentile partial-aggregates the sketch (q08's scale path)") {
    Tables.register(spark, sfDir)
    val df = spark.sql(
      "SELECT approx_percentile(l_extendedprice, 0.95, 10000) FROM lineitem")
    val p = plan(df)
    // mergeable sketch: partial aggregate per task, merge at the final —
    // the exact percentile_cont instead ships every value to one group
    assert(p.contains("partial_approx_percentile"), p)
    assert(!p.contains("Sort"), "no global sort in the sketch path: " + p)
  }

  test("whole-stage codegen covers the scan->filter->project pipeline") {
    Tables.register(spark, sfDir)
    val df = spark.table("orders")
      .where(col("o_totalprice") > 1000).select("o_orderkey")
    // "*(n)" node prefixes mark whole-stage-codegen stages in the plan string
    assert(plan(df).contains("*(1)"), plan(df))
  }

  test("otlp DSv2 scan reports one partition per file and pruned schema") {
    val fx = "src/test/resources/otlp"
    val df = Otlp.readLogs(spark, s"$fx/logs_simple.jsonl").select("body")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("otlp"), scan)
    assert(df.rdd.getNumPartitions == 1)
  }

  test("text operators are map-only (no Exchange before the aggregate)") {
    Tables.register(spark, sfDir)
    val df = graft.operators.TextAnalysis.qualityScore(spark.table("documents"))
    assert(!plan(df).contains("Exchange"), plan(df))
  }

  test("brute-force cosine top-k broadcasts the query vector") {
    Tables.register(spark, sfDir)
    val df = graft.operators.Similarity.cosineTopK(
      spark.table("embeddings"), queryId = 7, k = 10)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("deterministic sampling is a pushed-down map-side filter") {
    Tables.register(spark, sfDir)
    val df = graft.operators.Sampling.stratifiedSample(
      spark.table("documents"), "lang", Map("en" -> 0.25), 0.75)
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
    // the md5 filter can't push to parquet, but column pruning must hold:
    // only doc_id (hash input) + lang (stratum) + selected cols are read
    val pruned = df.select("doc_id", "lang")
    assert(!plan(pruned).contains("text"), plan(pruned))
  }

  test("trained IVF assignment stays map-only after training") {
    Tables.register(spark, sfDir)
    val cents = graft.operators.Similarity.ivfCentroidsTrained(
      spark.table("embeddings"), centroids = 8, dims = 64)
    val df = graft.operators.Similarity.ivfCellsWith(
      spark.table("embeddings"), cents)
    assert(!plan(df).contains("Exchange"), plan(df))
  }

  test("LSH bucketing is exchange-free on the native array_dot kernel " +
      "(no interpreted lambda in the projection)") {
    Tables.register(spark, sfDir)
    val df = graft.operators.Similarity.lshBuckets(
      spark.table("embeddings"), planes = 8, dims = 64)
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
    assert(p.contains("array_dot"), p)
    // the plane projection must not fall back to the interpreted
    // higher-order-function path (transform/aggregate lambdas)
    assert(!p.contains("lambdafunction"), p)
  }

  test("tf-idf aggregates partially before each shuffle") {
    Tables.register(spark, sfDir)
    val df = graft.operators.TextAnalysis.tfidfTopTerms(
      spark.table("documents"), k = 3)
    val p = plan(df)
    // doc-term tf and term df both partial-aggregate; corpus count broadcasts
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("shard packing windows per group, never a single global partition") {
    Tables.register(spark, sfDir)
    val p = plan(graft.operators.CorpusFilters.packShards(spark.table("documents")))
    // the cumulative sum must hash-partition on grp — a SinglePartition
    // exchange would serialize the whole corpus through one task
    assert(p.contains("hashpartitioning(grp"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("stratum top-k prunes in salted buckets before the per-stratum rank") {
    Tables.register(spark, sfDir)
    val df = graft.operators.Sampling.stratumTopK(
      spark.table("documents"), "lang", col("n_chars"), k = 3)
    val p = plan(df)
    // pass 1 partitions on (lang, crc32-salt) — a giant stratum spreads
    // over `buckets` tasks; pass 2 partitions on lang alone but only ever
    // sees k*buckets survivors per stratum. Two window exchanges, no
    // global range partition.
    assert("Window".r.findAllIn(p).size >= 2, p)
    assert(p.contains("hashpartitioning(lang"), p)
    assert(!p.contains("rangepartitioning") && !p.contains("SinglePartition"), p)
  }

  test("decontamination broadcasts the eval grams; the corpus never " +
      "shuffles by gram") {
    Tables.register(spark, sfDir)
    val d = spark.table("documents")
    val df = graft.operators.CorpusFilters.decontaminate(
      d.where(col("source") =!= "src0"), d.where(col("source") === "src0"))
    val p = plan(df)
    // the gram join must build on the broadcast eval side (the eval set's
    // own distinct() may hash-partition its kilobytes of grams — fine);
    // the corpus side's only aggregation key is doc_id
    assert(p.contains("BroadcastHashJoin [gh"), p)
    assert(p.contains("hashpartitioning(doc_id"), p)
  }

  test("hamming ann is a broadcast-query map scan with global top-k") {
    Tables.register(spark, sfDir)
    val df = graft.operators.Similarity.annTopKHamming(
      spark.table("embeddings"), dims = 64, queryId = 7, k = 10)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ivf-pq serving is a broadcast-query scan over codes: no corpus " +
      "exchange before the top-k, no interpreted lambda in the hot path") {
    Tables.register(spark, sfDir)
    val df = graft.operators.Similarity.annTopKIvfPq(
      spark.table("embeddings"), queryId = 7, k = 10,
      centroids = 8, nprobe = 2, dims = 64)
    val p = plan(df)
    // the only join is the broadcast of the 1-row query; the corpus side
    // reaches TakeOrderedAndProject without a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("ShuffleExchange"), p)
    // cell scoring + code assignment + ADC all run on the native kernels
    assert(p.contains("array_dot") && p.contains("array_sqdist"), p)
    assert(!p.contains("lambdafunction"), p)
  }

  test("embedding decontamination broadcasts the eval set; the per-row " +
      "max partial-aggregates so the one shuffle carries corpus rows only") {
    Tables.register(spark, sfDir)
    val emb = spark.table("embeddings")
    val df = graft.operators.Similarity.embeddingDecontaminate(
      emb.where(col("label") =!= 0), emb.where(col("label") === 0),
      threshold = 0.35)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // partial + final HashAggregate around a single uniform-key Exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("array_dot"), p)
    assert(!p.contains("lambdafunction"), p)
  }

  test("chunk dedup shuffles once on the chunk hash before the doc rollup") {
    Tables.register(spark, sfDir)
    val p = plan(graft.operators.CorpusFilters.chunkDedup(spark.table("documents")))
    // window keyed by chunk hash + final doc_id aggregate: both exchanges
    // hash-partition on uniform keys; nothing range-partitions globally
    assert(p.contains("hashpartitioning(h"), p)
    assert(p.contains("hashpartitioning(doc_id"), p)
    assert(!p.contains("rangepartitioning") && !p.contains("SinglePartition"), p)
  }

  test("semdedup pairs join on the cell key, never an all-pairs product") {
    Tables.register(spark, sfDir)
    val p = plan(graft.operators.Similarity.semDedup(
      spark.table("embeddings"), centroids = 8, dims = 64, threshold = 0.3))
    // the within-cell self-join must key its join on cell equality — an
    // equi-join (hash or sort-merge), NOT a nested-loop over all pairs
    assert(p.contains("SortMergeJoin [cell") ||
      p.contains("ShuffledHashJoin [cell") ||
      p.contains("BroadcastHashJoin [cell"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("image near-dup candidates join on the (band, value) key, never " +
    "an all-pairs product") {
    Tables.register(spark, sfDir)
    val p = plan(graft.operators.Multimodal.imageNearDup(
      graft.operators.Multimodal.pngFromDocuments(
        spark.table("documents").limit(50))))
    assert(p.contains("SortMergeJoin [band") ||
      p.contains("ShuffledHashJoin [band") ||
      p.contains("BroadcastHashJoin [band"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dsir scoring broadcasts the bucket log-ratio lookup; the corpus " +
      "never shuffles by bucket") {
    Tables.register(spark, sfDir)
    val d = spark.table("documents")
    val p = plan(graft.operators.Sampling.dsirWeights(
      d, d.where(col("source") === "src0")))
    // final scoring join: corpus tokens x 64-row ratio table -> broadcast
    assert(p.contains("BroadcastHashJoin [bucket"), p)
    // the only corpus-keyed aggregation is the per-doc rollup
    assert(p.contains("hashpartitioning(doc_id"), p)
  }

  test("line dedup aggregates partially before the line-hash shuffle") {
    Tables.register(spark, sfDir)
    val p = plan(graft.operators.CorpusFilters.lineDedup(spark.table("documents")))
    // distinct-doc count per line hash: partial + final HashAggregate
    // around a hashpartitioning(h) exchange; doc rollup keyed by doc_id
    assert(p.contains("hashpartitioning(h"), p)
    assert(p.contains("hashpartitioning(doc_id"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("bpe encode is ONE map-only projection per document — no word " +
      "join, no doc_id shuffle, no per-row UDF") {
    Tables.register(spark, sfDir)
    val docs = spark.table("documents")
    val merges = graft.operators.TextAnalysis.bpeMerges(
      docs.limit(50), merges = 2)
    val enc = graft.operators.TextAnalysis.bpeEncode(docs, merges)
    val p = plan(enc)
    // the r17-opt shape: the trained merge list rides the native
    // bpe_encode_doc expression into a single projection over the scan —
    // the old distinct-word join + per-doc sorted-collect_list rollup
    // (two shuffles of token-level rows) is gone
    assert(p.contains("bpe_encode_doc"), p)
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("vocab drift partial-aggregates each term shuffle and broadcasts " +
      "the totals frames") {
    Tables.register(spark, sfDir)
    val df = graft.operators.TextAnalysis.vocabDrift(
      spark.table("documents"))
    val p = plan(df)
    // every aggregate must combine map-side (term keys are corpus-sized);
    // the strata-row and 1-row totals ride broadcasts, never a shuffle
    // of the count frames; nothing in the plan is a real cartesian (the
    // 1-row cross join is a broadcast loop by construction)
    assert("HashAggregate".r.findAllIn(p).size >= 6, p)
    assert(p.contains("BroadcastHashJoin [stratum"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("intra-doc dedup is map-only and splits the text exactly once") {
    Tables.register(spark, sfDir)
    val df = graft.operators.CorpusFilters.intraDocDedup(
      spark.table("documents"))
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("HashAggregate"), p)
    // the staged projections must survive the optimizer: one split/trim
    // pass per row, not one per output column (higher-order lambdas are
    // interpreted, so duplicating them multiplies real per-row cost)
    assert("split\\(".r.findAllIn(p).size == 1, p)
  }

  test("cdc chunking: exactly the two structural corpus scans, and the " +
      "offsets branch shuffles only block-level rows (partial agg first)") {
    Tables.register(spark, sfDir)
    val df = graft.operators.CorpusFilters.cdcChunks(
      spark.table("documents"))
    val p = plan(df)
    // chunks branch + block-offsets branch — cdcChunkDedup checkpoints
    // this frame so the per-doc rollups cannot multiply these scans
    assert("Generate posexplode".r.findAllIn(p).size == 2, p)
    // the offsets branch must partial-aggregate flags BEFORE its exchange:
    // a partial sum(flag) on the map side of a (doc_id, blk) shuffle
    assert("partial_sum\\(flag".r.findAllIn(p).nonEmpty ||
      ("HashAggregate.*partial".r.findAllIn(p).nonEmpty &&
        p.contains("sum(flag")), p)
  }

  test("incremental near-dedup: the only pair generator is the band-key " +
      "equi-join — no cartesian product anywhere") {
    Tables.register(spark, sfDir)
    val d = spark.table("documents")
    val df = graft.operators.Dedup.incrementalNearDedup(
      d.where(col("doc_id") % 10 === 0), d.where(col("doc_id") % 10 =!= 0))
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bm25: the query-term filter runs inside the map-side explode, " +
      "df/stats broadcast, and top-k is TakeOrdered (no global sort)") {
    Tables.register(spark, sfDir)
    val df = graft.operators.TextAnalysis.bm25TopK(
      spark.table("documents"), Seq("vector", "merge", "spark"), k = 20)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("rangepartitioning"), p)
    assert(p.contains("array_contains"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("hard negatives: pair join stays cell-keyed (no cartesian, no " +
      "single partition); top-k is a src window") {
    Tables.register(spark, sfDir)
    val df = graft.operators.Similarity.hardNegatives(
      spark.table("embeddings"), k = 3, centroids = 8, dims = 64)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin [cell") ||
      p.contains("hashpartitioning(cell"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("kmeans assignment is map-only against the plan-literal centroid " +
      "matrix (no Exchange, no join)") {
    Tables.register(spark, sfDir)
    val df = graft.operators.Similarity.kmeansClusters(
      spark.table("embeddings"), k = 8, dims = 64, iters = 1)
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("shuffle order: one shard-keyed exchange, never a global sort") {
    Tables.register(spark, sfDir)
    val df = graft.operators.Sampling.shuffleOrder(spark.table("documents"))
    val p = plan(df)
    assert(p.contains("hashpartitioning(shard"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("bloom dedup applies as a map-only filter over the batch scan " +
      "(no Exchange, no join)") {
    Tables.register(spark, sfDir)
    val docs = spark.table("documents")
    val df = graft.operators.Dedup.bloomDedup(
      docs.where(col("doc_id") % 10 === 0),
      docs.where(col("doc_id") % 10 =!= 0), expectedItems = 1000)
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("fuzzy decontamination broadcasts the eval band keys; the corpus " +
      "shuffles only on doc_id") {
    Tables.register(spark, sfDir)
    val d = spark.table("documents")
    val df = graft.operators.CorpusFilters.decontaminateFuzzy(
      d.where(col("doc_id") % 7 =!= 0), d.where(col("doc_id") % 7 === 0))
    val p = plan(df)
    // the band-key lookup builds on the broadcast eval side (whose own
    // distinct() may hash-partition its kilobytes — fine); the corpus
    // side's only shuffle key is the final doc_id rollup, and each side
    // is ONE scan — the band rows explode from a single signature pass,
    // never a union of per-band re-scans
    assert(p.contains("BroadcastHashJoin [band"), p)
    assert(p.contains("hashpartitioning(doc_id"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("FileScan".r.findAllIn(p).size == 2, p)
  }

  test("d4 prune broadcasts the survivor centroids; rank and count " +
      "windows share the cell partitioning") {
    Tables.register(spark, sfDir)
    val df = graft.operators.Similarity.d4Prune(
      spark.table("embeddings"), centroids = 8, dims = 64,
      threshold = 0.3, dropFrac = 0.25)
    val p = plan(df)
    // the (cells x dims) centroid frame is kilobytes - it must build a
    // broadcast join against the survivor rows, and the prototype
    // decision must stay a cell-key window (no global single-partition
    // sort, no cartesian product)
    assert(p.contains("BroadcastHashJoin [cell"), p)
    assert(p.contains("hashpartitioning(cell"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("novelty: at corpus scale (broadcast off) the gram-reach join is " +
      "co-partitioned on the gram key, partial aggs on every shuffle") {
    Tables.register(spark, sfDir)
    // on test-sized data AQE rightly broadcasts the reach frame; the
    // 100 TB shape is what must hold when it CANNOT — pin that one
    val conf = spark.conf
    val bcast0 = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = graft.operators.TextAnalysis.noveltyScore(
        spark.table("documents"), n = 2)
      val p = plan(df)
      // reach (distinct + count) and the per-doc rollup: each exchange is
      // wrapped by partial+final aggregate pairs
      assert("HashAggregate".r.findAllIn(p).size >= 4, p)
      // both join sides hash-partition on the shared gram key — never a
      // cartesian, never a single partition
      assert(p.contains("hashpartitioning(shingle"), p)
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("SinglePartition"), p)
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", bcast0)
  }

  test("temperature mixing broadcasts the stratum rate table; the corpus " +
      "partial-aggregates before every exchange") {
    Tables.register(spark, sfDir)
    val df = graft.operators.Sampling.temperatureReport(
      spark.table("documents"), alpha = 0.3, budgetDocs = 100L)
    val p = plan(df)
    // the rate frame is stratum-count-sized: it must come back as a
    // broadcast, never a shuffle join against the corpus
    assert(p.contains("BroadcastHashJoin [lang"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // every corpus aggregation is partial+final around its exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("edit-distance verify: the only pair generator is the band equijoin " +
      "(no cartesian), and text attaches by uniform id keys") {
    Tables.register(spark, sfDir)
    val df = graft.operators.Dedup.editDistVerify(spark.table("documents"))
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // bands pair on (band, bkey); prefixes attach on the id columns
    assert(p.contains("hashpartitioning(band") ||
      p.contains("BroadcastHashJoin [band"), p)
    assert(p.contains("id_a") && p.contains("id_b"), p)
  }

  test("dup-ngrams: both rollups partial-aggregate, and the top-k is a " +
      "TakeOrdered (no global sort exchange)") {
    Tables.register(spark, sfDir)
    val df = graft.operators.TextAnalysis.dupNgrams(spark.table("documents"))
    val p = plan(df)
    // (gram, doc) collapse + per-gram rollup: 2 exchanges, each wrapped by
    // partial+final HashAggregate pairs
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("self time: the child rollup partial-aggregates before its exchange " +
      "and joins back on the uniform (trace, span) key — no cartesian, " +
      "no tree walk (exactly one join)") {
    import spark.implicits._
    val spans = (0 until 200).map(i => ("t" + i % 20, "s" + i,
        if (i % 5 == 0) null else "s" + (i - 1), "svc" + i % 3, i.toLong))
      .toDF("trace_id", "span_id", "parent_span_id", "service_name",
        "duration_time_unix_nano")
    val p = plan(graft.operators.Traces.selfTime(spans))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert("Join".r.findAllIn(p).size >= 1, p)
    // child collapse: partial+final HashAggregate around its exchange
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("log template mining: the corpus never self-joins — the variable-" +
      "position table (kilobytes) broadcasts back") {
    Tables.register(spark, sfDir)
    val p = plan(graft.operators.Logs.logTemplates(
      spark.table("documents").selectExpr("text AS body")))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("replay dedup rides the aggregation's own shuffle: metric and span " +
      "operators keep ONE corpus exchange (dedup adds none)") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val sums = Seq(
      ("qps", "svc", null: String, "i1", "{}", "sc", "{}", ts,
        true, Some(1.0), None: Option[Long], 2),
      ("qps", "svc", null: String, "i2", "{}", "sc", "{}", ts,
        true, Some(2.0), None: Option[Long], 2))
      .toDF("name", "service_name", "service_namespace",
        "service_instance_id", "resource_attributes", "scope_name",
        "metric_attributes", "time_unix_nano", "is_monotonic",
        "double_value", "int_value", "aggregation_temporality")
    for ((label, df) <- Seq(
        "rate" -> graft.operators.Metrics.rate(sums),
        "sumBy" -> graft.operators.Metrics.sumBy(sums),
        "deltaToCumulative" ->
          graft.operators.Metrics.deltaToCumulative(sums),
        "increase" -> graft.operators.Metrics.increase(sums),
        "quantileBy" -> graft.operators.Metrics.quantileBy(sums, 0.5),
        "resets" -> graft.operators.Metrics.resets(sums),
        "changes" -> graft.operators.Metrics.changes(sums),
        "deriv" -> graft.operators.Metrics.deriv(sums),
        "predictLinear" -> graft.operators.Metrics.predictLinear(sums),
        "quantileOverTime" ->
          graft.operators.Metrics.quantileOverTime(sums, 0.5),
        "deltaOverTime" -> graft.operators.Metrics.deltaOverTime(sums),
        "avgBy" -> graft.operators.Metrics.aggregateBy(sums, "avg"),
        "topk" -> graft.operators.Metrics.topkSeries(sums, 2),
        "instantRate" -> graft.operators.Metrics.instantRate(sums),
        "offsetCompare" -> graft.operators.Metrics.offsetCompare(sums, 60),
        "idelta" -> graft.operators.Metrics.idelta(sums),
        "holtWinters" -> graft.operators.Metrics.holtWinters(sums),
        "aggregateWithout" ->
          graft.operators.Metrics.aggregateWithout(sums, "sum", Seq("pod")))) {
      val p = plan(df)
      assert("Exchange".r.findAllIn(p).size == 1,
        s"$label: dedup must reuse the operator's own exchange:\n$p")
    }
    val spans = Seq(("t1", "s1", "svc", 100L), ("t1", "s2", "svc", 200L))
      .toDF("trace_id", "span_id", "service_name", "duration_time_unix_nano")
    val pP = plan(graft.operators.Traces.spanPercentiles(spans))
    assert("Exchange".r.findAllIn(pP).size == 1,
      s"spanPercentiles: dedup must ride the service exchange:\n$pP")
    val shiftSpans = Seq(
      ("t1", "s1", "svc", "GET /", java.sql.Timestamp.valueOf(
        "2024-01-01 00:00:00"), 100L))
      .toDF("trace_id", "span_id", "service_name", "name",
        "start_time_unix_nano", "duration_time_unix_nano")
    val pS = plan(graft.operators.Traces.latencyShift(shiftSpans,
      java.sql.Timestamp.valueOf("2024-01-01 00:30:00")))
    assert("Exchange".r.findAllIn(pS).size == 1,
      s"latencyShift: dedup must ride the endpoint exchange:\n$pS")
  }

  test("event funnel: one user-keyed slice join per step, the events " +
      "table never self-joins as a product") {
    Tables.register(spark, sfDir)
    val df = graft.operators.Events.funnel(spark.table("events"),
      Seq("view", "click", "purchase"), windowNs = 604800000000000L)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // two chaining joins for three steps (each on the user key), plus
    // partial+final aggregate pairs around every user-keyed agg
    assert("Join".r.findAllIn(p).size >= 2, p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("ratioGroupLeft: the denominator frame broadcasts back onto the " +
      "numerator scan — each side's only shuffle is its dedup window") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val sums = Seq(
      ("errs", "svc", null: String, "i1", "{}", "sc", "{}", ts,
        true, Some(1.0), None: Option[Long], 2),
      ("reqs", "svc", null: String, "i1", "{}", "sc", "{}", ts,
        true, Some(4.0), None: Option[Long], 2))
      .toDF("name", "service_name", "service_namespace",
        "service_instance_id", "resource_attributes", "scope_name",
        "metric_attributes", "time_unix_nano", "is_monotonic",
        "double_value", "int_value", "aggregation_temporality")
    val p = plan(graft.operators.Metrics.ratioGroupLeft(
      sums, "errs", "reqs", on = Seq("service_name")))
    assert(p.contains("BroadcastHashJoin"),
      s"group_left denominator must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert("Exchange".r.findAllIn(
      p.replace("BroadcastExchange", "BX")).size == 2,
      s"each side: one dedup-window shuffle only:\n$p")
  }

  test("traceTree + serviceGraph replay dedup rides the joins' own key " +
      "distribution: no full-row distinct exchange (VERDICT r10 #5)") {
    import spark.implicits._
    val spans = Seq(
      ("t1", "s1", null: String, "svc-a", 100L, 0),
      ("t1", "s2", "s1", "svc-b", 50L, 0))
      .toDF("trace_id", "span_id", "parent_span_id", "service_name",
        "duration_time_unix_nano", "status_code")
    val conf = spark.conf
    val bcast0 = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // every exchange's key-column-name signature (numPartitions dropped):
      // the claim is that the ONLY distributions in the plan are the joins'
      // own id keys — the dedup introduces no full-row distribution, and
      // identical (t, s) exchange subtrees are runtime-reused (ReuseExchange
      // dedupes canonically-equal stages; the plan STRING prints both)
      def keySets(p: String): Seq[String] =
        "hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(p).map(
          _.group(1).split(",").map(_.trim).filter(_.contains("#"))
            .map(_.takeWhile(_ != '#')).mkString(",")).toSeq
      // walk round-0: dedup keyed (t, s) — the ids side's own key, so its
      // canonically-identical exchange is a runtime reuse; left side adds
      // its (t, p) join distribution. NOTHING keyed by the full row.
      val pT = plan(graft.operators.Traces.traceTreeNormalized(spans))
      assert(keySets(pT).toSet == Set("t,s", "t,p"),
        s"traceTree round-0 distributions must be exactly the join ids:\n$pT")
      assert(keySets(pT).count(_ == "t,s") == 2 &&
        "Exchange".r.findAllIn(pT).size == 3,
        s"traceTree: expected two identical (t,s) dedup exchanges (runtime-" +
          s"reused) + one (t,p):\n$pT")
      // each side's dedup keyed by its own join key; the parent-resolution
      // join reuses both, and the only other distribution is the final
      // services-bounded edge rollup
      val pG = plan(graft.operators.Traces.serviceGraph(spans))
      assert(keySets(pG).toSet ==
        Set("t,p", "pt,ps", "caller_service,callee_service"),
        s"serviceGraph distributions must be the two join-side ids + the " +
          s"edge rollup:\n$pG")
      assert("Exchange".r.findAllIn(pG).size == 3,
        s"serviceGraph must shuffle 3x (2 dedups riding the join + edge " +
          s"rollup):\n$pG")
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", bcast0)
  }

  test("histogram aggregate-then-quantile: partial aggregation around " +
      "each exchange; the quantile walk itself adds NO shuffle") {
    import spark.implicits._
    val hists = (0 until 100).map(i =>
        ("m" + i % 4, Seq(i.toLong, 2L, 1L), Seq(10.0, 50.0, 100.0)))
      .toDF("name", "bucket_counts", "explicit_bounds")
    val agg = graft.operators.Metrics.aggregateHistograms(hists, Seq("name"))
    val exchangesAgg = "Exchange".r.findAllIn(plan(agg)).size
    val p = plan(graft.operators.Metrics.histogramQuantile(agg, 0.9))
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert("Exchange".r.findAllIn(p).size == exchangesAgg,
      s"quantile walk must be map-only on top of the aggregate:\n$p")
  }

  test("anchor-text profile: two partial aggregations, no window, no " +
    "cartesian — the dominant-text pick is a min(struct) agg") {
    Tables.register(spark, sfDir)
    // limit = 0: the fixture's whole-corpus path — an orderBy+limit subset
    // plans as TakeOrdered whose SinglePartition output satisfies every
    // downstream clustering, hiding the operator's true exchange shape
    val p = plan(graft.operators.WebFilters.anchorText(
      graft.operators.WebFilters.htmlAnchors(
        graft.operators.WebFilters.anchorFixture(
          spark.table("documents"), limit = 0))))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window ["), p)
    // (url,text) agg + url agg, each partial+final (the min(struct) final
    // pair plans as SortAggregate)
    assert(("HashAggregate".r.findAllIn(p).size +
      "SortAggregate".r.findAllIn(p).size) >= 4, p)
  }

  test("plan fence contract: parquet pushdown BELOW the fence survives, " +
    "the fenced resolver is computed once, and fencing a scan-reachable " +
    "column would demonstrably un-push its filter") {
    Tables.register(spark, sfDir)
    // a caller predicate on a scan column, applied below the fenced
    // operator, must still reach the parquet scan (the fence only blocks
    // pushdown THROUGH itself; every shipped call site fences a column
    // derived from an exploded href, which no scan predicate can reach)
    val docs = spark.table("documents").where(col("doc_id") < 50)
      .select(col("doc_id"),
        concat(lit("https://h"), col("doc_id") % 7,
          lit(".example.org/d/"), col("doc_id")).as("base_url"),
        concat(lit("<a href=\"/x/"), col("doc_id"), lit("\">t</a>"))
          .as("html"))
    val links = graft.operators.WebFilters.htmlLinks(docs)
      .where(length(col("url")) > 5) // consumer filter on the fenced column
    val p = plan(links)
    assert(p.contains("LessThan(doc_id,50)"),
      s"scan pushdown below the fence must survive:\n$p")
    assert("plan_fence".r.findAllIn(p).size == 1,
      s"the fenced resolver must be computed exactly once:\n$p")
    // the sharp edge the scaladoc warns about, demonstrated: fencing a
    // column the scan COULD serve blocks its predicate from pushing down
    val misFenced = spark.table("documents")
      .select(col("doc_id"), graft.functions.PlanFence(col("doc_id")).as("fid"))
      .where(col("fid") < 50)
    val mp = plan(misFenced)
    assert(!mp.contains("LessThan(doc_id,50)"),
      s"a mis-fenced scan column silently loses pushdown (the contract " +
        s"this pin documents):\n$mp")
  }

  test("crawl budget windows per host, never a single global partition") {
    Tables.register(spark, sfDir)
    val fx = graft.operators.WebFilters.anchorFixture(
      spark.table("documents"), limit = 0)
    val p = plan(graft.operators.WebFilters.crawlBudget(
      graft.operators.WebFilters.urlDedup(
        graft.operators.WebFilters.htmlLinks(fx)), cap = 3))
    assert(p.contains("hashpartitioning(host"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("crawl delta joins snapshots on the canonical url key after " +
    "keep-first partial aggs — no cartesian") {
    Tables.register(spark, sfDir)
    // no limit: a global-limit subset is SinglePartition and would mask
    // the join's true distribution requirement
    val docs = spark.table("documents")
      .withColumn("url", concat(lit("https://s.org/d/"), col("doc_id")))
    val p = plan(graft.operators.WebFilters.crawlDelta(docs, docs))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin [canonical_url") ||
      p.contains("ShuffledHashJoin [canonical_url") ||
      p.contains("BroadcastHashJoin [canonical_url"), p)
  }

  test("wordpiece encode is ONE map-only projection per document — no " +
    "word join, no shuffle, no nested loop over the vocabulary") {
    Tables.register(spark, sfDir)
    import spark.implicits._
    val vocab = Seq(("a", 1L), ("b", 1L)).toDF("piece", "cnt")
    val p = plan(graft.operators.TextAnalysis.wordpieceEncode(
      spark.table("documents"), vocab))
    // r17-opt shape: the vocab rides the native wp_encode_doc expression
    // into a single projection over the scan (see the bpe twin's pin)
    assert(p.contains("wp_encode_doc"), p)
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sq8 ann is a broadcast-query integer scan with a bounded top-k — " +
    "the corpus never shuffles") {
    Tables.register(spark, sfDir)
    val p = plan(graft.operators.Similarity.annTopKSq8(
      spark.table("embeddings"), queryId = 7, k = 10))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("textrank caps the edge frame with a bounded top-k before the " +
    "rank arithmetic — no global sort of the bigram frame") {
    Tables.register(spark, sfDir)
    val p = plan(graft.operators.TextAnalysis.textrankKeywords(
      spark.table("documents").limit(50), topK = 10, maxEdges = 100))
    // the orderBy+limit edge cap plans as TakeOrdered, not Sort+collect
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("robots filter: SMALL rule frames broadcast (stats-driven, no " +
    "force hint); the URL side never shuffles and the verdict is a " +
    "row-local fold") {
    import spark.implicits._
    val rules = graft.operators.WebFilters.robotsRules(Seq(
      ("a.org", "User-agent: *\nDisallow: /x/\nAllow: /x/pub/\n" +
        "Disallow: /*.pdf$")).toDF("host", "body"))
    val urls = spark.range(1000).select(col("id").as("doc_id"),
      concat(lit("http://a.org/p/"), col("id").cast("string")).as("url"))
    val p = plan(graft.operators.WebFilters.robotsFilter(urls, rules))
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // no shuffle of the URL side: the only hashpartitioning exchange
    // allowed is the tiny rules-side groupBy(host)
    assert(!p.contains("hashpartitioning(doc_id") &&
      !p.contains("hashpartitioning(url"), p)
  }

  test("robots filter: a LARGE rule frame shuffles instead of " +
    "broadcasting — the hint is size-conditional, not forced (a real " +
    "crawl has 10^7-10^8 robots hosts; a forced broadcast is a driver " +
    "OOM)") {
    import spark.implicits._
    val rules = graft.operators.WebFilters.robotsRules(Seq(
      ("a.org", "User-agent: *\nDisallow: /x/")).toDF("host", "body"))
    val urls = spark.range(1000).select(col("id").as("doc_id"),
      concat(lit("http://a.org/p/"), col("id").cast("string")).as("url"))
    // model "rules side over the broadcast ceiling" by lowering the
    // ceiling to zero: with no force hint the planner MUST fall back to
    // a shuffle join — a hard broadcast() hint would ignore this
    val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      .getOrElse("10MB")
    val prevAqe =
      spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
        .getOrElse("")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val df = graft.operators.WebFilters.robotsFilter(urls, rules)
      val p = plan(df)
      assert(!p.contains("BroadcastExchange"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      // and the verdict is still correct on the shuffle path
      assert(df.where(col("robots_blocked")).count() === 0)
      val blocked = graft.operators.WebFilters.robotsFilter(
        Seq("http://a.org/x/a", "http://a.org/pub").toDF("url"), rules)
      assert(blocked.where(col("robots_blocked"))
        .select("url").as[String].collect().toSeq === Seq("http://a.org/x/a"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      if (prevAqe.nonEmpty)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqe)
      else spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("seqPack's prefix sum windows per physical partition with " +
    "broadcast offsets — never a single global-order window task") {
    Tables.register(spark, sfDir)
    val p = plan(graft.operators.CorpusFilters.seqPack(
      spark.table("documents"), seqLen = 128))
    // the cumsum window partitions by __pid (parallelism = partitions);
    // a global ORDER BY window would plan a SinglePartition exchange
    assert(p.contains("hashpartitioning(__pid"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("transcode is map-only: one decode + regexes per row, no exchange " +
    "anywhere — the gate runs inside the scan at 100 TB") {
    import spark.implicits._
    val pages = spark.range(100).select(col("id").as("doc_id"),
      encode(concat(lit("<html><body>p"), col("id").cast("string"),
        lit("</body></html>")), "UTF-8").as("body_bytes"),
      lit("utf-8").as("charset"))
    val p = plan(graft.operators.WebFilters.transcode(pages))
    assert(!p.contains("Exchange"), p)
  }

  test("seqChunks inherits seqPack's two-phase shape and adds ONLY a " +
    "bounded explode: per-partition window, no SinglePartition, a " +
    "Generate node, no extra shuffle") {
    Tables.register(spark, sfDir)
    val p = plan(graft.operators.CorpusFilters.seqChunks(
      spark.table("documents"), seqLen = 128))
    assert(p.contains("hashpartitioning(__pid"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("Generate"), p)
  }

  test("translationPairs: the pairing is an equi-join on cluster_key — " +
    "no cartesian product anywhere in the plan") {
    Tables.register(spark, sfDir)
    val docs = spark.table("documents").limit(60)
      .select(col("doc_id"),
        concat(lit("https://example.com/en/p/"), col("doc_id").cast("string"))
          .as("base_url"),
        concat(lit("<link rel=\"alternate\" hreflang=\"en\" " +
          "href=\"https://example.com/en/p/"), col("doc_id").cast("string"),
          lit("\">")).as("html"),
        col("text"))
    val p = plan(graft.operators.WebFilters.translationPairs(docs))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("warcHttp is map-only after the record explode: no exchange " +
    "anywhere — the gate runs inside the archive scan") {
    import spark.implicits._
    val files = spark.range(100).select(col("id").as("file_id"),
      concat(lit("WARC/1.0\nWARC-Target-URI: https://x.org/"),
        col("id").cast("string"),
        lit("\n\nHTTP/1.1 200 OK\nContent-Type: text/html\n\nbody\n\n"))
        .as("body"))
    val p = plan(graft.operators.WebFilters.warcHttp(files))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Generate"), p)
  }

  test("followLinks is map-only: the rel/meta policy adds filters and " +
    "regex projections, never an exchange") {
    import spark.implicits._
    val pages = spark.range(100).select(col("id").as("doc_id"),
      concat(lit("https://h.org/d/"), col("id").cast("string")).as("base_url"),
      lit("<a href=\"/x\">a</a> <a rel=\"nofollow\" href=\"/y\">b</a>")
        .as("html"))
    val p = plan(graft.operators.WebFilters.followLinks(pages))
    assert(!p.contains("Exchange"), p)
  }

  test("prfTopK: two bounded top-k corpus passes with the expansion " +
    "broadcast back — the corpus itself never shuffles or sort-merges") {
    Tables.register(spark, sfDir)
    val p = plan(graft.operators.Similarity.prfTopK(
      spark.table("embeddings"), queryId = 7, k = 10, feedback = 5))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("hashpartitioning(vec_id"), p)
  }

  test("mmrTopK: one bounded top-k corpus pass; pool packing and the " +
    "greedy fold are single-row column work, no corpus sort-merge") {
    Tables.register(spark, sfDir)
    val p = plan(graft.operators.Similarity.mmrTopK(
      spark.table("embeddings"), queryId = 7, k = 5, pool = 10))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("piiCards and the mojibake gates are map-only: regex extraction, " +
    "the per-candidate Luhn fold, and the repair roundtrip never add an " +
    "exchange") {
    import spark.implicits._
    val docs = spark.range(100).select(col("id").as("doc_id"),
      concat(lit("pay 4111 1111 1111 1111 cafÃ© donâ€™t n="),
        col("id").cast("string")).as("text"))
    val pc = plan(graft.operators.CorpusFilters.piiCards(docs))
    assert(!pc.contains("Exchange"), pc)
    val ms = plan(graft.operators.WebFilters.mojibakeScore(docs))
    assert(!ms.contains("Exchange"), ms)
    val mr = plan(graft.operators.WebFilters.mojibakeRepair(docs))
    assert(!mr.contains("Exchange"), mr)
  }

  test("leakFreeSplit: one equi-join against the clusters frame (AQE " +
    "broadcast for a small one) + the map-only hash — no global sort, " +
    "no cartesian") {
    import spark.implicits._
    val docs = spark.range(1000).select(col("id").as("doc_id"))
    val clusters = Seq(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L)
      .toDF("id", "cluster_id")
    val p = plan(graft.operators.Sampling.leakFreeSplit(
      docs, clusters, valRate = 0.1, testRate = 0.1))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Sort ["), p)
    // the docs side must not hash-shuffle for a broadcastable clusters
    // frame (AQE decides at runtime; statically it may stage as SMJ, so
    // pin the executed plan after an action)
    val dfx = graft.operators.Sampling.leakFreeSplit(
      docs, clusters, valRate = 0.1, testRate = 0.1)
    dfx.collect()
    val executed = dfx.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin"), executed)
  }
}
