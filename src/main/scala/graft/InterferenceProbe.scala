package graft

/** Query-during-ingest interference probe (VERDICT r11 #3): the actual
  * 100 TB deployment shape is a SHARED cluster — dashboards sweep the
  * sealed tables while the live ingest path seals new data in the same
  * JVM/executors. Every prior scale point measured the two in isolation;
  * this main measures them together and reports both deltas:
  *
  *   1. isolated query sweep (a representative registry subset)
  *   2. isolated sustained HTTP ingest window (default 60 s)
  *   3. the SAME ingest window with the query sweep looping concurrently
  *
  * Output: one JSON line with isolated/concurrent ingest rates, isolated/
  * concurrent sweep times, and the two ratios. Usage:
  *   sbt "runMain graft.InterferenceProbe [sfDir] [ingestMs] [subset]"
  * `subset` = `spread` (default: 18 light queries across cost centers —
  * the shared-dashboard shape) or `heavy` (the 12 slowest registry
  * queries by the committed bench tail — a sweep that SATURATES
  * local[32] on its own, so the fair-share claim is tested under real
  * contention, not just stated; VERDICT r12 #8). */
object InterferenceProbe {
  // a spread of the registry's cost centers: scans, joins, window aggs,
  // minhash/banding, ANN, tokenization, OTLP fixture reads
  private val Subset = Seq(
    "q01_projection", "q06_groupby_agg", "q13_join_multiway",
    "q22_window_sum", "dd_exact_dedup", "dd_minhash_lsh_pairs",
    "dd_ngram_jaccard", "ss_cosine_topk", "ss_ann_ivf", "ta_token_count",
    "ta_quality_score", "ta_langid", "ta_tfidf_top", "ev_sessionize",
    "otlp_read_logs", "otlp_red_metrics", "otlp_hist_quantile",
    "otlp_service_graph")

  // the 12 slowest registry queries in bench_queries.json (r12 sweep):
  // banded-join dedup, edit-distance verify, CDC chunking, calibration —
  // all shuffle-heavy and collectively CPU-saturating at sf0.1
  private val Heavy = Seq(
    "dd_semantic_clusters", "dd_cluster_keep_best", "dd_editdist_verify",
    "dd_substring_dedup", "ta_quality_calibration", "dd_cdc_dedup",
    "ta_dup_ngrams", "dd_minhash_calibration", "ta_repetition",
    "dd_neardup_clusters", "ta_curation_funnel", "dd_incremental_neardup")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val ingestMs = args.lift(1).map(_.toLong).getOrElse(60000L)
    val subsetName = args.lift(2).getOrElse("spread")
    val subset = subsetName match {
      case "spread" => Subset
      case "heavy"  => Heavy
      case other => throw new IllegalArgumentException(
        s"unknown subset: $other (spread|heavy)")
    }
    // the probe IS the shared-cluster shape, so it runs the scheduler a
    // shared cluster runs: FAIR, with seal jobs already tagged into their
    // own 'graft-seals' pool (SealTarget.inSealPool) — queries and seal
    // drains round-robin instead of queueing FIFO behind a long sweep stage
    val spark = Sessions.open(
      Sessions.builder().config("spark.scheduler.mode", "FAIR"))
    Tables.register(spark, sfDir)
    spark.table("lineitem").limit(1).count()

    val queries = SparkEntry.queries.filter(q => subset.contains(q._1)).toSeq
      .sortBy(_._1)
    def sweepOnce(): Double = {
      val t0 = System.nanoTime()
      queries.foreach { case (_, fn) =>
        QSpec.run(spark, sfDir, fn)(_.write.format("noop").mode("overwrite").save())
      }
      (System.nanoTime() - t0) / 1e9
    }

    // 1. isolated sweep — first pass pays codegen warmup, second measures
    sweepOnce()
    val isolatedSweepSec = sweepOnce()

    // 2. isolated sustained ingest (same harness as Bench windows)
    spark.catalog.clearCache(); System.gc()
    Bench.window(spark, Bench.Http, runMs = 3000) // wire warmup, uncounted
    val (_, isolatedIngest) = Bench.window(spark, Bench.Http, runMs = ingestMs)

    // 3. concurrent: ingest window in a thread, sweeps loop until it ends
    spark.catalog.clearCache(); System.gc()
    @volatile var concurrentIngest = 0.0
    val ingestThread = new Thread(() => {
      concurrentIngest = Bench.window(spark, Bench.Http, runMs = ingestMs)._2
    })
    val sweepTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    ingestThread.start()
    while (ingestThread.isAlive) sweepTimes += sweepOnce()
    ingestThread.join()
    // an ingest-thread crash before the first sweep returns would make
    // the mean below NaN (unparseable JSON) and report rate 0.0 as if
    // measured — fail loud instead (review finding)
    require(sweepTimes.nonEmpty && concurrentIngest > 0,
      s"concurrent ingest window died before producing a rate " +
        s"(sweeps=${sweepTimes.size}, rate=$concurrentIngest)")
    // mean across sweeps is the honest contention number (min would
    // cherry-pick the least-contended pass); the final sweep's tail runs
    // past the load window, bounding the estimate slightly LOW — noted,
    // and the per-sweep array is published for the reader
    val concurrentSweepSec = sweepTimes.sum / sweepTimes.size

    val ingestRatio = if (isolatedIngest > 0) concurrentIngest / isolatedIngest else 0.0
    val sweepRatio = if (isolatedSweepSec > 0) concurrentSweepSec / isolatedSweepSec else 0.0
    val sweepsJs = sweepTimes.map(t => f"$t%.2f").mkString("[", ",", "]")
    println(f"""{"metric":"interference","unit":"mixed","subset":"$subsetName","ingest_ms":$ingestMs,"queries":${queries.size},"isolated_sweep_sec":$isolatedSweepSec%.2f,"concurrent_sweep_sec":$concurrentSweepSec%.2f,"concurrent_sweeps":$sweepsJs,"sweep_slowdown":$sweepRatio%.3f,"isolated_ingest_rows_per_sec":${isolatedIngest.round},"concurrent_ingest_rows_per_sec":${concurrentIngest.round},"ingest_retention":$ingestRatio%.3f,"sf":"$sfDir"}""")
    spark.stop()
    sys.exit(0)
  }
}
