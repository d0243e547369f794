package graft.streaming

import graft.operators.{Logs, Metrics, Traces}
import graft.otlp.OtlpSchemas
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Structured-Streaming analytics over the live-ingest output: the seal
  * pipeline lands telemetry as partitioned parquet (SealWriter), and these
  * streams `readStream` that layout — so the OTLP server's group-commits
  * become micro-batches downstream without any coupling between the two
  * processes. This is the Spark-native continuation the reference leaves to
  * its host engine (it has no event-time/window machinery at all —
  * README "Late/duplicate data handling: none"; SURVEY §2.3): watermarks,
  * windowed aggregation, and custom per-trace state are *extensions* that
  * Structured Streaming gives the same storage layout.
  *
  * Derivation rule: every windowed face here is its batch operator run in
  * another execution mode (F1 Query's one definition, several modes). The
  * batch operator exposes its aggregate and derived columns once,
  * `private[graft]`, and uses them in its own groupBy; `windowed` builds
  * the stream face from those same columns — watermark, replay dedup
  * within it, the event-time `window()` in place of the batch `windowSec`
  * grid (both epoch-aligned, so equal lengths give equal buckets), one
  * groupBy, window_start/window_end first. No formula is restated. The
  * deliberate divergences from the batch operators are named in code and
  * documented on each face:
  *  - [[exceptionRate]] dedups on span identity, batch on byte-equal rows;
  *  - [[errorBudgetStream]]'s dedup state is unbounded (the SLO period is
  *    its window);
  *  - [[serviceGraphStream]] resolves a parent only within its join slack;
  *  - [[multiBurnStream]] finds the closing short slice by a flag on the
  *    event time, in one aggregation, not by a second rollup and a join;
  *  - [[sumByStream]] and [[ratioByStream]] align on the window, not on
  *    exact timestamps.
  * The custom-state operators ([[rateStream]], [[rateLimitStream]],
  * [[tailSampleStream]], [[traceRollup]]) keep their own state machines.
  *
  * Scale: file-source streams list only new files per micro-batch (the seal
  * layout appends, never rewrites, and compaction is gated to parquet-part
  * rewrites inside a partition the stream has already passed — set
  * `maxFileAge` / start fresh checkpoints accordingly); state stores are
  * keyed by (window, service) or trace_id — both high-cardinality uniform
  * keys that partition cleanly across executors.
  */
object TelemetryStreams {

  /** One window length of extra state-expiry slack, in milliseconds —
    * parsed from the same duration-string dialect the window()/watermark
    * options use ("1 minute", "30 seconds", ...). Driver-side, once per
    * stream start. */
  private[streaming] def windowSlackMs(windowLen: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(windowLen))
    require(iv.months == 0, s"window length must be day-scale or finer: $windowLen")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** Stream of sealed log rows from a parquet-export root. */
  def logStream(spark: SparkSession, parquetRoot: String): DataFrame =
    spark.readStream
      .schema(OtlpSchemas.logs())
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true") // partition dirs year=/month=/day=
      .parquet(s"$parquetRoot/otlp_logs")

  /** Stream of sealed span rows. */
  def traceStream(spark: SparkSession, parquetRoot: String): DataFrame =
    spark.readStream
      .schema(OtlpSchemas.traces())
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(s"$parquetRoot/otlp_traces")

  /** Replay dedup on span identity within the watermark. */
  private val SpanIdentity = Some(Seq("trace_id", "span_id"))

  /** Replay dedup on the whole row within the watermark: a replayed seal
    * row is byte-identical to the first. */
  private val WholeRow = Some(Seq.empty[String])

  /** The one windowed rollup behind every stream face here: an event-time
    * watermark on `timeCol` (None: the frame arrives watermarked), an
    * optional replay dedup within it on `dedupKeys` (empty keys: the whole
    * row), the per-row steps `rows`, then one groupBy on the event-time
    * window and `keys` with the batch operator's own `aggs`. Emits
    * window_start and window_end first, then the keys and the aggregates.
    * State is the dedup's and the window's, both watermark-bounded. */
  private[streaming] def windowed(frame: DataFrame, timeCol: String,
      windowLen: String, watermark: Option[String],
      dedupKeys: Option[Seq[String]] = None,
      rows: DataFrame => DataFrame = identity)(
      keys: Column*)(aggs: Column*): DataFrame = {
    val marked = watermark.fold(frame)(frame.withWatermark(timeCol, _))
    val deduped = dedupKeys.fold(marked)(ks =>
      if (ks.isEmpty) marked.dropDuplicatesWithinWatermark()
      else marked.dropDuplicatesWithinWatermark(ks))
    val rolled = rows(deduped)
      .groupBy(window(col(timeCol), windowLen).as("w") +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
    rolled.select(col("w.start").as("window_start") +:
      col("w.end").as("window_end") +: rolled.columns.tail.map(col): _*)
  }

  /** Windowed severity counts per service: the standard error-rate
    * stream. */
  def severityRate(logs: DataFrame, windowLen: String = "1 minute",
                   watermark: String = "2 minutes"): DataFrame =
    windowed(logs, "time_unix_nano", windowLen, Some(watermark))(
      col("service_name"), col("severity_text"))(count(lit(1)).as("cnt"))

  /** `Traces.redMetrics` per (window, service, span name): the
    * operational dashboard feed. No dedup, like the batch operator. */
  def redRate(spans: DataFrame, windowLen: String = "1 minute",
              watermark: String = "2 minutes"): DataFrame =
    windowed(spans, "start_time_unix_nano", windowLen, Some(watermark))(
        col("service_name"), col("name").as("span_name"))(
      Traces.redAggs(col("status_code"), col("duration_time_unix_nano")): _*)

  /** `Traces.exceptionReport`'s `n_events` per (window, service,
    * exception type). The events explode after the dedup, so a replayed
    * span counts once.
    *
    * Divergence: the dedup keys on span identity (first row wins), while
    * the batch `Replay.dedupWithin` drops only BYTE-EQUAL rows. Two rows
    * sharing (trace_id, span_id) but differing in events_json count once
    * here and twice in batch. Under the byte-equal-replay contract such
    * rows do not occur; if a producer ever re-emits a span with amended
    * events, batch counts both emissions and the stream the first. */
  def exceptionRate(spans: DataFrame, windowLen: String = "1 minute",
                    watermark: String = "2 minutes"): DataFrame =
    // event-less spans drop before the dedup: replays are byte-equal, so
    // this is semantically identical and bounds the dedup state by the
    // (rare) event-bearing spans, not span volume
    windowed(spans.where(col("events_json").isNotNull),
        "start_time_unix_nano", windowLen, Some(watermark), SpanIdentity,
        Traces.exceptionEvents(_, col("events_json"),
          col("start_time_unix_nano"), col("service_name")))(
      col("service_name"), Traces.exceptionType)(Traces.nEvents)

  /** `Metrics.sumBy` over time windows (PromQL `sum by (name)`): per
    * (window, name) the summed value and the point count across every
    * replica series. Divergence: the batch form sums at exact
    * timestamps; a stream cannot wait for same-instant alignment, so the
    * window is the alignment. A byte-equal replayed point dedups within
    * the watermark. */
  def sumByStream(sums: DataFrame, windowLen: String = "1 minute",
                  watermark: String = "2 minutes"): DataFrame =
    windowed(sums, "time_unix_nano", windowLen, Some(watermark), WholeRow,
        Metrics.valued(_))(col("name"))(
      Metrics.aggOp("sum").as("value"), count(lit(1)).as("n_points"))

  /** `Metrics.overTime` per (window, full series identity): the
    * recording-rule downsampler running at ingest instead of over the
    * stored table. Replay dedup as in [[sumByStream]]. */
  def overTimeStream(sums: DataFrame, windowLen: String = "1 minute",
                     watermark: String = "2 minutes"): DataFrame =
    windowed(sums, "time_unix_nano", windowLen, Some(watermark), WholeRow,
      Metrics.valued(_))(Metrics.seriesKey: _*)(Metrics.overTimeAggs: _*)

  /** `Traces.burnRate` on the live span stream, the operator that is
    * inherently live: multi-window burn-rate alerting (SRE workbook
    * ch. 5) pages on the stream, not on yesterday's table. The batch
    * `windowSec` grid and `window()` are both epoch-aligned, so equal
    * window lengths give identical buckets. */
  def burnRateStream(spans: DataFrame, sloTarget: Double,
                     windowLen: String = "5 minutes",
                     watermark: String = "10 minutes"): DataFrame = {
    Traces.requireSlo(sloTarget)
    windowed(spans, "start_time_unix_nano", windowLen, Some(watermark),
        SpanIdentity)(col("service_name"))(
        Traces.spanCounts(col("status_code")): _*)
      .select(col("*") +: Traces.burnCols(sloTarget): _*)
  }

  /** `Traces.multiBurnAlert` on the live span stream. Divergence: ONE
    * windowed aggregation carries both arms, because closing-slice
    * membership is a pure map on the event time (`epoch-sec mod longSec
    * ≥ longSec − shortSec`: the last aligned short window inside each
    * long one, the batch operator's join partner). A closed (window,
    * service) row emits only when the long burn AND the closing slice's
    * burn both reach `threshold`; windows whose closing slice saw no
    * spans stay silent (the batch join-drop). */
  def multiBurnStream(spans: DataFrame, sloTarget: Double,
                      longSec: Long = 300, shortSec: Long = 60,
                      threshold: Double = 1.0,
                      watermark: String = "10 minutes"): DataFrame = {
    Traces.requireSlo(sloTarget)
    Traces.requireBurnWindows(longSec, shortSec)
    val closing =
      pmod(unix_timestamp(col("start_time_unix_nano")), lit(longSec)) >=
        lit(longSec - shortSec)
    windowed(spans, "start_time_unix_nano", s"$longSec seconds",
        Some(watermark), SpanIdentity)(col("service_name"))(
        Traces.spanCounts(col("status_code")) ++ Seq(
          Traces.countIf(closing).as("__ns"),
          Traces.countIf(closing && Traces.failed(col("status_code")))
            .as("__ne")): _*)
      .where(col("__ns") > 0)
      .select(col("window_start"), col("service_name"),
        col("n_spans"), col("n_errors"),
        round(Traces.burn(sloTarget), 4).as("long_burn"),
        round(Traces.burn(sloTarget, col("__ne"), col("__ns")), 4)
          .as("short_burn"))
      .where(col("long_burn") >= threshold && col("short_burn") >= threshold)
  }

  /** `Traces.errorBudget` on the live span stream: the panel SREs watch
    * between the pages [[multiBurnStream]] raises. A running count per
    * service since stream start (the SLO period: start a fresh checkpoint
    * per period), re-emitted as it changes (update or complete output
    * mode; the period is the window).
    *
    * Divergence: replayed spans dedup on (trace_id, span_id) with
    * UNBOUNDED state, by design: period-to-date truth needs period-long
    * memory, the price the batch operator pays by re-scanning the
    * period's seals. Aggregation state is one row per service; dedup keys
    * are uniform random ids. */
  def errorBudgetStream(spans: DataFrame, sloTarget: Double): DataFrame = {
    Traces.requireSlo(sloTarget)
    val counts = Traces.spanCounts(col("status_code"))
    spans
      .dropDuplicates("trace_id", "span_id")
      .groupBy(col("service_name"))
      .agg(counts.head, counts.tail: _*)
      .select(col("*") +: Traces.budgetCols(sloTarget): _*)
  }

  /** `Traces.serviceGraph` per event-time window of the parent's start:
    * a STREAM-STREAM self-join (child × parent spans on (trace_id,
    * parent = span)), watermarked per side.
    *
    * Divergence: the join carries a time-range predicate (a child must
    * start within [−skewSlackSec, +joinSlackSec] of its parent), which
    * is what lets Spark EVICT join state; a child further from its
    * parent than the slack is not resolved here (batch over sealed
    * history remains the no-bounds route). Within-watermark replays
    * double-count (a dedup before a stream-stream join is not
    * supported): feed exactly-once micro-batches (the seal stream's
    * contract) or dedupe upstream.
    *
    * Scale: join state is watermark+slack-bounded per side, keyed by
    * uniform (trace, span); the aggregation rides (window, caller,
    * callee) keys. */
  def serviceGraphStream(spans: DataFrame, windowLen: String = "5 minutes",
                         watermark: String = "10 minutes",
                         joinSlackSec: Long = 300,
                         skewSlackSec: Long = 60): DataFrame = {
    require(joinSlackSec > 0 && skewSlackSec >= 0,
      s"bad slack ($joinSlackSec, $skewSlackSec)")
    // the root-span filter sits BEFORE the watermark on purpose (the
    // optimizer would push it there anyway): the child side's watermark
    // advances only with CHILD spans, so an all-roots stream holds
    // windows open rather than emitting edges early — real traffic
    // always carries children, and making the placement explicit keeps
    // the behavior independent of pushdown rules
    val child = spans
      .where(col("parent_span_id").isNotNull && col("parent_span_id") =!= "")
      .withWatermark("start_time_unix_nano", watermark)
      .select(col("trace_id").as("t"), col("parent_span_id").as("p"),
        col("service_name").as("callee_service"),
        col("status_code").as("status"),
        col("duration_time_unix_nano").cast("long").as("dur"),
        col("start_time_unix_nano").as("cst"))
    val parent = spans.withWatermark("start_time_unix_nano", watermark)
      .select(col("trace_id").as("pt"), col("span_id").as("ps"),
        col("service_name").as("caller_service"),
        col("start_time_unix_nano").as("pst"))
    val resolved = child.join(parent,
      col("t") === col("pt") && col("p") === col("ps") &&
        col("cst") >= col("pst") - expr(s"INTERVAL $skewSlackSec SECOND") &&
        col("cst") <= col("pst") + expr(s"INTERVAL $joinSlackSec SECOND"))
    windowed(resolved, "pst", windowLen, None)(
        col("caller_service"), col("callee_service"))(Traces.edgeAggs: _*)
      .drop("window_end")
  }

  /** `Traces.apdex` per (window, service): the batch operator scores a
    * settled table in one number, the stream each aligned window, and a
    * window whose spans all fall inside it reports the batch score.
    * Null-duration spans are excluded like in batch. */
  def apdexStream(spans: DataFrame, thresholdNs: Long,
                  windowLen: String = "5 minutes",
                  watermark: String = "10 minutes"): DataFrame = {
    val dur = col("duration_time_unix_nano").cast("long")
    windowed(spans, "start_time_unix_nano", windowLen, Some(watermark),
        SpanIdentity, _.where(dur.isNotNull))(col("service_name"))(
        Traces.apdexAggs(dur, thresholdNs): _*)
      .select(col("*"), Traces.apdexScore)
  }

  /** `Metrics.ratioBy` (a PromQL binary-op ratio) per (window [, kept
    * labels]). Divergence: the window is the alignment, as in
    * [[sumByStream]]. Windows where the denominator is absent or zero
    * drop. */
  def ratioByStream(sums: DataFrame, numName: String, denName: String,
                    by: Seq[String] = Seq.empty,
                    windowLen: String = "1 minute",
                    watermark: String = "2 minutes"): DataFrame = {
    val (num, den) = Metrics.ratioAggs(numName, denName)
    windowed(sums.where(Metrics.ratioPoints(numName, denName)),
        "time_unix_nano", windowLen, Some(watermark), WholeRow,
        _.withColumn("__v", Metrics.pointValue))(by.map(col): _*)(num, den)
      .where(Metrics.ratioMatched).select(col("*"), Metrics.ratio)
  }

  /** `Logs.logCountMetric`, the logs → metrics COUNT CONNECTOR: per
    * (window, service, severity) delta sum points in the metrics_sum
    * shape, so the output composes with the metric streams here
    * ([[sumByStream]], [[overTimeStream]]) as the batch operator's does
    * with the batch transforms. Append-mode legal. */
  def logCountStream(logs: DataFrame, windowLen: String = "1 minute",
                     watermark: String = "2 minutes"): DataFrame =
    windowed(logs, "time_unix_nano", windowLen, Some(watermark))(
        col("service_name"), Logs.severityKey(col("severity_text")))(
        Logs.logCount)
      .select(Logs.countPoint: _*)

  /** A span the rate limiter admitted, with its admission rank in its
    * (service, window) budget. */
  case class AdmittedSpan(service_name: String, window_start: Timestamp,
                          trace_id: String, span_id: String, rank: Long)

  /** Per-(service, window) admission state: how many spans passed. */
  case class LimitState(admitted: Long)

  /** Rate-limiting sampler on the LIVE span stream — the collector's
    * rate_limiting processor as custom state: at most `n` spans pass per
    * (service, aligned event-time window); the rest drop. ARRIVAL order
    * decides (the collector's actual behavior — it cannot wait to sort a
    * window by event time), which is the documented divergence from the
    * batch twin `operators.Traces.rateLimitSample`'s earliest-first
    * deterministic pick: batch audits what SHOULD have passed, the
    * stream enforces the budget live. State is ONE counter per active
    * (service, window), expired by event-time timeout once the
    * watermark passes the window (bounded by services × active
    * windows). */
  def rateLimitStream(spans: DataFrame, n: Long,
                      windowLen: String = "1 minute",
                      watermark: String = "2 minutes"): Dataset[AdmittedSpan] = {
    val spark = spans.sparkSession
    import spark.implicits._
    require(n > 0, "n must be positive")
    // the watermarked event-time column must survive projection into the
    // stateful operator or EventTimeTimeout refuses to bind (the
    // rateStream contract)
    val lite = spans
      .withWatermark("start_time_unix_nano", watermark)
      .select(col("start_time_unix_nano"),
        window(col("start_time_unix_nano"), windowLen)
          .getField("start").as("window_start"),
        col("service_name"), col("trace_id"), col("span_id"))
      .as[(Timestamp, Timestamp, String, String, String)]
    lite.groupByKey { case (_, w, svc, _, _) => (svc, w) }
      .flatMapGroupsWithState[LimitState, AdmittedSpan](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, _, state: GroupState[LimitState]) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case ((svc, w), it, state: GroupState[LimitState]) =>
          var admitted = state.getOption.map(_.admitted).getOrElse(0L)
          val out = it.flatMap { case (_, _, _, t, s) =>
            if (admitted < n) {
              admitted += 1
              Some(AdmittedSpan(svc, w, t, s, admitted))
            } else None
          }.toList
          state.update(LimitState(admitted))
          // expire one full window PAST the window end (timeout = start
          // + 2×windowLen): correctness does not depend on the slack —
          // Spark drops rows below the watermark before this operator
          // ever sees them — but the slack keeps the budget-reset safe
          // even if a future edit loosens that filtering
          state.setTimeoutTimestamp(w.getTime + windowSlackMs(windowLen),
            windowLen)
          out.iterator
      }
  }

  /** Live log-volume anomaly against a BATCH-MINED baseline, the
    * batch-mines/stream-scores split [[graft.operators.Logs.matchTemplates]]
    * established, applied to `Logs.volumeAnomaly`: yesterday's
    * per-service mean/stddev (the batch operator's `svc_mean`/`svc_sd`
    * columns, or any frame shaped (service_name, svc_mean, svc_sd))
    * joins stream-static onto live windowed counts, z-scoring each
    * window AS IT CLOSES with the batch operator's z and flag. A z-score
    * needs a baseline; computing it on the stream itself would make every
    * window shift every past score, so the static split is the
    * semantics, not a compromise. Services absent from the baseline
    * report null z. Stream-static joins are append-legal. */
  def volumeAnomalyStream(logs: DataFrame, baseline: DataFrame,
                          windowLen: String = "1 minute",
                          watermark: String = "2 minutes",
                          zThreshold: Double = 3.0): DataFrame =
    windowed(logs, "time_unix_nano", windowLen, Some(watermark))(
        col("service_name"))(Logs.nLogs)
      // dropDuplicates: the batch volumeAnomaly output (the docstring's
      // blessed baseline) carries one row PER WINDOW with constant
      // per-service stats — joining it raw would emit each live window
      // once per baseline row (review finding)
      .join(baseline.select(col("service_name"), col("svc_mean"),
        col("svc_sd")).dropDuplicates("service_name"),
        Seq("service_name"), "left")
      .select(col("window_start"), col("window_end"),
        col("service_name"), col("n_logs"),
        round(col("svc_mean"), 4).as("svc_mean"),
        round(col("svc_sd"), 4).as("svc_sd"), Logs.volumeZ.as("z"))
      .withColumn("anomaly", Logs.anomaly(zThreshold))

  /** `Logs.errorRate` per closed window: severity normalization is
    * map-only (the ONE rule, `Logs.normalizeSeverity`), so the stream
    * windows the same two counts. */
  def errorRateStream(logs: DataFrame, windowLen: String = "1 minute",
                      watermark: String = "2 minutes"): DataFrame =
    windowed(Logs.normalizeSeverity(logs), "time_unix_nano",
        windowLen, Some(watermark))(col("service_name"))(
        Logs.nLogs, Logs.errorLogs)
      .drop("window_end").select(col("*"), Logs.errorRatio)

  /** Live SEASONAL anomaly scoring against a BATCH-MINED time-of-day
    * baseline: `Metrics.seasonalAnomaly`'s bucket rule and verdict
    * under the same static split, with the batch [[graft.operators
    * .Metrics.seasonality]] profile (name, bucket, avg_value,
    * stddev_value) joined stream-static onto arriving points. MAP-ONLY
    * on the stream: no window, no state. */
  def seasonalAnomalyStream(points: DataFrame, baseline: DataFrame,
                            bucket: String = "hour",
                            k: Double = 2.0): DataFrame =
    Metrics.seasonalScores(Metrics.valued(points.withColumn("bucket",
        Metrics.seasonalBucket(bucket)), "value"),
      // the batch profile carries one row per (name, bucket) already,
      // but dedup defensively like every static side here
      Metrics.scorable(baseline).dropDuplicates("name", "bucket"), k)

  /** Live slow-outlier tagging against BATCH-MINED per-endpoint
    * thresholds: `Traces.slowOutliers`' verdict, with the batch
    * operator's (service, span name, threshold_ns) frame joined
    * stream-static onto the raw span stream. MAP-ONLY on the stream: no
    * window, no state; the exemplar feed a live dashboard pages on. */
  def slowOutliersStream(spans: DataFrame, thresholds: DataFrame): DataFrame =
    Traces.tagOutliers(spans
      .select(col("service_name"), col("name").as("span_name"),
        col("trace_id"), col("span_id"),
        col("duration_time_unix_nano").cast("long").as("dur_ns"))
      // dropDuplicates: batch slowOutliers emits one row per tagged SPAN
      // (each carrying its endpoint's threshold), not one per endpoint —
      // joining it raw would tag every live span once per batch outlier
      .join(thresholds.select(col("service_name"), col("span_name"),
        col("threshold_ns")).dropDuplicates("service_name", "span_name"),
        Seq("service_name", "span_name")))

  /** Exact-duplicate suppression on the stream (trace_id+span_id within the
    * watermark horizon) — the dedup the reference documents as a downstream
    * responsibility for its at-least-once parquet path. */
  def dedupSpans(spans: DataFrame, watermark: String = "10 minutes"): DataFrame =
    spans
      .withWatermark("start_time_unix_nano", watermark)
      .dropDuplicatesWithinWatermark("trace_id", "span_id")

  /** Per-trace rollup state tracked with flatMapGroupsWithState. */
  case class TraceAgg(trace_id: String, spans: Long, error_spans: Long,
                      root_span: String, total_duration_ns: Long)

  /** Narrow span projection for the stateful rollup (public: Catalyst's
    * generated deserializer cannot touch private classes). */
  case class SpanLite(trace_id: String, span_id: String,
                      parent_span_id: Option[String], name: String,
                      status_code: Int, duration_ns: Long)

  /** Narrow sum-point projection for the streaming rate (public for
    * Catalyst's deserializer, like SpanLite). */
  case class SumPoint(ts: java.sql.Timestamp, name: String,
                      service_name: Option[String],
                      service_namespace: Option[String],
                      service_instance_id: Option[String],
                      resource_attributes: Option[String],
                      scope_name: Option[String],
                      metric_attributes: Option[String], t_us: Long,
                      value: Double, is_monotonic: Boolean)

  /** Last seen point per series — the whole state of the streaming rate. */
  case class SeriesLast(last_v: Double, last_t_us: Long)

  /** A rate observation: the point plus its per-second rate (None for a
    * series' first point and for late/out-of-order arrivals). Carries the
    * FULL series identity — two series distinguished only by namespace,
    * resource attributes, or scope must stay attributable to one producer
    * in the output, or the full-producer-identity state key is defeated at
    * the consumer (ADVICE r8). */
  case class RatePoint(name: String, service_name: Option[String],
                       service_namespace: Option[String],
                       service_instance_id: Option[String],
                       resource_attributes: Option[String],
                       scope_name: Option[String],
                       metric_attributes: Option[String], t_us: Long,
                       value: Double, rate_per_sec: Option[Double])

  /** Per-second rate on the LIVE cumulative-sum stream — the streaming
    * face of `operators.Metrics.rate`, whose lag-window form cannot run in
    * append mode: state is ONE (value, time) pair per series, each
    * arriving point emits its rate against the stored predecessor (same
    * counter-reset rule, same round(6), same FULL producer-identity
    * series key — two replicas of one service never merge), and the first
    * point of a series — or a point at/behind the stored time — emits a
    * null rate without rewinding state. Points later than the watermark
    * itself (more than `stalenessMs` behind the stream's max event time)
    * are dropped by the engine's standard late-data filter and emit
    * nothing. Series idle past the staleness horizon expire via the
    * event-time timeout (watermark-driven — no processing-time polling),
    * so state is bounded by the LIVE series set and a restarted series
    * just re-primes with one null. */
  def rateStream(sums: DataFrame, stalenessMs: Long = 3600000L)
      : Dataset[RatePoint] = {
    val spark = sums.sparkSession
    import spark.implicits._
    require(stalenessMs > 0, "stalenessMs must be positive")
    // the watermarked event-time column must survive projection all the
    // way into the stateful operator or EventTimeTimeout refuses to bind
    val lite = sums
      .withWatermark("time_unix_nano", s"$stalenessMs milliseconds")
      .select(col("time_unix_nano").as("ts"),
        col("name"), col("service_name"), col("service_namespace"),
        col("service_instance_id"), col("resource_attributes"),
        col("scope_name"), col("metric_attributes"),
        unix_micros(col("time_unix_nano")).as("t_us"),
        Metrics.pointValue.as("value"),
        coalesce(col("is_monotonic"), lit(false)).as("is_monotonic"))
      .where(col("name").isNotNull && col("value").isNotNull)
      .as[SumPoint]
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    lite.groupByKey(p => (p.name, p.service_name, p.service_namespace,
        p.service_instance_id, p.resource_attributes, p.scope_name,
        p.metric_attributes))
      .flatMapGroupsWithState[SeriesLast, RatePoint](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, _, state: GroupState[SeriesLast]) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case (_, it, state: GroupState[SeriesLast]) =>
          val pts = it.toIndexedSeq.sortBy(_.t_us)
          var st = state.getOption
          val out = pts.map { p =>
            val rate = st.collect {
              case s if p.t_us > s.last_t_us =>
                val inc = if (p.is_monotonic && p.value < s.last_v) p.value
                          else p.value - s.last_v
                round6(inc / ((p.t_us - s.last_t_us) / 1e6))
            }
            if (st.forall(_.last_t_us < p.t_us))
              st = Some(SeriesLast(p.value, p.t_us))
            RatePoint(p.name, p.service_name, p.service_namespace,
              p.service_instance_id, p.resource_attributes, p.scope_name,
              p.metric_attributes, p.t_us, p.value, rate)
          }
          st.foreach { s =>
            state.update(s)
            state.setTimeoutTimestamp(s.last_t_us / 1000 + stalenessMs)
          }
          out.iterator
      }
  }

  /** Buffered per-trace state for the streaming tail sampler. */
  case class TailBuf(spans: List[SpanLite])

  /** A span the tail sampler decided to keep, tagged with why. */
  case class KeptSpan(trace_id: String, span_id: String, name: String,
                      status_code: Int, duration_ns: Long,
                      keep_reason: String)

  /** Tail-based trace sampling on the LIVE stream — the collector policy
    * `operators.Traces.tailSample` applies to settled tables, as custom
    * state: spans buffer per trace until the trace goes idle for
    * `decisionWaitMs` (the collector's decision wait), then the WHOLE
    * trace either emits — error spans present → 'error'; any span ≥
    * `slowNs` → 'slow'; else a deterministic md5 hash draw at
    * `sampleRate` → 'sampled' — or drops wholesale. The hash is
    * [[graft.operators.Sampling.hashUnitLocal]], bit-identical to the
    * batch operator's column form, so stream and batch keep EXACTLY the
    * same clean traces (same salt).
    *
    * State is one buffered span list per in-flight trace, keyed by the
    * uniform trace id and bounded by the decision window — the same
    * contract as [[traceRollup]]; a span arriving after its trace's
    * decision re-opens state and is judged (and possibly dropped) alone,
    * the standard late-span caveat of every tail sampler. */
  def tailSampleStream(spans: DataFrame, slowNs: Long, sampleRate: Double,
                       decisionWaitMs: Long = 10000,
                       salt: String = "tail"): Dataset[KeptSpan] = {
    val spark = spans.sparkSession
    import spark.implicits._
    require(sampleRate >= 0.0 && sampleRate <= 1.0, s"bad rate $sampleRate")
    val lite = spans.select(
        col("trace_id"), col("span_id"), col("parent_span_id"),
        col("name"), col("status_code"),
        col("duration_time_unix_nano").as("duration_ns"))
      .where(col("trace_id").isNotNull)
      .as[SpanLite]
    lite.groupByKey(_.trace_id)
      .flatMapGroupsWithState[TailBuf, KeptSpan](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (traceId, it, state: GroupState[TailBuf]) =>
          if (state.hasTimedOut) {
            val buf = state.getOption.getOrElse(TailBuf(Nil))
            state.remove()
            val reason =
              if (buf.spans.exists(_.status_code == 2)) "error"
              else if (buf.spans.exists(_.duration_ns >= slowNs)) "slow"
              else if (graft.operators.Sampling
                .hashUnitLocal(traceId, salt) < sampleRate) "sampled"
              else null
            if (reason == null) Iterator.empty
            else buf.spans.reverseIterator.map(s => KeptSpan(traceId,
              s.span_id, s.name, s.status_code, s.duration_ns, reason))
          } else {
            val buf = state.getOption.getOrElse(TailBuf(Nil))
            state.update(TailBuf(it.foldLeft(buf.spans)((acc, s) => s :: acc)))
            state.setTimeoutDuration(decisionWaitMs)
            Iterator.empty
          }
      }
  }

  /** Custom-state operator: accumulate per-trace span counts / error counts
    * / root span name, emitting the running rollup on every update and
    * expiring idle traces via a processing-time timeout. */
  def traceRollup(spans: DataFrame, idleTimeoutMs: Long = 60000)
      : Dataset[TraceAgg] = {
    val spark = spans.sparkSession
    import spark.implicits._
    val lite = spans.select(
        col("trace_id"), col("span_id"), col("parent_span_id"),
        col("name"), col("status_code"),
        col("duration_time_unix_nano").as("duration_ns"))
      .where(col("trace_id").isNotNull)
      .as[SpanLite]
    lite.groupByKey(_.trace_id)
      .flatMapGroupsWithState[TraceAgg, TraceAgg](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (traceId, spans, state: GroupState[TraceAgg]) =>
          if (state.hasTimedOut) {
            val out = state.getOption
            state.remove()
            out.iterator
          } else {
            var agg = state.getOption.getOrElse(TraceAgg(traceId, 0, 0, null, 0))
            spans.foreach { s =>
              agg = agg.copy(
                spans = agg.spans + 1,
                error_spans = agg.error_spans + (if (s.status_code == 2) 1 else 0),
                root_span = if (s.parent_span_id.isEmpty) s.name else agg.root_span,
                total_duration_ns = agg.total_duration_ns + s.duration_ns)
            }
            state.update(agg)
            state.setTimeoutDuration(idleTimeoutMs)
            Iterator(agg)
          }
      }
  }
}
