package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Metric-stream transforms over the flattened sum table the OTLP readers
  * produce — collector-side conversions the storage layer (reference:
  * store-what-arrives) leaves to the query engine.
  *
  * Series identity everywhere below is the FULL producer identity —
  * (name, service incl. namespace + instance id, resource attributes,
  * scope, metric attributes) — because two replicas of one service export
  * the same metric name with the same labels, and merging them corrupts
  * running sums and fakes counter resets. Inputs are replay-deduped first:
  * the seal export is at-least-once and a byte-equal replayed point must
  * not double into a cumulative sum (the traceTree convention). The dedup
  * is [[Replay.dedupWithin]] keyed by each operator's own shuffle keys, so
  * it costs NO exchange beyond the one the aggregation needs (plan-pinned;
  * a bare distinct() added a second corpus-wide exchange keyed by every
  * column including the wide attribute JSONs). */
object Metrics {

  /** The full series identity: every column that distinguishes one
    * producer's stream of points from another's (shared with the
    * streaming twins — batch and stream must key series identically). */
  private[graft] val seriesKeyNames = Seq("name", "service_name",
    "service_namespace", "service_instance_id", "resource_attributes",
    "scope_name", "metric_attributes")
  private[graft] val seriesKey = seriesKeyNames.map(col)

  /** A point's value: double_value, else int_value as a double (null
    * for a point with no recorded value). */
  private[graft] val pointValue =
    coalesce(col("double_value"), col("int_value").cast("double"))

  /** Points with a recorded value, the value as column `as`. */
  private[graft] def valued(points: DataFrame, as: String = "__v")
      : DataFrame =
    points.where(pointValue.isNotNull).withColumn(as, pointValue)

  /** DELTA → CUMULATIVE temporality conversion for sum metrics (the OTel
    * collector's cumulativetodelta processor, inverted): within each
    * series — (name, service, attribute set) — delta points become the
    * running sum in time order and report temporality 2; points that
    * arrived cumulative (or unspecified) pass through byte-unchanged.
    * The conversion every dashboard needs when producers ship mixed
    * temporalities.
    *
    * Shape at 100 TB: ONE window partitioned by the series key — high
    * cardinality (uniform), and each partition holds only that series'
    * points within the table's retention, so no single task sees more
    * than one series' history. Temporality rides in the partition key, so
    * the running sum never mixes delta and cumulative points of a
    * same-named series. */
  def deltaToCumulative(sums: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(seriesKey :+ col("aggregation_temporality"): _*)
      // value as tiebreaker: same-timestamp distinct points otherwise get
      // run-dependent intermediate running sums
      .orderBy(col("time_unix_nano"), pointValue)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isDelta = col("aggregation_temporality") === 1
    Replay.dedupWithin(sums, seriesKey :+ col("aggregation_temporality"))
      .withColumn("int_value",
        when(isDelta, sum(col("int_value")).over(w))
          .otherwise(col("int_value")))
      .withColumn("double_value",
        when(isDelta, sum(col("double_value")).over(w))
          .otherwise(col("double_value")))
      .withColumn("aggregation_temporality",
        when(isDelta, lit(2)).otherwise(col("aggregation_temporality")))
  }

  /** Per-second rate from cumulative sum points — PromQL's core primitive
    * over the flattened table: within each series in time order,
    * `rate = increase / seconds-elapsed`, where a MONOTONIC counter whose
    * value dropped below its predecessor is a counter RESET (process
    * restart) and the increase is the new value itself (counter restarted
    * from zero — the Prometheus convention); non-monotonic sums just
    * difference. The first point of a series has no predecessor and
    * reports a null rate. Values round(6) for engine portability.
    *
    * Shape at 100 TB: the same one-window-per-series contract as
    * [[deltaToCumulative]] — uniform high-cardinality partitions, each
    * holding one series' retention of points. */
  def rate(sums: DataFrame): DataFrame = {
    val v = pointValue
    val w = Window
      .partitionBy(seriesKey: _*)
      .orderBy(col("time_unix_nano"), v)
    val tUs = unix_micros(col("time_unix_nano"))
    val prevV = lag(v, 1).over(w)
    val dtSec = (tUs - lag(tUs, 1).over(w)).cast("double") / lit(1e6)
    val increase =
      when(col("is_monotonic") && v < prevV, v).otherwise(v - prevV)
    // no-recorded-value points carry nothing to difference: skip them so
    // the lag spans the gap (Prometheus staleness behavior; keeps the
    // streaming twin's membership identical); dt > 0 guard: a deduped
    // same-microsecond pair must yield null, not an ANSI divide-by-zero
    valued(Replay.dedupWithin(sums, seriesKey), "value")
      .withColumn("rate_per_sec",
        when(dtSec > 0, round(increase / dtSec, 6)))
  }

  /** PromQL-style cross-series aggregation (`sum by (<labels>)`): collapse
    * every series of a metric down to the label set in `by`, summing
    * values at each timestamp and reporting how many series contributed.
    * The dashboard primitive for "total QPS across replicas". Inputs are
    * distinct()'d (at-least-once replay convention); value = double_value
    * with int fallback, round(6) for engine portability.
    *
    * Shape at 100 TB: ONE partial-aggregated groupBy on
    * (kept labels, timestamp) — replicas of one metric collapse map-side
    * before the exchange, and the output cardinality is the RETAINED label
    * space × time, not the series space. No window, no state. */
  def sumBy(sums: DataFrame, by: Seq[String] = Seq("name")): DataFrame =
    aggregateBy(sums, "sum", by) // one definition — see aggregateBy

  /** PromQL range-vector aggregation (`avg_over_time` / `min_over_time` /
    * `max_over_time` / `last_over_time` / `count_over_time` in one pass):
    * per SERIES (full producer identity) and aligned time window of
    * `windowSec`, the window's point statistics. The recording-rule
    * primitive that downsamples a raw series into dashboard resolution —
    * the conversion every long-retention metric store runs at ingest.
    * `last_value` is the value at the window's max timestamp (ties break
    * on value — deterministic in any engine). avg rounds (6) for engine
    * portability; min/max/last are input values, reported exactly.
    *
    * Shape at 100 TB: ONE partial-agg groupBy on (series, window) —
    * points collapse map-side onto their window before the exchange, and
    * the output cardinality is series × retention/window, the downsampled
    * size. Replay dedup rides the same exchange ([[Replay.dedupWithin]]).
    * Windowed and stateless per group, so the same dataflow attaches to a
    * stream with a watermark. */
  def overTime(sums: DataFrame, windowSec: Long = 60): DataFrame = {
    require(windowSec > 0, "windowSec must be positive")
    val wStart = Replay.windowStart(col("time_unix_nano"), windowSec)
    Replay.dedupWithin(
        sums.where(pointValue.isNotNull).withColumn("window_start", wStart),
        seriesKey :+ col("window_start"))
      .withColumn("__v", pointValue)
      .groupBy(seriesKey :+ col("window_start"): _*)
      .agg(overTimeAggs.head, overTimeAggs.tail: _*)
  }

  /** [[overTime]]'s window statistics over `__v`. */
  private[graft] val overTimeAggs = Seq(
    round(avg(col("__v")), 6).as("avg_value"),
    min(col("__v")).as("min_value"),
    max(col("__v")).as("max_value"),
    max(struct(col("time_unix_nano").as("t"), col("__v").as("v")))
      .getField("v").as("last_value"),
    count(lit(1)).as("n_points"))

  /** PromQL `increase()` over aligned windows: per series, the sum of
    * positive point-to-point deltas whose LATER point lands in the
    * window, with the Prometheus counter-reset rule — a MONOTONIC series
    * whose value dropped restarts from zero, so the reset pair
    * contributes the new value itself; non-monotonic sums difference
    * plainly (negative deltas pass through — a gauge-like sum's decrease
    * is real). First point of a series pairs with nothing. round(6).
    *
    * The alerting primitive "how much did this counter actually grow
    * this window", robust to restarts — `rate()` × windowSec only when
    * points are evenly spaced; this is exact per-pair.
    *
    * Shape at 100 TB: the [[rate]] lag window and a (series, window)
    * partial agg share ONE series-keyed exchange ([[Replay.dedupWithin]]
    * rides it too); output cardinality is the downsampled size. */
  def increase(sums: DataFrame, windowSec: Long = 60): DataFrame = {
    require(windowSec > 0, "windowSec must be positive")
    val v = pointValue
    val w = Window.partitionBy(seriesKey: _*)
      .orderBy(col("time_unix_nano"), v)
    val prevV = lag(v, 1).over(w)
    val delta =
      when(prevV.isNull, lit(null))
        .when(col("is_monotonic") && v < prevV, v)
        .otherwise(v - prevV)
    val wStart = Replay.windowStart(col("time_unix_nano"), windowSec)
    Replay.dedupWithin(sums, seriesKey)
      .where(v.isNotNull)
      .withColumn("__d", delta)
      .withColumn("window_start", wStart)
      .where(col("__d").isNotNull)
      .groupBy(seriesKey :+ col("window_start"): _*)
      .agg(round(sum(col("__d")), 6).as("increase"),
        count(lit(1)).as("n_pairs"))
  }

  /** PromQL `delta()` for gauges over aligned windows: per (series,
    * window) the difference between the window's LAST and FIRST values
    * (time order, value tiebreak — deterministic like [[overTime]]'s
    * last_value). The gauge counterpart of [[increase]]: no counter-reset
    * rule, negative deltas are real (temperature dropped). Windows with
    * one point report 0 (nothing moved within the window). round(6).
    *
    * Shape at 100 TB: one (series, window) partial-agg groupBy — the
    * first/last states are min/max struct sketches that combine
    * map-side; replay dedup rides the same exchange. */
  def deltaOverTime(sums: DataFrame, windowSec: Long = 300): DataFrame = {
    require(windowSec > 0, "windowSec must be positive")
    val wStart = Replay.windowStart(col("time_unix_nano"), windowSec)
    Replay.dedupWithin(
        sums.where(pointValue.isNotNull).withColumn("window_start", wStart),
        seriesKey :+ col("window_start"))
      .withColumn("__v", pointValue)
      .groupBy(seriesKey :+ col("window_start"): _*)
      .agg(round(
        max(struct(col("time_unix_nano").as("t"), col("__v").as("v")))
          .getField("v") -
        min(struct(col("time_unix_nano").as("t"), col("__v").as("v")))
          .getField("v"), 6).as("delta"),
        count(lit(1)).as("n_points"))
  }

  /** PromQL cross-series aggregation family (`avg/min/max by (<labels>)`):
    * [[sumBy]]'s generalization — collapse every series of a metric to
    * the kept label set at each timestamp under the chosen aggregate.
    * One partial-agg groupBy like sumBy (avg's sum/count state combines
    * map-side); value round(6) for avg, exact for min/max. */
  def aggregateBy(sums: DataFrame, op: String,
                  by: Seq[String] = Seq("name")): DataFrame = {
    require(by.nonEmpty, "aggregateBy needs at least one label to keep")
    val agg = aggOp(op)
    valued(Replay.dedupWithin(sums, by.map(col) :+ col("time_unix_nano")))
      .groupBy(by.map(col) :+ col("time_unix_nano"): _*)
      .agg(agg.as("value"), count(lit(1)).as("n_series"))
  }

  /** Shared cross-series aggregate dispatch for [[aggregateBy]] /
    * [[aggregateWithout]] — the full PromQL aggregation-operator set over
    * a value column named `__v`: sum/avg/min/max plus count (present
    * samples), stddev/stdvar (POPULATION moments, PromQL's definition),
    * and group (constant 1, the "which label sets exist" collapse).
    * Every one is a map-side-combinable partial aggregate. */
  private[graft] def aggOp(op: String): Column = op match {
    case "sum"    => round(sum(col("__v")), 6)
    case "avg"    => round(avg(col("__v")), 6)
    case "min"    => min(col("__v"))
    case "max"    => max(col("__v"))
    case "count"  => count(col("__v")).cast("double")
    case "stddev" => round(stddev_pop(col("__v")), 6)
    case "stdvar" => round(var_pop(col("__v")), 6)
    case "group"  => first(lit(1.0))
    case other => throw new IllegalArgumentException(
      s"unknown aggregate: $other (sum|avg|min|max|count|stddev|stdvar|group)")
  }

  /** PromQL `sum/avg/min/max without (<labels>)`: the complement face of
    * [[aggregateBy]] — collapse series by DROPPING the listed labels
    * from the metric-attribute set and grouping on everything that
    * remains (name + the cleaned attribute JSON). The "collapse
    * replicas but keep every other dimension" aggregation, which `by`
    * can't express without enumerating the kept labels. Cleaned JSON is
    * rebuilt from the sorted entry list, so two series differing only
    * in dropped labels land in one group with a canonical key.
    *
    * Shape at 100 TB: the label-drop is MAP-ONLY JSON rewriting; then
    * one partial-agg groupBy on (name, cleaned attrs, time) — replica
    * collapse happens map-side, output is the retained label space. */
  def aggregateWithout(sums: DataFrame, op: String,
                       without: Seq[String]): DataFrame = {
    require(without.nonEmpty, "aggregateWithout needs labels to drop")
    val agg = aggOp(op)
    // metric_attributes is the canonical compact sorted-key JSON the
    // parser emits (scalar values, standard string escaping). Dropped
    // keys are removed by tokenizing the TEXT into its top-level
    // `"k":v` entries and keeping each survivor's original bytes —
    // NOT by from_json(map<string,string>)+to_json, which re-quotes
    // numeric values ({"retries":3} became {"retries":"3"}) so the
    // rebuilt key stopped equi-joining other operators' attribute JSON
    // and collapsed canonically distinct series (review finding). The
    // scanner is sound on this canonical form: each value (with any
    // embedded escaped quotes) is consumed left-to-right before the
    // matcher could see key-shaped bytes inside it.
    val entryPat =
      "\"(?:[^\"\\\\]|\\\\.)*\":(?:\"(?:[^\"\\\\]|\\\\.)*\"|[^,}]*)"
    val dropArr = array(without.map(lit): _*)
    val keyOf = (e: Column) => try_element_at(map_keys(from_json(
      concat(lit("{"), e, lit("}")),
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType))), lit(1))
    val kept = filter(
      regexp_extract_all(col("metric_attributes"), lit(entryPat), lit(0)),
      e => !array_contains(dropArr, keyOf(e)))
    val cleaned = coalesce(
      concat(lit("{"), array_join(kept, ","), lit("}")), lit("{}"))
    valued(Replay.dedupWithin(
        sums.withColumn("__attrs", cleaned),
        Seq(col("name"), col("__attrs"), col("time_unix_nano"))))
      .groupBy(col("name"), col("__attrs").as("metric_attributes"),
        col("time_unix_nano"))
      .agg(agg.as("value"), count(lit(1)).as("n_series"))
  }

  /** Metric catalog INVENTORY — the `scopeInventory` twin for metrics:
    * per (metric name, unit), how many distinct series and points exist
    * and over what time span. The "what is this cluster even exporting"
    * audit every metrics bill review starts from. One partial-agg
    * groupBy; n_series counts a canonical concat of the series identity
    * (null-coalesced — countDistinct over raw columns drops rows where
    * ANY column is null, and namespace/instance legitimately are). */
  def metricInventory(sums: DataFrame): DataFrame = {
    val sid = concat_ws("|", seriesKeyNames.map(c =>
      coalesce(col(c), lit(""))): _*)
    sums.groupBy(col("name"), coalesce(col("unit"), lit("")).as("unit"))
      .agg(countDistinct(sid).as("n_series"),
        count(lit(1)).as("n_points"),
        min(col("time_unix_nano")).as("first_time"),
        max(col("time_unix_nano")).as("last_time"))
  }

  /** SEASONALITY profile: per metric name, the value distribution by
    * time-of-day bucket (`hour` of day, `minute` of hour, or `dow`
    * day-of-week 1=Sunday) — the baseline table behind "is tonight's
    * value abnormal FOR 3am" anomaly detection, where a flat global
    * baseline ([[volumeAnomaly]]'s) false-alarms on daily rhythm.
    * round(6) on the moments.
    *
    * Shape at 100 TB: bucket extraction is map-only on the timestamp;
    * then one partial-agg groupBy onto (name, bucket) — ≤ 168 rows per
    * metric. The replay dedup keys by uniform (name, time), NOT the
    * (name, bucket) output key: ≤ 168 buckets per metric would funnel a
    * metric's whole retention history for one hour into a single window
    * task and defeat the map-side combine (the r11 skew-trap lesson) —
    * the second exchange is the price of a dedup that scales. */
  def seasonality(sums: DataFrame, bucket: String = "hour"): DataFrame =
    valued(Replay.dedupWithin(
        sums.withColumn("bucket", seasonalBucket(bucket)),
        Seq(col("name"), col("time_unix_nano"))))
      .groupBy(col("name"), col("bucket"))
      .agg(round(avg(col("__v")), 6).as("avg_value"),
        min(col("__v")).as("min_value"),
        max(col("__v")).as("max_value"),
        round(stddev_pop(col("__v")), 6).as("stddev_value"),
        count(lit(1)).as("n_points"))

  /** A point's time-of-day bucket: `hour` of day, `minute` of hour, or
    * `dow` (1=Sunday). int64: SQL engines' hour()/minute() are BIGINT,
    * oracle parity is type-sensitive, and a stream-static join on the
    * bucket must not need a widening cast. */
  private[graft] def seasonalBucket(bucket: String): Column = (bucket match {
    case "hour"   => hour(col("time_unix_nano"))
    case "minute" => minute(col("time_unix_nano"))
    case "dow"    => dayofweek(col("time_unix_nano"))
    case other => throw new IllegalArgumentException(
      s"unknown bucket: $other (hour|minute|dow)")
  }).cast("long")

  /** SEASONAL anomaly detection: score every point against the metric's
    * OWN time-of-day baseline ([[seasonality]]'s profile — same bucket
    * rule, same rounded moments, so the flag is reproducible from the
    * published baseline table) and keep the points whose z-score
    * |v − avg| / stddev meets `k`. Buckets whose baseline spread is zero
    * (constant or single-point history) cannot score and are excluded —
    * a flat line's first wiggle is [[volumeAnomaly]]'s job, not a
    * seasonal deviation. round(6) on the score.
    *
    * Shape at 100 TB: the baseline is ≤ 168 rows per metric NAME — tiny
    * per metric but linear in the catalog, so the join is left to the
    * planner (AQE broadcasts it while it fits; a million-metric catalog
    * shuffles both sides on uniform (name, bucket) keys instead of
    * forcing a driver-sized broadcast). The point side's one
    * replay-dedup exchange keys by uniform (name, time), not the
    * 168-value bucket key — the same skew rule as [[seasonality]]. */
  def seasonalAnomaly(sums: DataFrame, bucket: String = "hour",
                      k: Double = 2.0): DataFrame =
    seasonalScores(valued(Replay.dedupWithin(
        sums.withColumn("bucket", seasonalBucket(bucket)),
        Seq(col("name"), col("time_unix_nano"))), "value"),
      scorable(seasonality(sums, bucket)), k)

  /** A [[seasonality]] profile's buckets that can score: those with
    * spread. */
  private[graft] def scorable(profile: DataFrame): DataFrame =
    profile.where(col("stddev_value") > 0)
      .select(col("name"), col("bucket"), col("avg_value"),
        col("stddev_value"))

  /** [[seasonalAnomaly]]'s verdict on points carrying `bucket` and
    * `value`: z against their bucket's moments, round(6), kept at
    * |z| ≥ k (k ≥ 0). */
  private[graft] def seasonalScores(points: DataFrame, profile: DataFrame,
                                    k: Double): DataFrame = {
    require(k >= 0, "k must be non-negative")
    points.join(profile, Seq("name", "bucket"))
      .withColumn("z_score",
        round((col("value") - col("avg_value")) / col("stddev_value"), 6))
      .where(abs(col("z_score")) >= k)
      .select(col("name"), col("bucket"), col("time_unix_nano"),
        col("value"), col("avg_value"), col("stddev_value"), col("z_score"))
  }

  /** PromQL `holt_winters()` (3.x: `double_exponential_smoothing`): per
    * series, the double-exponentially-smoothed LAST value — level factor
    * `sf` weighs the newest sample, trend factor `tf` weighs the newest
    * level movement; the forecasting primitive that tracks a trending
    * counter where a plain moving average lags. Prometheus's recurrence
    * exactly: s₀=v₀, b₀=v₁−v₀, sᵢ=sf·vᵢ+(1−sf)(sᵢ₋₁+bᵢ₋₁),
    * bᵢ=tf·(sᵢ−sᵢ₋₁)+(1−tf)·bᵢ₋₁; series with fewer than two points
    * report null (PromQL drops them). round(6).
    *
    * Shape at 100 TB: the recurrence is inherently ordered, so each
    * series' points gather ONCE (the same series-keyed exchange the
    * replay dedup rides) and fold in a single array expression — per-task
    * state is one series' retention-bounded history, never the corpus,
    * and there is no window-function second pass. */
  def holtWinters(sums: DataFrame, sf: Double = 0.5,
                  tf: Double = 0.3): DataFrame = {
    require(sf > 0 && sf < 1, s"level factor out of (0,1): $sf")
    require(tf > 0 && tf < 1, s"trend factor out of (0,1): $tf")
    valued(Replay.dedupWithin(sums, seriesKey))
      .groupBy(seriesKey: _*)
      .agg(expr("array_sort(collect_list(struct(time_unix_nano AS t, __v AS v)))")
          .as("__pts"),
        max(col("time_unix_nano")).as("last_time"),
        count(lit(1)).as("n_points"))
      .withColumn("smoothed", expr(
        // the fold starts at the state AFTER the first recurrence step,
        // which collapses algebraically to (s=v[1], b=v[1]-v[0])
        // try_element_at, not [i]: ANSI may evaluate an arm's array access
        // before the size guard (the round-9 element_at lesson)
        s"""CASE WHEN size(__pts) < 2 THEN CAST(NULL AS DOUBLE) ELSE
           |round(aggregate(
           |  slice(__pts, 3, greatest(size(__pts) - 2, 0)),
           |  named_struct(
           |    's', CAST(try_element_at(__pts, 2).v AS DOUBLE),
           |    'b', CAST(try_element_at(__pts, 2).v
           |              - try_element_at(__pts, 1).v AS DOUBLE)),
           |  (acc, p) -> named_struct(
           |    's', $sf * p.v + (1 - $sf) * (acc.s + acc.b),
           |    'b', $tf * (($sf * p.v + (1 - $sf) * (acc.s + acc.b)) - acc.s)
           |         + (1 - $tf) * acc.b),
           |  acc -> acc.s), 6) END""".stripMargin))
      .select(seriesKey :+ col("last_time") :+ col("n_points")
        :+ col("smoothed"): _*)
  }

  /** EXEMPLAR → SPAN correlation: explode each data point's sampled
    * exemplars (the OTLP metrics↔traces bridge — a recorded trace/span
    * id per sampled observation) and join them to the span table, so
    * "p99 is bad" resolves to actual slow requests one can open. Keeps
    * unmatched exemplars (expired/unsampled traces) with null span
    * columns and `matched` false. Works on any point frame carrying
    * `exemplars_json` (sums, gauges, histograms).
    *
    * Shape at 100 TB: exemplars are a SAMPLED trickle (a few per series
    * per window) while spans are the big side — the exploded exemplar
    * frame stays small, and the equi-join shuffles both sides on
    * uniform (trace_id, span_id) keys; rows without ids are dropped
    * before the exchange so there is no null-key partition. Both sides
    * replay-dedup first (a replayed span row would double every
    * exemplar pointing at it; a replayed point would double its
    * exemplars). */
  def exemplarSpans(points: DataFrame, spans: DataFrame): DataFrame = {
    val exT = "array<struct<time_unix_nano: bigint, as_int: bigint, " +
      "as_double: double, trace_id: string, span_id: string, " +
      "filtered_attributes: map<string,string>>>"
    val ex = Replay.dedupWithin(
        points.where(col("exemplars_json").isNotNull),
        Seq(col("name"), col("time_unix_nano")))
      .select(col("name"), col("time_unix_nano").as("point_time"),
        explode(from_json(col("exemplars_json"), exT,
          Map.empty[String, String])).as("ex"))
      .select(col("name"), col("point_time"),
        coalesce(col("ex.as_double"), col("ex.as_int").cast("double"))
          .as("exemplar_value"),
        col("ex.trace_id").as("trace_id"), col("ex.span_id").as("span_id"))
      .where(col("trace_id").isNotNull && col("span_id").isNotNull)
    val sp = Replay.dedupWithin(spans,
        Seq(col("trace_id"), col("span_id")))
      .select(col("trace_id"), col("span_id"),
        col("name").as("span_name"), col("service_name").as("span_service"),
        col("duration_time_unix_nano").as("span_duration_ns"))
    ex.join(sp, Seq("trace_id", "span_id"), "left")
      .withColumn("matched", col("span_name").isNotNull)
  }

  /** PromQL quantile aggregation (`quantile by (<labels>)(q, metric)`):
    * at each timestamp, the exact q-quantile of the values ACROSS every
    * series that collapses to the kept label set — "p90 of per-replica
    * QPS right now". Linear interpolation (percentile/quantile_cont
    * semantics, like [[graft.operators.Traces.spanPercentiles]]).
    * round(6); reports contributing-series count like [[sumBy]].
    *
    * Shape at 100 TB: one partial-aggregated groupBy on (labels, time);
    * each group holds the replica count, not the corpus. */
  def quantileBy(sums: DataFrame, q: Double,
                 by: Seq[String] = Seq("name")): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile out of [0,1]: $q")
    require(by.nonEmpty, "quantileBy needs at least one label to keep")
    valued(Replay.dedupWithin(sums, by.map(col) :+ col("time_unix_nano")))
      .groupBy(by.map(col) :+ col("time_unix_nano"): _*)
      .agg(round(expr(s"percentile(__v, $q)"), 6).as("value"),
        count(lit(1)).as("n_series"))
  }

  /** PromQL binary operation between two metrics with label matching
    * (`sum by (labels)(num) / sum by (labels)(den)` — the error-ratio /
    * cache-hit-rate / per-request-cost primitive): at each (kept labels,
    * timestamp) present in BOTH metrics, the ratio of the label-collapsed
    * sums. Timestamps where the denominator is absent or zero drop (the
    * PromQL vector-matching convention: no match, no sample — never a
    * divide-by-zero). round(6).
    *
    * Shape at 100 TB: one partial-agg groupBy on (labels, time) with the
    * two metrics' sums as conditional aggregates in the SAME pass — no
    * self-join of the metrics table; the replay dedup rides the same
    * exchange. */
  def ratioBy(sums: DataFrame, numName: String, denName: String,
              by: Seq[String] = Seq.empty): DataFrame = {
    val keys = by.map(col) :+ col("time_unix_nano")
    val (num, den) = ratioAggs(numName, denName)
    Replay.dedupWithin(sums.where(ratioPoints(numName, denName)), keys)
      .withColumn("__v", pointValue)
      .groupBy(keys: _*).agg(num, den)
      .where(ratioMatched).select(col("*"), ratio)
  }

  /** [[ratioBy]]'s input: valued points of the two metrics. */
  private[graft] def ratioPoints(numName: String, denName: String): Column =
    col("name").isin(numName, denName) && pointValue.isNotNull

  /** [[ratioBy]]'s two sums over `__v`, as conditional aggregates of one
    * pass. */
  private[graft] def ratioAggs(numName: String,
                               denName: String): (Column, Column) = {
    require(numName != denName, "numerator and denominator must differ")
    (sum(when(col("name") === numName, col("__v"))).as("num"),
      sum(when(col("name") === denName, col("__v"))).as("den"))
  }

  /** Vector matching: both sides present and a nonzero denominator. */
  private[graft] val ratioMatched =
    col("num").isNotNull && col("den").isNotNull && col("den") =!= 0

  private[graft] val ratio = round(col("num") / col("den"), 6).as("ratio")

  /** Shared lag-then-window pair aggregation for [[resets]]/[[changes]]:
    * per series in time order, tag each consecutive point pair with
    * `tag(prev, current)`, then count tagged pairs per (series, aligned
    * window of the LATER point). One series-keyed exchange (the
    * [[increase]] shape): the lag window and the (series, window) partial
    * agg share it, and the replay dedup rides it too. */
  private def pairCounts(sums: DataFrame, windowSec: Long,
                         outCol: String)(
                         tag: (Column, Column) => Column): DataFrame = {
    require(windowSec > 0, "windowSec must be positive")
    val v = pointValue
    val w = Window.partitionBy(seriesKey: _*)
      .orderBy(col("time_unix_nano"), v)
    val prevV = lag(v, 1).over(w)
    val flag = when(prevV.isNull, lit(null)).otherwise(tag(prevV, v))
    Replay.dedupWithin(sums, seriesKey)
      .where(v.isNotNull)
      .withColumn("__f", flag)
      .withColumn("window_start",
        Replay.windowStart(col("time_unix_nano"), windowSec))
      .where(col("__f").isNotNull)
      .groupBy(seriesKey :+ col("window_start"): _*)
      .agg(sum(col("__f")).as(outCol), count(lit(1)).as("n_pairs"))
  }

  /** PromQL `resets()` over aligned windows: per (series, window) the
    * number of counter resets — consecutive point pairs whose later value
    * DROPPED (the PromQL definition: any decrease is a reset, the
    * monotonicity flag notwithstanding — a flapping counter is exactly
    * what this detects). The restart/crash-loop detector next to
    * [[increase]]'s growth number. */
  def resets(sums: DataFrame, windowSec: Long = 300): DataFrame =
    pairCounts(sums, windowSec, "resets")(
      (prev, v) => when(v < prev, 1L).otherwise(0L))

  /** Reset-corrected TOTAL increase per series over the whole retained
    * range — Prometheus's counter semantics without a window: each
    * consecutive pair contributes `v − prev` when monotone and `v`
    * after a reset (the counter restarted from ~0, so the new value IS
    * the increase since), summed per series. The "how many requests did
    * this instance actually serve" number a raw max−min gets wrong on
    * every restart. Reports the reset count beside it ([[resets]]'
    * windowed face, collapsed). Single points report null (no pair —
    * no increase to claim). round(6).
    *
    * Shape at 100 TB: one series-keyed exchange for the lag window,
    * then a series-keyed partial agg on the same partitioning; replay
    * dedup keys by uniform (series, time). */
  def adjustedTotal(sums: DataFrame): DataFrame = {
    val w = Window.partitionBy(seriesKey: _*)
      .orderBy(col("time_unix_nano"), col("__v"))
    Replay.dedupWithin(sums.where(pointValue.isNotNull),
        seriesKey :+ col("time_unix_nano"))
      .withColumn("__v", pointValue)
      .withColumn("__pv", lag(col("__v"), 1).over(w))
      .withColumn("__d", when(col("__pv").isNull, lit(null))
        .when(col("__v") < col("__pv"), col("__v"))
        .otherwise(col("__v") - col("__pv")))
      .groupBy(seriesKey: _*)
      .agg(round(sum(col("__d")), 6).as("adjusted_total"),
        sum(when(col("__pv").isNotNull && col("__v") < col("__pv"), 1L)
          .otherwise(0L)).as("n_resets"),
        count(lit(1)).as("n_points"),
        min(col("time_unix_nano")).as("first_time"),
        max(col("time_unix_nano")).as("last_time"))
  }

  /** PromQL `changes()` over aligned windows: per (series, window) how
    * many times the value CHANGED between consecutive points — the
    * config-flap / state-thrash detector (a gauge that changes every
    * scrape vs one that holds steady). Same one-pass shape as
    * [[resets]]. */
  def changes(sums: DataFrame, windowSec: Long = 300): DataFrame =
    pairCounts(sums, windowSec, "changes")(
      (prev, v) => when(v =!= prev, 1L).otherwise(0L))

  /** PromQL `deriv()` over aligned windows: per (series, window) the
    * least-squares slope of value over time in per-second units — simple
    * linear regression, exactly PromQL's definition. Windows with fewer
    * than 2 points (or zero time variance) report null. round(6).
    *
    * Shape at 100 TB: regr_slope is a partial-aggregable moment sketch
    * (sums of t, v, t·v, t²) — ONE (series, window) partial-agg groupBy
    * with map-side combine, the replay dedup riding the same exchange. */
  def deriv(sums: DataFrame, windowSec: Long = 300): DataFrame = {
    require(windowSec > 0, "windowSec must be positive")
    val wStart = Replay.windowStart(col("time_unix_nano"), windowSec)
    Replay.dedupWithin(
        sums.where(pointValue.isNotNull).withColumn("window_start", wStart),
        seriesKey :+ col("window_start"))
      .withColumn("__v", pointValue)
      .withColumn("__t", unix_micros(col("time_unix_nano")).cast("double") /
        lit(1e6))
      .groupBy(seriesKey :+ col("window_start"): _*)
      .agg(round(expr("regr_slope(__v, __t)"), 6).as("deriv_per_sec"),
        count(lit(1)).as("n_points"))
  }

  /** PromQL `predict_linear()`: per (series, window) the least-squares
    * extrapolation of the value `aheadSec` seconds past the WINDOW END —
    * the disk-full / quota-exhaustion alerting primitive ("will this
    * gauge hit the ceiling within 4 h"). Same moment-sketch aggregation
    * as [[deriv]]; windows without a defined slope report null. round(6).
    *
    * Evaluated in the CENTERED form v̄ + slope·(t_target − t̄), not
    * intercept + slope·t: the intercept extrapolates the fit back to the
    * 1970 epoch, so slope·t carries ~1e9-second magnitudes whose double
    * rounding (~1e-7 absolute) lands exactly at the round(6) edge —
    * centering keeps every term at window scale. */
  def predictLinear(sums: DataFrame, windowSec: Long = 300,
                    aheadSec: Long = 3600): DataFrame = {
    require(windowSec > 0, "windowSec must be positive")
    require(aheadSec >= 0, "aheadSec must be non-negative")
    val wStart = Replay.windowStart(col("time_unix_nano"), windowSec)
    Replay.dedupWithin(
        sums.where(pointValue.isNotNull).withColumn("window_start", wStart),
        seriesKey :+ col("window_start"))
      .withColumn("__v", pointValue)
      .withColumn("__t", unix_micros(col("time_unix_nano")).cast("double") /
        lit(1e6))
      .groupBy(seriesKey :+ col("window_start"): _*)
      .agg(expr("regr_slope(__v, __t)").as("__slope"),
        avg(col("__v")).as("__vbar"), avg(col("__t")).as("__tbar"),
        count(lit(1)).as("n_points"))
      .withColumn("predicted", round(col("__vbar") + col("__slope") *
        (unix_micros(col("window_start")).cast("double") / lit(1e6) +
          lit((windowSec + aheadSec).toDouble) - col("__tbar")), 6))
      .drop("__slope", "__vbar", "__tbar")
  }

  /** PromQL `topk(k, metric)`: at each timestamp, the k series with the
    * highest value among every series collapsing to the `partition`
    * label set (default: per metric name) — rank by value descending
    * with the full series identity as a deterministic tiebreak. The
    * "which replicas are hottest right now" panel.
    *
    * Shape at 100 TB: ONE window keyed (partition labels, timestamp) —
    * high-cardinality uniform (each partition holds one instant's
    * replica set); replay dedup rides the same exchange; the filter
    * keeps k rows per instant before anything downstream runs. */
  def topkSeries(sums: DataFrame, k: Int,
                 partition: Seq[String] = Seq("name")): DataFrame =
    extremeK("topk", sums, k, partition, pointValue.desc)

  /** PromQL `bottomk(k, metric)` — [[topkSeries]]'s mirror: the k LOWEST
    * valued series at each timestamp (the "which replicas are starved /
    * idle" panel). Same one-window shape, value ascending with the same
    * series-identity tiebreak. */
  def bottomkSeries(sums: DataFrame, k: Int,
                    partition: Seq[String] = Seq("name")): DataFrame =
    extremeK("bottomk", sums, k, partition, pointValue.asc)

  /** [[topkSeries]] and [[bottomkSeries]]: the k series first in `order`
    * of value per (partition labels, timestamp). */
  private def extremeK(fn: String, sums: DataFrame, k: Int,
                       partition: Seq[String], order: Column): DataFrame = {
    require(k > 0, "k must be positive")
    require(partition.nonEmpty, s"$fn needs at least one partition label")
    val keys = partition.map(col) :+ col("time_unix_nano")
    val w = Window.partitionBy(keys: _*)
      .orderBy(order +: seriesKey.map(_.asc): _*)
    Replay.dedupWithin(sums.where(pointValue.isNotNull), keys)
      .withColumn("value", pointValue)
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
  }

  /** PromQL `quantile_over_time(q, ...)`: per (series, aligned window)
    * the exact q-quantile of the window's points — [[overTime]]'s
    * quantile sibling (avg/min/max/last live there; the p95-of-a-gauge
    * recording rule lives here). Linear interpolation (percentile /
    * quantile_cont semantics), round(6).
    *
    * Shape at 100 TB: one (series, window) partial-agg groupBy — the
    * percentile state sorts within each window's points only, and the
    * replay dedup rides the same exchange. */
  def quantileOverTime(sums: DataFrame, q: Double,
                       windowSec: Long = 60): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile out of [0,1]: $q")
    require(windowSec > 0, "windowSec must be positive")
    val wStart = Replay.windowStart(col("time_unix_nano"), windowSec)
    Replay.dedupWithin(
        sums.where(pointValue.isNotNull).withColumn("window_start", wStart),
        seriesKey :+ col("window_start"))
      .withColumn("__v", pointValue)
      .groupBy(seriesKey :+ col("window_start"): _*)
      .agg(round(expr(s"percentile(__v, $q)"), 6).as("quantile"),
        count(lit(1)).as("n_points"))
  }

  /** PromQL `count_values(<label>, metric)`: the exact-value histogram —
    * per (kept labels, observed value) how many (series, point) samples
    * carried exactly that value. The "how many replicas report version
    * N / state S" rollup for gauges encoding enums.
    *
    * Shape at 100 TB: the replay dedup keys on (series, time) — uniform
    * high-cardinality, NOT the skew-prone (labels, value) key (a hot enum
    * value reported by a whole fleet would funnel into one window task) —
    * then the (labels, value) rollup partial-aggregates with map-side
    * combine, so the hot value collapses before its exchange. Two
    * exchanges, both safe; the output is the value domain × labels. */
  def countValues(sums: DataFrame,
                  by: Seq[String] = Seq("name")): DataFrame = {
    require(by.nonEmpty, "countValues needs at least one label to keep")
    Replay.dedupWithin(valued(sums, "value"),
        seriesKey :+ col("time_unix_nano"))
      .groupBy(by.map(col) :+ col("value"): _*)
      .agg(count(lit(1)).as("n_samples"))
  }

  /** PromQL `histogram_avg`: mean observation per histogram point from
    * the sum/count the point already carries — MAP-ONLY arithmetic, the
    * cheap companion to the interpolated quantile walks (no bucket
    * arithmetic at all). Zero-count points report null, never an ANSI
    * divide error. round(6). */
  def histogramAvg(hists: DataFrame,
                   outCol: String = "avg_value"): DataFrame =
    hists.withColumn(outCol,
      when(col("count").isNull || col("count") === 0, lit(null))
        .otherwise(round(col("sum") / col("count").cast("double"), 6)))

  /** The series LABEL columns (the full identity minus the metric name) —
    * what PromQL's vector matching draws `on()`/`ignoring()` sets from at
    * this table's column granularity. */
  private[graft] val labelCols: Seq[String] =
    Seq("service_name", "service_namespace", "service_instance_id",
      "resource_attributes", "scope_name", "metric_attributes")

  /** PromQL `ignoring(<labels>)` matching for [[ratioBy]]: match on every
    * label column EXCEPT the listed ones — the complement form of `on()`.
    * `num / ignoring(metric_attributes) den` is the common error-ratio
    * join when only the attribute set differs between the two metrics.
    * Same one-pass conditional-aggregate shape as [[ratioBy]] (to which
    * this delegates after complementing the label set). */
  def ratioIgnoring(sums: DataFrame, numName: String, denName: String,
                    ignored: Seq[String]): DataFrame = {
    val bad = ignored.filterNot(labelCols.contains)
    require(bad.isEmpty, s"not label columns: ${bad.mkString(", ")}")
    ratioBy(sums, numName, denName, labelCols.filterNot(ignored.contains))
  }

  /** PromQL one-to-many vector matching
    * (`num / on(<labels>) group_left den`): the numerator keeps its FULL
    * series identity — every numerator sample divides by THE denominator
    * value sharing its `on` labels at its timestamp — while the
    * denominator collapses to the `on` label set. The real error-ratio
    * join when the denominator carries fewer labels: per-path error
    * counts over a per-service request total, each path keeping its own
    * row. Samples with no matching (or zero) denominator drop, the
    * PromQL convention; ratio round(6).
    *
    * Shape at 100 TB: the denominator aggregates to an (on-labels ×
    * time)-bounded frame — dashboard-resolution in the common case, so
    * the planner broadcasts it back onto the numerator scan on stats
    * (plan-pinned in PlanSpec); a months-long high-resolution range whose
    * denominator outgrows the broadcast threshold degrades to a shuffle
    * join instead of OOMing a forced broadcast. The numerator side's only
    * guaranteed exchange is its replay-dedup window keyed by the same
    * (on, time) join key. The corpus is read once per side and never
    * self-joins. */
  def ratioGroupLeft(sums: DataFrame, numName: String, denName: String,
                     on: Seq[String]): DataFrame = {
    require(numName != denName, "numerator and denominator must differ")
    require(on.nonEmpty, "group_left needs at least one on() label")
    val v = pointValue
    val keys = on.map(col) :+ col("time_unix_nano")
    val num = Replay.dedupWithin(
        sums.where(col("name") === numName && v.isNotNull), keys)
      .withColumn("num", v)
    val den = Replay.dedupWithin(
        sums.where(col("name") === denName && v.isNotNull), keys)
      .withColumn("__v", v)
      .groupBy(keys: _*)
      .agg(sum(col("__v")).as("den"))
      .where(col("den") =!= 0)
    // no broadcast() hint: the denominator is dashboard-resolution sized
    // in the common case and the planner broadcasts it on stats (pinned
    // in PlanSpec), but its true cardinality is on-labels × timestamps —
    // a months-long high-resolution query must be ALLOWED to degrade to
    // a shuffle join instead of OOMing the driver on a forced broadcast
    num.join(den, on :+ "time_unix_nano")
      .select((seriesKey :+ col("time_unix_nano") :+ col("num") :+
        col("den") :+ round(col("num") / col("den"), 6).as("ratio")): _*)
  }

  /** PromQL `clamp()` / `clamp_min` / `clamp_max`: values bounded to
    * [lo, hi] (pass null for an open side) — the dashboard-sanitizer
    * that stops one bogus exporter spike from flattening every panel's
    * y-axis. MAP-ONLY: adds `value_clamped` next to the original value;
    * null values stay null. */
  def clampValues(sums: DataFrame, lo: Option[Double], hi: Option[Double]): DataFrame = {
    require(lo.nonEmpty || hi.nonEmpty, "clamp needs at least one bound")
    for (l <- lo; h <- hi) require(l <= h, s"empty clamp range [$l, $h]")
    val v = pointValue
    val lower = lo.map(l => greatest(v, lit(l))).getOrElse(v)
    val both = hi.map(h => least(lower, lit(h))).getOrElse(lower)
    // greatest/least SKIP nulls, so an absent sample would fabricate a
    // bound value — guard so null in means null out
    val clamped = when(v.isNull, lit(null).cast("double")).otherwise(both)
    sums.withColumn("value", v).withColumn("value_clamped", clamped)
  }

  /** Label names here splice into `get_json_object` paths (`$['k']`) —
    * a quote/bracket/backslash would silently alter the path (OTLP
    * attribute keys are arbitrary strings), so fail loud instead. */
  private def jsonPathSafe(k: String): Unit =
    require(!k.exists(c => c == '\'' || c == '"' || c == '[' ||
      c == ']' || c == '\\'),
      s"label name not JSONPath-safe (quote/bracket/backslash): '$k'")

  /** PromQL `label_replace()`: derive label `dst` by matching label
    * `src`'s value against `regex` (full-anchored, as PromQL anchors)
    * and expanding `replacement`'s `$1…$n` backreferences; on no match
    * the series keeps its EXISTING `dst` value (PromQL leaves the
    * timeseries untouched). The relabeling primitive behind "extract
    * the deployment from the pod name". Spark-native shape: the derived
    * label lands as a COLUMN named `dst` (queries act on columns; the
    * attribute blob stays byte-unchanged provenance). MAP-ONLY. */
  def labelReplace(sums: DataFrame, dst: String, replacement: String,
                   src: String, regex: String): DataFrame = {
    require(!sums.columns.contains(dst),
      s"label_replace dst '$dst' collides with an existing column")
    Seq(src, dst).foreach(jsonPathSafe)
    val anchored = "^(?:" + regex + ")$"
    val srcV = coalesce(
      get_json_object(col("metric_attributes"), s"$$['$src']"), lit(""))
    val cur = get_json_object(col("metric_attributes"), s"$$['$dst']")
    sums.withColumn(dst,
      when(srcV.rlike(anchored),
        regexp_replace(srcV, anchored, replacement)).otherwise(cur))
  }

  /** PromQL `label_join()`: label `dst` = the values of `srcs` joined
    * with `sep` (absent labels contribute empty strings, as PromQL
    * does). Same column-landing shape as [[labelReplace]]. MAP-ONLY. */
  def labelJoin(sums: DataFrame, dst: String, sep: String,
                srcs: Seq[String]): DataFrame = {
    require(srcs.nonEmpty, "label_join needs at least one source label")
    require(!sums.columns.contains(dst),
      s"label_join dst '$dst' collides with an existing column")
    srcs.foreach(jsonPathSafe)
    sums.withColumn(dst, concat_ws(sep, srcs.map(s => coalesce(
      get_json_object(col("metric_attributes"), s"$$['$s']"), lit(""))): _*))
  }

  /** PromQL `offset` comparison (`v / (v offset 1d)` — the
    * day-over-day / week-over-week panel): per series and point, the
    * value exactly `offsetSec` earlier in the SAME series, plus their
    * ratio (null when the offset sample is absent or zero — no
    * fabricated baselines, no ANSI divide crash). Exact-alignment
    * semantics: recording rules emit on a fixed cadence, so the offset
    * grid is the series' own grid.
    *
    * Shape at 100 TB: ONE series-keyed window with a point-range frame
    * ([−offset, −offset] on the µs axis) — no self-join, no second
    * exchange; the replay dedup rides the same series partitioning.
    * Ties (two samples on one µs) collapse via max — deterministic. */
  def offsetCompare(sums: DataFrame, offsetSec: Long): DataFrame = {
    require(offsetSec > 0, "offsetSec must be positive")
    val offUs = offsetSec * 1000000L
    val w = Window.partitionBy(seriesKey: _*)
      .orderBy(unix_micros(col("time_unix_nano")))
      .rangeBetween(-offUs, -offUs)
    valued(Replay.dedupWithin(sums, seriesKey), "value")
      .withColumn("offset_value", max(col("value")).over(w))
      .withColumn("ratio", when(col("offset_value") =!= 0,
        round(col("value") / col("offset_value"), 6)))
  }

  /** PromQL `irate()`: the INSTANT rate — per series, the per-second
    * rate between its LAST TWO points only (the volatile-counter
    * dashboard primitive: `rate` averages a window, `irate` shows the
    * newest movement), with the same counter-reset rule as [[rate]].
    * Single-point series report null. round(6).
    *
    * Shape at 100 TB: one series-keyed window keeps two rows per series
    * before the per-series rollup — both ride the same exchange with
    * the replay dedup; output is the series space. */
  def instantRate(sums: DataFrame): DataFrame =
    lastTwo(sums).groupBy(seriesKey: _*)
      .agg(
        max(when(col("__rn") === 1, col("__v"))).as("__v1"),
        max(when(col("__rn") === 1, unix_micros(col("time_unix_nano"))))
          .as("__t1"),
        max(when(col("__rn") === 2, col("__v"))).as("__v2"),
        max(when(col("__rn") === 2, unix_micros(col("time_unix_nano"))))
          .as("__t2"),
        max(when(col("__rn") === 1, col("time_unix_nano"))).as("last_time"),
        max(coalesce(col("is_monotonic"), lit(false))).as("__mono"))
      .withColumn("irate_per_sec",
        // single-point series have no pair; a same-microsecond pair (two
        // distinct points deduped to adjacent ranks) must yield null,
        // not a divide-by-zero
        when(col("__t2").isNull || col("__t1") === col("__t2"), lit(null))
          .otherwise(round(
            when(col("__mono") && col("__v1") < col("__v2"), col("__v1"))
              .otherwise(col("__v1") - col("__v2")) /
              ((col("__t1") - col("__t2")).cast("double") / lit(1e6)), 6)))
      .select(seriesKey :+ col("last_time") :+ col("irate_per_sec"): _*)

  /** Each series' newest two deduped points, `__rn` 1 (newest) and 2 —
    * the one window [[instantRate]] and [[idelta]] share. */
  private def lastTwo(points: DataFrame): DataFrame = {
    val w = Window.partitionBy(seriesKey: _*)
      .orderBy(col("time_unix_nano").desc, pointValue.desc)
    valued(Replay.dedupWithin(points, seriesKey))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= 2)
  }

  /** PromQL `idelta()`: per series, the raw difference between its LAST
    * TWO points — [[instantRate]]'s gauge sibling: no per-second
    * normalization and NO counter-reset rule (a drop is a real gauge
    * movement, not a restart). Single-point series report null. round(6).
    *
    * Shape at 100 TB: identical to [[instantRate]] — one series-keyed
    * window keeps two rows per series, replay dedup rides the same
    * exchange, output is the series space. */
  def idelta(points: DataFrame): DataFrame =
    lastTwo(points).groupBy(seriesKey: _*)
      .agg(
        max(when(col("__rn") === 1, col("__v"))).as("__v1"),
        max(when(col("__rn") === 2, col("__v"))).as("__v2"),
        max(when(col("__rn") === 1, col("time_unix_nano"))).as("last_time"))
      .withColumn("idelta_value",
        when(col("__v2").isNull, lit(null))
          .otherwise(round(col("__v1") - col("__v2"), 6)))
      .select(seriesKey :+ col("last_time") :+ col("idelta_value"): _*)

  /** PromQL `absent()` strict form: of an EXPECTED metric-name list
    * (the alert rules' domain — PromQL evaluates absent() per rule
    * expression), the names with NO series at all in the frame, value 1
    * per PromQL's convention. Complements [[staleSeries]] (series that
    * died) and [[gapReport]] (series that blipped): this is the metric
    * that never arrived.
    *
    * Shape at 100 TB: observed names collapse to a partial-agg distinct
    * (name-space-sized); the expected list is a plan literal — the join
    * is tiny × tiny. */
  def absentMetrics(points: DataFrame, expected: Seq[String]): DataFrame = {
    require(expected.nonEmpty, "absentMetrics needs expected names")
    val spark = points.sparkSession
    import spark.implicits._
    val exp = expected.toDF("name")
    val observed = points.select(col("name")).where(col("name").isNotNull)
      .distinct()
    exp.join(observed, Seq("name"), "left_anti")
      .withColumn("value", lit(1))
  }

  /** Staleness / absence report (PromQL `absent()` as a table): series
    * whose LAST point is older than `stalenessSec` before `asOf` — the
    * scrape-died / exporter-wedged detector. Reports each stale series'
    * full identity, last timestamp and value, point count, and age in
    * seconds at `asOf`. The max aggregates are replay-insensitive but
    * n_points is not, so the replay dedup rides the one series-keyed
    * exchange like every operator here.
    *
    * Shape at 100 TB: ONE partial-agg groupBy on the series key — the
    * scan collapses map-side to one row per series; output is the
    * (stale) series space. */
  def staleSeries(sums: DataFrame, asOf: java.sql.Timestamp,
                  stalenessSec: Long = 300): DataFrame = {
    require(stalenessSec > 0, "stalenessSec must be positive")
    Replay.dedupWithin(sums, seriesKey)
      .withColumn("__v", pointValue)
      .groupBy(seriesKey: _*)
      .agg(max(col("time_unix_nano")).as("last_time"),
        max(struct(col("time_unix_nano").as("t"), col("__v").as("v")))
          .getField("v").as("last_value"),
        count(lit(1)).as("n_points"))
      .withColumn("age_s",
        floor((unix_micros(lit(asOf)) - unix_micros(col("last_time"))) /
          lit(1000000L)).cast("long"))
      .where(col("age_s") > stalenessSec)
  }

  /** Scrape-GAP report (PromQL `absent_over_time` as a table): per
    * series, the aligned windows between its first and last point that
    * contain NO points — the mid-life scrape-failure detector
    * complementing [[staleSeries]]'s end-of-life view (a series that
    * died reports there; a series that BLIPPED reports here). Reports
    * each missing (series, window_start).
    *
    * Shape at 100 TB: one series-keyed partial agg to a series-sized
    * span frame, whose per-series window sequence explodes to the
    * expected grid (bounded by retention/windowSec — the downsampled
    * cardinality), anti-joined to the observed (series, window) set on
    * uniform composite keys. The corpus never self-joins. */
  def gapReport(sums: DataFrame, windowSec: Long = 60): DataFrame = {
    require(windowSec > 0, "windowSec must be positive")
    val wStart = Replay.windowStart(col("time_unix_nano"), windowSec)
    val observed = sums.where(pointValue.isNotNull)
      .select(seriesKey :+ wStart.as("window_start"): _*)
      .groupBy(seriesKey :+ col("window_start"): _*)
      .agg(count(lit(1)).as("__n"))
      .drop("__n")
    val span = observed.groupBy(seriesKey: _*)
      .agg(min(col("window_start")).as("__lo"),
        max(col("window_start")).as("__hi"))
    val expected = span.select(seriesKey :+ explode(expr(
        s"sequence(__lo, __hi, interval $windowSec seconds)"))
        .as("window_start"): _*)
      .alias("e")
    // null-SAFE key equality: series label columns are legitimately null
    // (no namespace, no instance id) and a plain equi-join would never
    // match them — every window would report "missing"
    val cond = (seriesKeyNames :+ "window_start")
      .map(c => col(s"e.$c") <=> col(s"o.$c")).reduce(_ && _)
    expected.join(observed.alias("o"), cond, "left_anti")
  }

  /** Aggregate explicit-bucket histogram points ACROSS series/time before
    * taking a quantile — PromQL's `histogram_quantile(sum by (le) (...))`
    * shape: bucket counts sum ELEMENTWISE within each (kept labels,
    * bucket-layout) group, so the quantile describes the whole group's
    * distribution, not one point's. Grouping includes `explicit_bounds`
    * itself: histograms with different bucket layouts must never merge
    * (their counts are not addable) — each layout aggregates separately,
    * which is also Prometheus's behavior when `le` label sets differ.
    * Feed the result to [[histogramQuantile]].
    *
    * Shape at 100 TB: ONE partial-agg groupBy — the posexplode collapses
    * map-side onto (labels, bounds, bucket index) keys before the
    * exchange, and output cardinality is labels × layouts, not points. */
  def aggregateHistograms(hists: DataFrame,
                          by: Seq[String] = Seq("name")): DataFrame = {
    require(by.nonEmpty, "aggregateHistograms needs at least one label")
    val keys = by.map(col) :+ col("explicit_bounds")
    // dedup keys carry time_unix_nano (when the frame has it): a
    // (name, bounds) partition alone would hold one metric's whole
    // retention in a single task; with time the partitions stay uniform
    // and the exploded partial aggs re-key on exchanges sized by OUTPUT
    // cardinality (labels x layouts x buckets)
    val dedupKeys =
      if (hists.columns.contains("time_unix_nano"))
        keys :+ col("time_unix_nano")
      else keys
    Replay.dedupWithin(hists, dedupKeys)
      .select(keys :+ posexplode(col("bucket_counts")).as(Seq("pos", "cnt")): _*)
      .groupBy(keys :+ col("pos"): _*)
      .agg(sum(col("cnt")).as("csum"), count(lit(1)).as("n_points"))
      .groupBy(keys: _*)
      .agg(expr("transform(array_sort(collect_list(struct(pos, csum))), " +
        "x -> x.csum)").as("bucket_counts"),
        max(col("n_points")).as("n_points"))
  }

  /** Aggregate EXPONENTIAL histogram points across series/time — the
    * OTel exponential-histogram merge (data-model spec: to add two
    * histograms, downscale both to the smaller scale — absolute bucket
    * index i at scale s becomes floor(i / 2^(s−S)) at target scale S,
    * because each coarser bucket is the union of exactly 2^(s−S) finer
    * ones — then sum aligned buckets and zero counts). PromQL's native-
    * histogram `sum by (...)`, and [[aggregateHistograms]]'s sibling for
    * the exp shape, where merging never fails on layout: ANY two scales
    * merge. Output per group: the merged (minimum) scale, summed
    * zero_count, and DENSE positive/negative bucket arrays with their
    * offsets — the exact shape [[expHistogramQuantile]] consumes
    * (composition is oracle-checked).
    *
    * Shape at 100 TB: a labels-sized (min-scale, zero-sum) frame
    * broadcasts back onto the scan; the bucket explode partial-aggregates
    * on (labels, side, downscaled index) — output-cardinality-sized keys,
    * map-side combine — and the final assembly groups per label set.
    * The replay dedup rides the first exchange. */
  def aggregateExpHistograms(hists: DataFrame,
                             by: Seq[String] = Seq("name")): DataFrame = {
    require(by.nonEmpty, "aggregateExpHistograms needs at least one label")
    val keys = by.map(col)
    val dedupKeys =
      if (hists.columns.contains("time_unix_nano"))
        keys :+ col("time_unix_nano")
      else keys
    val base = Replay.dedupWithin(hists, dedupKeys)
    val scales = base.groupBy(keys: _*)
      .agg(min(col("scale")).as("__tgt_scale"),
        sum(coalesce(col("zero_count"), lit(0L))).as("zero_count"),
        count(lit(1)).as("n_points"))
    // one combined struct array per point — {side, absolute index, count}
    // for both bucket polarities — exploded, downscaled (arithmetic floor
    // division by 2^(scale − target): each coarser bucket is the union of
    // exactly that many finer ones), and partial-aggregated per index
    val merged = base.join(broadcast(scales), by)
      .withColumn("__d", col("scale") - col("__tgt_scale"))
      .withColumn("__b", expr(
        """concat(
          |  coalesce(transform(positive_bucket_counts, (c, i) ->
          |    struct(1 AS side, positive_offset + i AS idx, c AS cnt)),
          |    array()),
          |  coalesce(transform(negative_bucket_counts, (c, i) ->
          |    struct(-1 AS side, negative_offset + i AS idx, c AS cnt)),
          |    array()))""".stripMargin))
      .select((keys :+ explode(col("__b")).as("e") :+ col("__d")): _*)
      .select((keys :+ col("e.side").as("__side") :+
        floor(col("e.idx").cast("double") / pow(lit(2.0), col("__d")))
          .cast("int").as("__idx") :+ col("e.cnt").as("__cnt")): _*)
      .groupBy(keys :+ col("__side") :+ col("__idx"): _*)
      .agg(sum(col("__cnt")).as("__csum"))
    // dense per-side assembly: sparse (index, count) entries become the
    // offset + contiguous bucket array the exp-histogram readers emit and
    // expHistogramQuantile consumes (absent indices fill with 0)
    def denseSide(side: Int, offCol: String, bucketsCol: String) = {
      def entries(inner: String) = expr(
        s"transform(filter(__entries, x -> x.side = $side), x -> $inner)")
      val lo = array_min(entries("x.idx"))
      val hi = array_max(entries("x.idx"))
      val m = map_from_entries(entries("struct(x.idx, x.csum)"))
      (coalesce(lo, lit(0)).as(offCol),
        when(lo.isNull, expr("array()").cast("array<bigint>"))
          .otherwise(transform(sequence(lo, hi),
            i => coalesce(try_element_at(m, i), lit(0L))))
          .as(bucketsCol))
    }
    val assembled = merged
      .groupBy(keys: _*)
      .agg(collect_list(struct(col("__side").as("side"),
        col("__idx").as("idx"), col("__csum").as("csum"))).as("__entries"))
    val (pOff, pArr) = denseSide(1, "positive_offset",
      "positive_bucket_counts")
    val (nOff, nArr) = denseSide(-1, "negative_offset",
      "negative_bucket_counts")
    // LEFT join from scales: a group whose points carry only zero-bucket
    // mass (no positive/negative entries anywhere) has no `assembled` row
    // but must still emit its zero_count/scale — denseSide's null handling
    // yields offset 0 + empty arrays for the bucket-less sides
    scales.join(assembled, by, "left")
      .select((keys :+ col("__tgt_scale").as("scale") :+ col("zero_count") :+
        pOff :+ pArr :+ nOff :+ nArr :+ col("n_points")): _*)
  }

  /** Histogram quantile per data point (PromQL `histogram_quantile` over
    * one point): linear interpolation within the first bucket whose
    * cumulative count reaches q·total, with the Prometheus conventions —
    * the first bucket interpolates from 0, and a quantile landing in the
    * +Inf bucket reports the highest finite bound. Empty histograms and
    * single-bucket histograms (no finite bound to report) return null.
    * round(6) for engine portability.
    *
    * MAP-ONLY: the whole walk is array expressions over the row's own
    * bucket_counts/explicit_bounds (bucket counts are small — the O(n²)
    * cumulative build is ~dozens of adds per point); no shuffle, no
    * state, streaming-composable. Staged projections keep each lambda
    * tree a single evaluation. */
  def histogramQuantile(hists: DataFrame, q: Double,
                        outCol: String = "quantile"): DataFrame = {
    require(q > 0.0 && q <= 1.0, s"quantile out of (0,1]: $q")
    val b = col("explicit_bounds")
    val idx = col("__idx")
    val lo = when(idx === 1, lit(0.0)).otherwise(element_at(b, idx - 1))
    val hi = element_at(b, idx)
    val cumPrev = when(idx === 1, lit(0.0))
      .otherwise(element_at(col("__cums"), idx - 1))
    val cnt = element_at(col("bucket_counts"), idx).cast("double")
    hists
      .withColumn("__cums", expr(
        """transform(sequence(1, size(bucket_counts)),
          |  i -> aggregate(slice(bucket_counts, 1, i),
          |    CAST(0 AS DOUBLE), (a, x) -> a + x))""".stripMargin))
      // aggregate, not element_at(cums, size): an EMPTY bucket array would
      // make that element_at(arr, 0) — an ANSI-mode runtime error
      .withColumn("__total", coalesce(expr(
        "aggregate(bucket_counts, CAST(0 AS DOUBLE), (a, x) -> a + x)"),
        lit(0.0)))
      .withColumn("__target", col("__total") * lit(q))
      .withColumn("__idx",
        expr("size(filter(__cums, x -> x < __target))") + 1)
      .withColumn(outCol,
        when(col("bucket_counts").isNull || col("__total") <= 0, lit(null))
          // a single-bucket histogram (no finite bound at all) has no
          // quantile to report — and element_at(b, 0) would throw
          .when(size(b) === 0, lit(null))
          .when(idx > size(b), element_at(b, size(b)))
          .otherwise(round(
            lo + (hi - lo) * (col("__target") - cumPrev) / cnt, 6)))
      .drop("__cums", "__total", "__target", "__idx")
  }

  /** Histogram spread per data point (PromQL `histogram_stddev` /
    * `histogram_stdvar` for classic buckets): bucket-midpoint moments —
    * mid of bucket i is (bound[i-1]+bound[i])/2, the first bucket
    * interpolates from 0 ([[histogramQuantile]]'s convention) — unless
    * its bound is NEGATIVE (delta/temperature metrics), where "from 0"
    * would place the mid ABOVE the bucket's upper edge, so the bound
    * itself stands in; the +Inf
    * bucket uses the last finite bound; mean/variance weight mids by
    * bucket counts. The "is this latency tight or bimodal-wide" panel
    * next to the quantile. Empty or bound-less points null; round(6).
    * MAP-ONLY array expressions, streaming-composable. */
  def histogramStddev(hists: DataFrame): DataFrame = {
    // the bound-less CASE arm guards the +Inf branch: try_element_at
    // still throws on index 0, so an empty bounds array needs its own
    // null arm before any element access
    val mids = expr(
      """transform(sequence(1, size(bucket_counts)),
        |  i -> CASE WHEN size(explicit_bounds) = 0 THEN NULL
        |       WHEN i > size(explicit_bounds)
        |         THEN try_element_at(explicit_bounds, size(explicit_bounds))
        |       WHEN i = 1 THEN CASE
        |         WHEN try_element_at(explicit_bounds, 1) < 0
        |           THEN try_element_at(explicit_bounds, 1)
        |         ELSE try_element_at(explicit_bounds, 1) / 2 END
        |       ELSE (try_element_at(explicit_bounds, i - 1)
        |             + try_element_at(explicit_bounds, i)) / 2 END)""".stripMargin)
    val total = coalesce(expr(
      "aggregate(bucket_counts, CAST(0 AS DOUBLE), (a, x) -> a + x)"),
      lit(0.0))
    hists
      .withColumn("__mids", mids)
      .withColumn("__total", total)
      .withColumn("__mean", when(col("__total") > 0, expr(
        """aggregate(zip_with(bucket_counts, __mids, (c, m) -> c * m),
          |  CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin) /
        col("__total")))
      .withColumn("stdvar",
        when(col("__total") <= 0 || size(col("explicit_bounds")) === 0,
          lit(null))
          .otherwise(round(expr(
            """aggregate(zip_with(bucket_counts, __mids,
              |  (c, m) -> c * (m - __mean) * (m - __mean)),
              |  CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin) /
            col("__total"), 6)))
      .withColumn("stddev", round(sqrt(col("stdvar")), 6))
      .drop("__mids", "__total", "__mean")
  }

  /** Fraction of observations at or below `x` (PromQL
    * `histogram_fraction(-Inf, x, ...)` for classic buckets) — the
    * SLO-compliance complement of [[histogramQuantile]]: "what share of
    * requests met the 60 ms target" instead of "what is p99". Linear
    * interpolation inside the bucket containing `x` (first bucket from 0,
    * the quantile twin's convention); `x` at or past the last finite
    * bound reports the finite mass's share (the +Inf bucket cannot be
    * interpolated); empty histograms null. round(6).
    *
    * MAP-ONLY like [[histogramQuantile]] — array expressions over each
    * row's own buckets, no shuffle, streaming-composable. */
  def histogramFraction(hists: DataFrame, x: Double,
                        outCol: String = "fraction"): DataFrame = {
    require(!x.isNaN && !x.isInfinity, s"x must be finite: $x")
    val b = col("explicit_bounds")
    val idx = col("__fidx")
    val lo = when(idx === 1, lit(0.0)).otherwise(element_at(b, idx - 1))
    val hi = element_at(b, idx)
    val cumPrev = when(idx === 1, lit(0.0))
      .otherwise(element_at(col("__cums"), idx - 1))
    val cnt = element_at(col("bucket_counts"), idx).cast("double")
    // in-bucket share of x, clamped to [0,1]: an x below the bucket's
    // floor (incl. x < 0 under the zero-anchored first bucket) contributes
    // nothing — checked BEFORE the zero-width rule, which otherwise
    // credits the full bucket for an x the bucket doesn't reach; a
    // zero-width edge (first bound exactly 0) at or below x counts fully
    val fracIn = when(lit(x) < lo, lit(0.0))
      .when(hi === lo, lit(1.0))
      .otherwise(greatest(lit(0.0), least(lit(1.0),
        (lit(x) - lo) / (hi - lo))))
    hists
      .withColumn("__cums", expr(
        """transform(sequence(1, size(bucket_counts)),
          |  i -> aggregate(slice(bucket_counts, 1, i),
          |    CAST(0 AS DOUBLE), (a, x) -> a + x))""".stripMargin))
      .withColumn("__total", coalesce(expr(
        "aggregate(bucket_counts, CAST(0 AS DOUBLE), (a, x) -> a + x)"),
        lit(0.0)))
      .withColumn("__fidx",
        expr(s"size(filter(explicit_bounds, e -> e < ${x}d))") + 1)
      .withColumn(outCol,
        when(col("bucket_counts").isNull || col("__total") <= 0, lit(null))
          .when(size(b) === 0, lit(null))
          .when(idx > size(b),
            round(element_at(col("__cums"), size(b)) / col("__total"), 6))
          .otherwise(round(
            (cumPrev + cnt * fracIn) / col("__total"), 6)))
      .drop("__cums", "__total", "__fidx")
  }

  /** Quantile over EXPONENTIAL histogram points (OTel base-2 buckets:
    * positive bucket j covers (base^j, base^(j+1)] with
    * base = 2^(2^-scale); negative bucket j covers the mirrored range
    * [−base^(j+1), −base^j)): rank q·total over negative buckets + zero
    * bucket + positive buckets in ascending value order — negative
    * buckets walk from the HIGHEST index down (most negative values
    * first), then zero, then positive ascending. Interpolation is
    * log-linear in the exponent on both sides, respecting the buckets'
    * uniform-in-log-space design: a positive hit reports
    * 2^((offset + i + frac) / 2^scale); a negative hit mirrors —
    * the exponent descends through the bucket as rank ascends, so
    * value = −2^((offset + i + 1 − frac) / 2^scale) (VERDICT r10 #6 —
    * the former null-for-negative-mass divergence is closed). A target
    * inside the zero bucket reports 0; empty histograms null. round(6).
    *
    * MAP-ONLY, like [[histogramQuantile]]. */
  def expHistogramQuantile(hists: DataFrame, q: Double,
                           outCol: String = "quantile"): DataFrame = {
    require(q > 0.0 && q <= 1.0, s"quantile out of (0,1]: $q")
    val zero = coalesce(col("zero_count"), lit(0L)).cast("double")
    val scaleDiv = pow(lit(2.0), col("scale"))
    val negMass = col("__negmass")
    // positive walk: rank offset by everything below (neg mass + zero)
    val idx = col("__idx")
    val cumPrev = negMass + zero +
      when(idx === 1, lit(0.0)).otherwise(element_at(col("__cums"), idx - 1))
    val cnt = element_at(col("positive_bucket_counts"), idx).cast("double")
    val exponent = col("positive_offset") + (idx - 1).cast("double") +
      (col("__target") - cumPrev) / cnt
    // negative walk: __rcums cumulates the REVERSED negative array (most
    // negative bucket first = ascending value order); ridx-th reversed
    // slot maps back to 1-based array slot n - ridx + 1 (0-based bucket
    // position i = n - ridx), and the exponent interpolates DOWNWARD from
    // offset+i+1 to offset+i as rank ascends through the bucket
    val nNeg = size(col("negative_bucket_counts"))
    val ridx = col("__ridx")
    val negCumPrev =
      when(ridx === 1, lit(0.0)).otherwise(element_at(col("__rcums"), ridx - 1))
    val negCnt =
      element_at(col("negative_bucket_counts"), nNeg - ridx + 1).cast("double")
    val negExponent = col("negative_offset") + (nNeg - ridx).cast("double") +
      lit(1.0) - (col("__target") - negCumPrev) / negCnt
    hists
      .withColumn("__negmass", coalesce(expr(
        "aggregate(negative_bucket_counts, CAST(0 AS DOUBLE), (a, x) -> a + x)"),
        lit(0.0)))
      .withColumn("__rcums", expr(
        """transform(sequence(1, size(negative_bucket_counts)),
          |  k -> aggregate(slice(reverse(negative_bucket_counts), 1, k),
          |    CAST(0 AS DOUBLE), (a, x) -> a + x))""".stripMargin))
      .withColumn("__cums", expr(
        """transform(sequence(1, size(positive_bucket_counts)),
          |  i -> aggregate(slice(positive_bucket_counts, 1, i),
          |    CAST(0 AS DOUBLE), (a, x) -> a + x))""".stripMargin))
      .withColumn("__total", col("__negmass") + zero + coalesce(expr(
        "aggregate(positive_bucket_counts, CAST(0 AS DOUBLE), (a, x) -> a + x)"),
        lit(0.0)))
      .withColumn("__target", col("__total") * lit(q))
      .withColumn("__idx",
        expr("""size(filter(__cums, x -> x < __target - __negmass -
          |  coalesce(CAST(zero_count AS DOUBLE), CAST(0 AS DOUBLE))))""".stripMargin) + 1)
      .withColumn("__ridx",
        expr("size(filter(__rcums, x -> x < __target))") + 1)
      .withColumn(outCol,
        when(col("__total") <= 0, lit(null))
          // negative fp clamp (mirror of the positive idx>size branch): if
          // summation rounding pushes __target past the last reversed
          // cumulative, the quantile is the negative range's least-negative
          // edge, −2^(offset / 2^scale)
          .when(col("__target") <= negMass && ridx > nNeg,
            round(-pow(lit(2.0), col("negative_offset") / scaleDiv), 6))
          .when(col("__target") <= negMass,
            round(-pow(lit(2.0), negExponent / scaleDiv), 6))
          .when(col("__target") <= negMass + zero, lit(0.0))
          // fp clamp (the explicit-bucket twin's idx>size branch): when
          // counts get large enough that (negmass + zero + Σpc) rounds UP,
          // __target can exceed the last cumulative and idx lands at
          // len+1 — an ANSI out-of-bounds element_at. The quantile is then
          // the top bucket's upper bound, 2^((offset + len) / 2^scale).
          .when(idx > size(col("positive_bucket_counts")),
            round(pow(lit(2.0),
              (col("positive_offset") +
                size(col("positive_bucket_counts")).cast("double")) /
                scaleDiv), 6))
          .otherwise(round(pow(lit(2.0), exponent / scaleDiv), 6)))
      .drop("__negmass", "__rcums", "__cums", "__total", "__target",
        "__idx", "__ridx")
  }
}
