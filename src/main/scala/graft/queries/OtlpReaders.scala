package graft.queries

import graft.{Otlp, QSpec}
import graft.QSpec._
import org.apache.spark.sql.functions._

/** The OTLP reader surface exposed as registry queries, each with a real
  * DuckDB oracle that `read_json`s the SAME JSONL fixture and recomputes the
  * flattening (µs timestamps, lowercase hex ids, sorted-key compact attribute
  * JSON) — so the driver hash-checks values, not just row counts.
  *
  * Timestamps are projected through date_format/strftime to a µs string on
  * BOTH sides: the comparator equates values after a column sort, and a
  * string sidesteps tz-aware-vs-naive datetime mismatches between Spark
  * parquet and DuckDB arrow output. Array columns (histogram buckets) are
  * joined to csv strings for the same reason — the driver's sorter cannot
  * hash numpy arrays.
  *
  * Deeper value-level goldens (every column, nulls, proto/OTAP parity) live
  * in OtlpReaderSpec/OtlpProtoSpec/OtapReaderSpec. Fixture paths are
  * absolute because the driver runs Verify from its own working directory. */
object OtlpReaders {
  private val fx = "/root/repo/src/test/resources/otlp"

  private val TsFmtSpark = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  private val TsFmtDuck = "%Y-%m-%d %H:%M:%S.%f"

  /** DuckDB STRUCT type text of an OTLP attribute list whose values are
    * strings or ints (all these fixtures use). */
  private val AttrsT =
    """STRUCT("key" VARCHAR, "value" STRUCT(stringValue VARCHAR, intValue VARCHAR))[]"""

  /** DuckDB: attribute list -> compact key-sorted JSON object text, scalars
    * rendered natively (string/number) — mirrors graft.otlp.AttrJson. */
  private def duckAttrs(col: String): String =
    s"""to_json(map_from_entries(list_sort(list_transform($col, kv ->
       |  {k: kv."key", v: CASE WHEN kv."value".stringValue IS NOT NULL
       |                        THEN to_json(kv."value".stringValue)
       |                        ELSE to_json(CAST(kv."value".intValue AS BIGINT)) END}))))::VARCHAR""".stripMargin

  /** DuckDB: service.name out of a resource-attribute list. */
  private def duckService(col: String): String =
    s"""(list_filter($col, a -> a."key" = 'service.name')[1])."value".stringValue"""

  private def duckTs(expr: String): String =
    s"strftime(make_timestamp(CAST($expr AS BIGINT) // 1000), '$TsFmtDuck')"

  private val logsRecT =
    s"""STRUCT(resource STRUCT(attributes $AttrsT),
       |  scopeLogs STRUCT("scope" STRUCT("name" VARCHAR),
       |    logRecords STRUCT(timeUnixNano VARCHAR, severityNumber INTEGER,
       |      severityText VARCHAR, body STRUCT(stringValue VARCHAR),
       |      attributes $AttrsT, traceId VARCHAR, spanId VARCHAR)[])[])[]""".stripMargin

  private def logsFlat(path: String): String =
    s"""SELECT rl.resource AS res, lr.*
       |FROM read_json('$path', format='newline_delimited',
       |       columns={resourceLogs: '$logsRecT'}),
       |  unnest(resourceLogs) AS a(rl),
       |  unnest(rl.scopeLogs) AS b(sl),
       |  unnest(sl.logRecords) AS c(lr)""".stripMargin

  private val spansRecT =
    s"""STRUCT(resource STRUCT(attributes $AttrsT),
       |  scopeSpans STRUCT("scope" STRUCT("name" VARCHAR),
       |    spans STRUCT(traceId VARCHAR, spanId VARCHAR, parentSpanId VARCHAR,
       |      "name" VARCHAR, kind INTEGER, startTimeUnixNano VARCHAR,
       |      endTimeUnixNano VARCHAR, attributes $AttrsT,
       |      status STRUCT(code INTEGER, message VARCHAR))[])[])[]""".stripMargin

  /** Span record type WITH events (the exception-report query's fixture
    * carries span events; the shared spansRecT omits them). */
  private val spansEvT =
    s"""STRUCT(resource STRUCT(attributes $AttrsT),
       |  scopeSpans STRUCT("scope" STRUCT("name" VARCHAR),
       |    spans STRUCT(traceId VARCHAR, spanId VARCHAR, "name" VARCHAR,
       |      events STRUCT(timeUnixNano VARCHAR, "name" VARCHAR,
       |        attributes $AttrsT)[])[])[])[]""".stripMargin

  /** Span record type WITH kind/attributes/links (the http_traces
    * fixture; the shared spansRecT omits links). */
  private val spansLinksT =
    s"""STRUCT(resource STRUCT(attributes $AttrsT),
       |  scopeSpans STRUCT("scope" STRUCT("name" VARCHAR),
       |    spans STRUCT(traceId VARCHAR, spanId VARCHAR, "name" VARCHAR,
       |      kind INTEGER, startTimeUnixNano VARCHAR,
       |      endTimeUnixNano VARCHAR, attributes $AttrsT,
       |      status STRUCT(code INTEGER),
       |      links STRUCT(traceId VARCHAR, spanId VARCHAR)[])[])[])[]""".stripMargin

  private val metricsRecT =
    s"""STRUCT(resource STRUCT(attributes $AttrsT),
       |  scopeMetrics STRUCT("scope" STRUCT("name" VARCHAR),
       |    metrics STRUCT("name" VARCHAR, description VARCHAR, unit VARCHAR,
       |      gauge STRUCT(dataPoints STRUCT(timeUnixNano VARCHAR,
       |        asInt VARCHAR, asDouble DOUBLE, attributes $AttrsT)[]),
       |      "sum" STRUCT(dataPoints STRUCT(timeUnixNano VARCHAR,
       |        asInt VARCHAR, asDouble DOUBLE, attributes $AttrsT)[],
       |        aggregationTemporality INTEGER, isMonotonic BOOLEAN),
       |      histogram STRUCT(dataPoints STRUCT(timeUnixNano VARCHAR,
       |        count BIGINT, "sum" DOUBLE, bucketCounts BIGINT[],
       |        explicitBounds DOUBLE[], attributes $AttrsT)[],
       |        aggregationTemporality INTEGER),
       |      exponentialHistogram STRUCT(dataPoints STRUCT(timeUnixNano VARCHAR,
       |        count VARCHAR, "sum" DOUBLE, scale INTEGER, zeroCount VARCHAR,
       |        positive STRUCT("offset" INTEGER, bucketCounts VARCHAR[]),
       |        negative STRUCT("offset" INTEGER, bucketCounts VARCHAR[]))[],
       |        aggregationTemporality INTEGER))[])[])[]""".stripMargin

  /** Histogram metric record type WITH exemplars (the exemplar-spans
    * query's fixture; the shared metricsRecT omits them). */
  private val metricsExT =
    s"""STRUCT(resource STRUCT(attributes $AttrsT),
       |  scopeMetrics STRUCT("scope" STRUCT("name" VARCHAR),
       |    metrics STRUCT("name" VARCHAR, unit VARCHAR,
       |      histogram STRUCT(dataPoints STRUCT(timeUnixNano VARCHAR,
       |        count VARCHAR, "sum" DOUBLE, bucketCounts VARCHAR[],
       |        explicitBounds DOUBLE[], attributes $AttrsT,
       |        exemplars STRUCT(timeUnixNano VARCHAR, asDouble DOUBLE,
       |          asInt VARCHAR, traceId VARCHAR, spanId VARCHAR,
       |          filteredAttributes $AttrsT)[])[],
       |        aggregationTemporality INTEGER))[])[])[]""".stripMargin

  private def metricsFlat(path: String): String =
    s"""SELECT rm.resource AS res, mt.*
       |FROM read_json('$path', format='newline_delimited',
       |       columns={resourceMetrics: '$metricsRecT'}),
       |  unnest(resourceMetrics) AS a(rm),
       |  unnest(rm.scopeMetrics) AS b(sm),
       |  unnest(sm.metrics) AS c(mt)""".stripMargin

  val all: Seq[QSpec] = Seq(
    df("otlp_read_logs",
      s"""WITH rec AS (${logsFlat(s"$fx/logs_simple.jsonl")})
         |SELECT ${duckTs("timeUnixNano")} AS time_unix_nano,
         |  ${duckService("res.attributes")} AS service_name,
         |  severityText AS severity_text,
         |  body.stringValue AS body,
         |  lower(traceId) AS trace_id,
         |  ${duckAttrs("attributes")} AS log_attributes
         |FROM rec ORDER BY time_unix_nano""".stripMargin) { (s, _) =>
      Otlp.readLogs(s, s"$fx/logs_simple.jsonl")
        .select(
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("service_name"), col("severity_text"), col("body"),
          col("trace_id"), col("log_attributes"))
        .orderBy("time_unix_nano")
    },

    df("otlp_read_traces",
      s"""WITH rec AS (
         |  SELECT sp.* FROM read_json('$fx/traces_simple.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp))
         |SELECT ${duckTs("startTimeUnixNano")} AS start_time_unix_nano,
         |  lower(traceId) AS trace_id, lower(spanId) AS span_id, "name",
         |  kind,
         |  CAST(endTimeUnixNano AS BIGINT) - CAST(startTimeUnixNano AS BIGINT)
         |    AS duration_time_unix_nano,
         |  status.code AS status_code
         |FROM rec ORDER BY start_time_unix_nano, span_id""".stripMargin) { (s, _) =>
      Otlp.readTraces(s, s"$fx/traces_simple.jsonl")
        .select(
          date_format(col("start_time_unix_nano"), TsFmtSpark).as("start_time_unix_nano"),
          col("trace_id"), col("span_id"), col("name"), col("kind"),
          col("duration_time_unix_nano"), col("status_code"))
        .orderBy("start_time_unix_nano", "span_id")
    },

    df("otlp_read_metrics_gauge",
      s"""WITH m AS (${metricsFlat(s"$fx/metrics_all_types.jsonl")})
         |SELECT ${duckTs("dp.timeUnixNano")} AS time_unix_nano,
         |  m."name" AS "name", dp.asDouble AS double_value,
         |  ${duckAttrs("dp.attributes")} AS metric_attributes
         |FROM m, unnest(m.gauge.dataPoints) AS d(dp)
         |ORDER BY "name"""".stripMargin) { (s, _) =>
      Otlp.readMetricsGauge(s, s"$fx/metrics_all_types.jsonl")
        .select(
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("name"), col("double_value"), col("metric_attributes"))
        .orderBy("name")
    },

    df("otlp_read_metrics_sum",
      s"""WITH m AS (${metricsFlat(s"$fx/metrics_all_types.jsonl")})
         |SELECT ${duckTs("dp.timeUnixNano")} AS time_unix_nano,
         |  m."name" AS "name", CAST(dp.asInt AS BIGINT) AS int_value,
         |  m."sum".aggregationTemporality AS aggregation_temporality,
         |  m."sum".isMonotonic AS is_monotonic
         |FROM m, unnest(m."sum".dataPoints) AS d(dp)
         |ORDER BY "name"""".stripMargin) { (s, _) =>
      Otlp.readMetricsSum(s, s"$fx/metrics_all_types.jsonl")
        .select(
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("name"), col("int_value"), col("aggregation_temporality"),
          col("is_monotonic"))
        .orderBy("name")
    },

    df("otlp_read_metrics_histogram",
      s"""WITH m AS (${metricsFlat(s"$fx/metrics_all_types.jsonl")})
         |SELECT m."name" AS "name", dp.count AS count, dp."sum" AS "sum",
         |  array_to_string(dp.bucketCounts, ',') AS bucket_counts,
         |  array_to_string(dp.explicitBounds, ',') AS explicit_bounds,
         |  m.histogram.aggregationTemporality AS aggregation_temporality
         |FROM m, unnest(m.histogram.dataPoints) AS d(dp)
         |ORDER BY "name"""".stripMargin) { (s, _) =>
      Otlp.readMetricsHistogram(s, s"$fx/metrics_all_types.jsonl")
        .select(col("name"), col("count"), col("sum"),
          array_join(col("bucket_counts").cast("array<string>"), ",").as("bucket_counts"),
          array_join(col("explicit_bounds").cast("array<string>"), ",").as("explicit_bounds"),
          col("aggregation_temporality"))
        .orderBy("name")
    },

    df("otlp_read_metrics_exp_histogram",
      s"""WITH m AS (${metricsFlat(s"$fx/metrics_all_types.jsonl")})
         |SELECT m."name" AS "name", CAST(dp.count AS BIGINT) AS count,
         |  dp.scale AS scale, CAST(dp.zeroCount AS BIGINT) AS zero_count,
         |  dp.positive."offset" AS positive_offset,
         |  array_to_string(dp.positive.bucketCounts, ',') AS positive_bucket_counts,
         |  dp.negative."offset" AS negative_offset,
         |  array_to_string(dp.negative.bucketCounts, ',') AS negative_bucket_counts
         |FROM m, unnest(m.exponentialHistogram.dataPoints) AS d(dp)
         |ORDER BY "name"""".stripMargin) { (s, _) =>
      Otlp.readMetricsExpHistogram(s, s"$fx/metrics_all_types.jsonl")
        .select(col("name"), col("count"), col("scale"), col("zero_count"),
          col("positive_offset"),
          array_join(col("positive_bucket_counts").cast("array<string>"), ",").as("positive_bucket_counts"),
          col("negative_offset"),
          array_join(col("negative_bucket_counts").cast("array<string>"), ",").as("negative_bucket_counts"))
        .orderBy("name")
    },

    // aggregation over a reader scan: the minimum end-to-end slice widened
    df("otlp_logs_severity_rollup",
      s"""WITH rec AS (${logsFlat(s"$fx/logs_simple.jsonl")})
         |SELECT ${duckService("res.attributes")} AS service_name,
         |  severityText AS severity_text, count(*) AS cnt
         |FROM rec GROUP BY 1, 2 ORDER BY service_name, severity_text""".stripMargin) { (s, _) =>
      Otlp.readLogs(s, s"$fx/logs_simple.jsonl")
        .groupBy("service_name", "severity_text")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("service_name", "severity_text")
    },

    // per-trace span-tree rollup (beyond-reference surface): depth, forest
    // detection, critical path — the Spark side walks ancestors with
    // pointer doubling, the oracle with an exact recursive CTE
    df("otlp_trace_tree",
      s"""WITH RECURSIVE rec AS (
         |  SELECT sp.* FROM read_json('$fx/tree_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT lower(traceId) AS t, lower(spanId) AS s,
         |  lower(parentSpanId) AS p,
         |  CAST(endTimeUnixNano AS BIGINT) - CAST(startTimeUnixNano AS BIGINT)
         |    AS dur FROM rec),
         |norm AS (SELECT sp.t, sp.s,
         |  CASE WHEN q.s IS NULL THEN NULL ELSE sp.p END AS np, sp.dur,
         |  q.s IS NULL AS is_root
         |  FROM sp LEFT JOIN sp q ON q.t = sp.t AND q.s = sp.p),
         |walk AS (
         |  SELECT t, s, np AS anc,
         |    CASE WHEN np IS NULL THEN 0 ELSE 1 END AS d, dur AS w FROM norm
         |  UNION ALL
         |  SELECT w.t, w.s, n2.np,
         |    w.d + CASE WHEN n2.np IS NULL THEN 0 ELSE 1 END, w.w + n2.dur
         |  FROM walk w JOIN norm n2 ON n2.t = w.t AND n2.s = w.anc),
         |fin AS (SELECT t, s, d, w FROM walk WHERE anc IS NULL),
         |r AS (SELECT t,
         |  CAST(sum(CASE WHEN is_root THEN 1 ELSE 0 END) AS BIGINT) AS n_roots,
         |  CAST(sum(dur) AS BIGINT) AS total_span_ns FROM norm GROUP BY t),
         |f AS (SELECT t, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(max(d) AS INT) AS max_depth,
         |  CAST(max(w) AS BIGINT) AS critical_path_ns FROM fin GROUP BY t)
         |SELECT f.t AS trace_id, n_spans, n_roots, max_depth,
         |  critical_path_ns, total_span_ns, TRUE AS converged
         |FROM f JOIN r ON r.t = f.t ORDER BY trace_id""".stripMargin) { (s, _) =>
      graft.operators.Traces.traceTree(
          Otlp.readTraces(s, s"$fx/tree_traces.jsonl"))
        .orderBy("trace_id")
    },

    // service dependency graph (beyond-reference surface): the tracing-UI
    // map as a table — parent-resolved cross/same-service call edges
    df("otlp_service_graph",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/services_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT lower(traceId) AS t, lower(spanId) AS s,
         |  lower(parentSpanId) AS p, ${duckService("res.attributes")} AS svc,
         |  status.code AS code,
         |  CAST(endTimeUnixNano AS BIGINT) - CAST(startTimeUnixNano AS BIGINT)
         |    AS dur FROM rec),
         |e AS (SELECT pa.svc AS caller_service, ch.svc AS callee_service,
         |  ch.code AS code, ch.dur
         |  FROM sp ch JOIN sp pa ON pa.t = ch.t AND pa.s = ch.p)
         |SELECT caller_service, callee_service,
         |  CAST(count(*) AS BIGINT) AS n_calls,
         |  CAST(sum(CASE WHEN code = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_errors,
         |  CAST(sum(dur) AS BIGINT) AS total_callee_ns
         |FROM e GROUP BY caller_service, callee_service
         |ORDER BY caller_service, callee_service""".stripMargin) { (s, _) =>
      graft.operators.Traces.serviceGraph(
          Otlp.readTraces(s, s"$fx/services_traces.jsonl"))
        .orderBy("caller_service", "callee_service")
    },

    // weighted PageRank over the service graph (d=0.85, 2 rounds from the
    // uniform start): the blast-radius ranking beside the raw call
    // counts; per-node inflow folds in sorted caller order and rounds(6)
    // each round so both engines agree bit-for-bit
    df("otlp_service_centrality",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/services_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT lower(traceId) AS t, lower(spanId) AS s,
         |  lower(parentSpanId) AS p, ${duckService("res.attributes")} AS svc
         |  FROM rec),
         |e AS (SELECT pa.svc AS src, ch.svc AS dst, count(*) AS w
         |  FROM sp ch JOIN sp pa ON pa.t = ch.t AND pa.s = ch.p
         |  GROUP BY 1, 2),
         |${DuckOracles.pageRank2("svc")}
         |SELECT svc AS service, rank FROM r2 ORDER BY service""".stripMargin) {
      (s, _) =>
      graft.operators.Traces.serviceCentrality(
          Otlp.readTraces(s, s"$fx/services_traces.jsonl"), iters = 2)
        .orderBy("service")
    },

    // queue delay per service edge: child start − parent start (the wait
    // a duration-only dashboard can't see), exact p50/p95 per edge
    df("otlp_queue_delay",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/services_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT lower(traceId) AS t, lower(spanId) AS s,
         |  lower(parentSpanId) AS p, ${duckService("res.attributes")} AS svc,
         |  CAST(startTimeUnixNano AS BIGINT) // 1000 * 1000 AS st FROM rec),
         |e AS (SELECT pa.svc AS caller_service, ch.svc AS callee_service,
         |  ch.st - pa.st AS d
         |  FROM sp ch JOIN sp pa ON pa.t = ch.t AND pa.s = ch.p)
         |SELECT caller_service, callee_service,
         |  CAST(count(*) AS BIGINT) AS n_calls,
         |  CAST(min(d) AS BIGINT) AS min_delay_ns,
         |  round(quantile_cont(CAST(d AS DOUBLE), 0.5), 4) AS p50_delay_ns,
         |  round(quantile_cont(CAST(d AS DOUBLE), 0.95), 4) AS p95_delay_ns,
         |  CAST(max(d) AS BIGINT) AS max_delay_ns
         |FROM e GROUP BY 1, 2
         |ORDER BY caller_service, callee_service""".stripMargin) { (s, _) =>
      graft.operators.Traces.queueDelay(
          Otlp.readTraces(s, s"$fx/services_traces.jsonl"))
        .orderBy("caller_service", "callee_service")
    },

    // sketch-path queue delay: percentile_approx's mergeable rank sketch
    // bounds per-edge agg state at 100 TB (the exact form buffers a hot
    // edge's full delta set) — sketch values are engine-specific ->
    // rows-only check; the error bound is TracesSpec-pinned vs the
    // exact twin
    noOracle("otlp_queue_delay_approx") { (s, _) =>
      graft.operators.Traces.queueDelayApprox(
          Otlp.readTraces(s, s"$fx/services_traces.jsonl"))
        .orderBy("caller_service", "callee_service")
    },

    // delta -> cumulative temporality conversion for sum metrics: running
    // sums per series in time order; cumulative points pass through
    df("otlp_delta_to_cumulative",
      s"""WITH m AS (${metricsFlat(s"$fx/delta_metrics.jsonl")}),
         |pts AS (SELECT ${duckTs("dp.timeUnixNano")} AS t,
         |  m."name" AS "name", CAST(dp.asInt AS BIGINT) AS iv,
         |  dp.asDouble AS dv,
         |  m."sum".aggregationTemporality AS at,
         |  m."sum".isMonotonic AS mono
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT t AS time_unix_nano, "name",
         |  CASE WHEN at = 1 THEN CAST(sum(iv) OVER (PARTITION BY "name", at
         |    ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    ELSE iv END AS int_value,
         |  CASE WHEN at = 1 THEN sum(dv) OVER (PARTITION BY "name", at
         |    ORDER BY t ROWS UNBOUNDED PRECEDING)
         |    ELSE dv END AS double_value,
         |  CASE WHEN at = 1 THEN 2 ELSE at END AS aggregation_temporality,
         |  mono AS is_monotonic
         |FROM pts ORDER BY "name", t""".stripMargin) { (s, _) =>
      graft.operators.Metrics.deltaToCumulative(
          Otlp.readMetricsSum(s, s"$fx/delta_metrics.jsonl"))
        .select(
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("name"), col("int_value"), col("double_value"),
          col("aggregation_temporality"), col("is_monotonic"))
        .orderBy("name", "time_unix_nano")
    },

    // per-second rate from cumulative sums, with Prometheus counter-reset
    // handling (a monotonic drop = restart; increase = the new value)
    df("otlp_metric_rate",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts AS (SELECT CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  ${duckTs("dp.timeUnixNano")} AS t, m."name" AS "name",
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v,
         |  m."sum".isMonotonic AS mono
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |lagd AS (SELECT *,
         |  lag(v) OVER (PARTITION BY "name" ORDER BY tns) AS pv,
         |  lag(tns) OVER (PARTITION BY "name" ORDER BY tns) AS pt
         |  FROM pts)
         |SELECT t AS time_unix_nano, "name", v AS "value",
         |  round((CASE WHEN mono AND v < pv THEN v ELSE v - pv END) /
         |    ((tns // 1000 - pt // 1000) / 1000000.0), 6) AS rate_per_sec
         |FROM lagd ORDER BY "name", tns""".stripMargin) { (s, _) =>
      graft.operators.Metrics.rate(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"))
        .select(
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("name"), col("value"), col("rate_per_sec"))
        .orderBy("name", "time_unix_nano")
    },

    // histogram_quantile over each data point: first-bucket-from-0 and
    // +Inf-bucket-reports-max-finite-bound, the Prometheus conventions
    df("otlp_hist_quantile",
      s"""WITH m AS (${metricsFlat(s"$fx/hist_metrics.jsonl")}),
         |pts AS (SELECT ${duckTs("dp.timeUnixNano")} AS t,
         |  m."name" AS "name", dp.bucketCounts AS c, dp.explicitBounds AS b
         |  FROM m, unnest(m.histogram.dataPoints) AS d(dp)),
         |st AS (SELECT t, "name", c, b,
         |  list_transform(generate_series(1, len(c)),
         |    i -> CAST(list_sum(c[1:i]) AS DOUBLE)) AS cums FROM pts),
         |st2 AS (SELECT *, cums[len(cums)] AS total,
         |  cums[len(cums)] * 0.5 AS target FROM st),
         |st3 AS (SELECT *,
         |  len(list_filter(cums, x -> x < target)) + 1 AS idx FROM st2)
         |SELECT t AS time_unix_nano, "name",
         |  CASE WHEN total <= 0 THEN NULL
         |    WHEN idx > len(b) THEN b[len(b)]
         |    ELSE round((CASE WHEN idx = 1 THEN 0.0 ELSE b[idx-1] END)
         |      + (b[idx] - (CASE WHEN idx = 1 THEN 0.0 ELSE b[idx-1] END))
         |        * (target - (CASE WHEN idx = 1 THEN 0.0 ELSE cums[idx-1] END))
         |        / CAST(c[idx] AS DOUBLE), 6) END AS quantile
         |FROM st3 ORDER BY time_unix_nano""".stripMargin) { (s, _) =>
      graft.operators.Metrics.histogramQuantile(
          Otlp.readMetricsHistogram(s, s"$fx/hist_metrics.jsonl"), q = 0.5)
        .select(
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("name"), col("quantile"))
        .orderBy("time_unix_nano")
    },

    // quantile over exponential histograms (base-2 buckets, log-linear
    // interpolation): negative buckets walk highest-index-first (most
    // negative values rank lowest) with the mirrored exponent
    // interpolation, zero-bucket hits report 0, then positive ascending
    df("otlp_exphist_quantile",
      s"""WITH m AS (${metricsFlat(s"$fx/exp_metrics.jsonl")}),
         |pts AS (SELECT ${duckTs("dp.timeUnixNano")} AS t,
         |  m."name" AS "name", dp.scale AS sc,
         |  CAST(dp.zeroCount AS DOUBLE) AS z,
         |  dp.positive."offset" AS poff,
         |  list_transform(dp.positive.bucketCounts,
         |    x -> CAST(x AS DOUBLE)) AS pc,
         |  dp.negative."offset" AS noff,
         |  list_transform(dp.negative.bucketCounts,
         |    x -> CAST(x AS DOUBLE)) AS nc
         |  FROM m, unnest(m.exponentialHistogram.dataPoints) AS d(dp)),
         |st AS (SELECT *, list_transform(generate_series(1, len(pc)),
         |    i -> CAST(list_sum(pc[1:i]) AS DOUBLE)) AS cums,
         |  list_transform(generate_series(1, len(list_reverse(nc))),
         |    k -> CAST(list_sum(list_reverse(nc)[1:k]) AS DOUBLE)) AS rcums,
         |  coalesce(list_sum(nc), 0) AS negmass,
         |  coalesce(list_sum(nc), 0) + z + coalesce(list_sum(pc), 0) AS total
         |  FROM pts),
         |st2 AS (SELECT *, total * 0.5 AS target FROM st),
         |st3 AS (SELECT *,
         |  len(list_filter(cums, x -> x < target - negmass - z)) + 1 AS idx,
         |  len(list_filter(rcums, x -> x < target)) + 1 AS ridx FROM st2)
         |SELECT t AS time_unix_nano, "name",
         |  CASE WHEN total <= 0 THEN NULL
         |    WHEN target <= negmass AND ridx > len(nc)
         |      THEN round(-pow(2.0, noff / pow(2.0, sc)), 6)
         |    WHEN target <= negmass
         |      THEN round(-pow(2.0, (noff + (len(nc) - ridx) + 1
         |        - (target - CASE WHEN ridx = 1 THEN 0.0
         |            ELSE rcums[ridx-1] END) / nc[len(nc) - ridx + 1])
         |        / pow(2.0, sc)), 6)
         |    WHEN target <= negmass + z THEN 0.0
         |    WHEN idx > len(pc)
         |      THEN round(pow(2.0, (poff + len(pc)) / pow(2.0, sc)), 6)
         |    ELSE round(pow(2.0, (poff + (idx - 1)
         |      + (target - (negmass + z + CASE WHEN idx = 1 THEN 0.0
         |          ELSE cums[idx-1] END)) / pc[idx])
         |      / pow(2.0, sc)), 6) END AS quantile
         |FROM st3 ORDER BY time_unix_nano""".stripMargin) { (s, _) =>
      graft.operators.Metrics.expHistogramQuantile(
          Otlp.readMetricsExpHistogram(s, s"$fx/exp_metrics.jsonl"), q = 0.5)
        .select(
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("name"), col("quantile"))
        .orderBy("time_unix_nano")
    },

    // OTel exponential-histogram MERGE: points at different scales
    // downscale to the group minimum (bucket i at scale s -> floor(i/2^d))
    // and sum aligned buckets + zero counts; output rows are the merged
    // dense arrays exploded back to (side, absolute index, count)
    df("otlp_exphist_agg",
      s"""WITH m AS (${metricsFlat(s"$fx/exp_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name", dp.scale AS sc,
         |  CAST(dp.zeroCount AS BIGINT) AS z,
         |  dp.positive."offset" AS poff,
         |  list_transform(dp.positive.bucketCounts,
         |    x -> CAST(x AS BIGINT)) AS pc,
         |  dp.negative."offset" AS noff,
         |  list_transform(dp.negative.bucketCounts,
         |    x -> CAST(x AS BIGINT)) AS nc
         |  FROM m, unnest(m.exponentialHistogram.dataPoints) AS d(dp)),
         |g AS (SELECT "name", min(sc) AS tgt,
         |  CAST(sum(coalesce(z, 0)) AS BIGINT) AS zero_count,
         |  count(*) AS n_points FROM pts GROUP BY "name"),
         |ex AS (
         |  SELECT p."name", 1 AS side, poff + i - 1 AS idx, pc[i] AS cnt,
         |    sc FROM pts p, unnest(generate_series(1, len(pc))) t(i)
         |  UNION ALL
         |  SELECT p."name", -1, noff + i - 1, nc[i], sc
         |  FROM pts p, unnest(generate_series(1, len(nc))) t(i)),
         |ds AS (SELECT ex."name", side,
         |  CAST(floor(idx / pow(2.0, sc - tgt)) AS INT) AS idx, cnt
         |  FROM ex JOIN g ON g."name" = ex."name"),
         |agg AS (SELECT "name", side, idx, CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM ds GROUP BY 1, 2, 3),
         |rng AS (SELECT "name", side, min(idx) AS lo, max(idx) AS hi
         |  FROM agg GROUP BY 1, 2),
         |dense AS (SELECT rng."name", rng.side, i AS idx
         |  FROM rng, unnest(generate_series(lo, hi)) t(i))
         |SELECT d."name", g.tgt AS scale, g.zero_count, g.n_points,
         |  d.side, CAST(d.idx AS INT) AS idx,
         |  CAST(coalesce(a.cnt, 0) AS BIGINT) AS cnt
         |FROM dense d JOIN g ON g."name" = d."name"
         |LEFT JOIN agg a ON a."name" = d."name" AND a.side = d.side
         |  AND a.idx = d.idx
         |ORDER BY d."name", d.side, d.idx""".stripMargin) { (s, _) =>
      graft.operators.Metrics.aggregateExpHistograms(
          Otlp.readMetricsExpHistogram(s, s"$fx/exp_metrics.jsonl"))
        .select(col("name"), col("scale"), col("zero_count"),
          col("n_points"),
          explode(expr(
            """concat(
              |  transform(positive_bucket_counts, (c, i) ->
              |    struct(1 AS side, positive_offset + i AS idx, c AS cnt)),
              |  transform(negative_bucket_counts, (c, i) ->
              |    struct(-1 AS side, negative_offset + i AS idx, c AS cnt))
              |)""".stripMargin)).as("e"))
        .select(col("name"), col("scale"), col("zero_count"),
          col("n_points"), col("e.side").as("side"), col("e.idx").as("idx"),
          col("e.cnt").as("cnt"))
        .orderBy("name", "side", "idx")
    },

    // RED rollup per (service, span name): rate / errors / duration
    df("otlp_red_metrics",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/red_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT ${duckService("res.attributes")} AS svc, "name" AS nm,
         |  status.code AS code,
         |  CAST(endTimeUnixNano AS BIGINT) - CAST(startTimeUnixNano AS BIGINT)
         |    AS dur FROM rec)
         |SELECT svc AS service_name, nm AS span_name,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN code = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
         |  CAST(sum(dur) AS BIGINT) AS total_ns,
         |  CAST(max(dur) AS BIGINT) AS max_ns
         |FROM sp GROUP BY svc, nm ORDER BY service_name, span_name""".stripMargin) {
      (s, _) =>
        graft.operators.Traces.redMetrics(
            Otlp.readTraces(s, s"$fx/red_traces.jsonl"))
          .orderBy("service_name", "span_name")
    },

    // tail-based trace sampling: error traces always kept, slow traces
    // kept, a deterministic hash sample of the clean remainder
    df("otlp_tail_sample",
      s"""WITH rec AS (
         |  SELECT sp.* FROM read_json('$fx/red_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT lower(traceId) AS t, lower(spanId) AS s,
         |  status.code AS code,
         |  CAST(endTimeUnixNano AS BIGINT) - CAST(startTimeUnixNano AS BIGINT)
         |    AS dur FROM rec),
         |v AS (SELECT t, max(CASE WHEN code = 2 THEN 1 ELSE 0 END) AS he,
         |  max(dur) AS mx FROM sp GROUP BY t),
         |k AS (SELECT t, CASE WHEN he = 1 THEN 'error'
         |  WHEN mx >= 1000 THEN 'slow'
         |  WHEN CAST(list_sum(list_transform(generate_series(1, 8),
         |    i -> (strpos('0123456789abcdef',
         |      substring(md5(concat('tail', t)), i, 1)) - 1)
         |      * 16.0 ** (8 - i))) AS DOUBLE) / 4294967296.0 < 0.5
         |    THEN 'sampled' END AS keep_reason FROM v),
         |kk AS (SELECT t, keep_reason FROM k WHERE keep_reason IS NOT NULL)
         |SELECT sp.t AS trace_id, sp.s AS span_id, kk.keep_reason
         |FROM sp JOIN kk ON kk.t = sp.t
         |ORDER BY trace_id, span_id""".stripMargin) { (s, _) =>
      graft.operators.Traces.tailSample(
          Otlp.readTraces(s, s"$fx/red_traces.jsonl"),
          slowNs = 1000L, sampleRate = 0.5)
        .select(col("trace_id"), col("span_id"), col("keep_reason"))
        .orderBy("trace_id", "span_id")
    },

    // HEAD-based probabilistic sampling (the OTel collector policy,
    // tailSample's cheap sibling): a span keeps iff its TRACE id hashes
    // under the rate — per-row filter, no trace aggregation, every span
    // of a trace decided identically
    df("otlp_head_sample",
      s"""WITH rec AS (
         |  SELECT sp.* FROM read_json('$fx/red_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT lower(traceId) AS t, lower(spanId) AS s FROM rec)
         |SELECT t AS trace_id, s AS span_id
         |FROM sp
         |WHERE CAST(list_sum(list_transform(generate_series(1, 8),
         |    i -> (strpos('0123456789abcdef',
         |      substring(md5(concat('head', t)), i, 1)) - 1)
         |      * 16.0 ** (8 - i))) AS DOUBLE) / 4294967296.0 < 0.5
         |ORDER BY trace_id, span_id""".stripMargin) { (s, _) =>
      graft.operators.Traces.headSample(
          Otlp.readTraces(s, s"$fx/red_traces.jsonl"), rate = 0.5)
        .select(col("trace_id"), col("span_id"))
        .orderBy("trace_id", "span_id")
    },

    // PromQL range-vector aggregation: per (series, aligned 120 s window)
    // avg/min/max/last/count — the recording-rule downsampling primitive
    df("otlp_over_time",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |w AS (SELECT "name", tns // 120000000000 * 120 AS wsec, tns, v
         |  FROM pts WHERE v IS NOT NULL),
         |l AS (SELECT *, row_number() OVER (
         |  PARTITION BY "name", wsec ORDER BY tns DESC, v DESC) AS rn FROM w)
         |SELECT "name",
         |  strftime(make_timestamp(wsec * 1000000), '$TsFmtDuck')
         |    AS window_start,
         |  round(avg(v), 6) AS avg_value, min(v) AS min_value,
         |  max(v) AS max_value, max(CASE WHEN rn = 1 THEN v END) AS last_value,
         |  count(*) AS n_points
         |FROM l GROUP BY "name", wsec
         |ORDER BY "name", wsec""".stripMargin) { (s, _) =>
      graft.operators.Metrics.overTime(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"), windowSec = 120)
        .select(col("name"),
          date_format(col("window_start"), TsFmtSpark).as("window_start"),
          col("avg_value"), col("min_value"), col("max_value"),
          col("last_value"), col("n_points"))
        .orderBy("name", "window_start")
    },

    // PromQL increase(): per (series, aligned 120 s window) the sum of
    // positive point deltas, counter resets restarting from the new value
    df("otlp_increase",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v,
         |  m."sum".isMonotonic AS mono
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |lagd AS (SELECT *, lag(v) OVER (PARTITION BY "name"
         |    ORDER BY tns, v) AS pv
         |  FROM pts WHERE v IS NOT NULL),
         |d AS (SELECT "name", tns // 120000000000 * 120 AS wsec,
         |  CASE WHEN pv IS NULL THEN NULL
         |    WHEN mono AND v < pv THEN v ELSE v - pv END AS delta
         |  FROM lagd)
         |SELECT "name",
         |  strftime(make_timestamp(wsec * 1000000), '$TsFmtDuck')
         |    AS window_start,
         |  round(sum(delta), 6) AS increase, count(*) AS n_pairs
         |FROM d WHERE delta IS NOT NULL
         |GROUP BY "name", wsec ORDER BY "name", wsec""".stripMargin) { (s, _) =>
      graft.operators.Metrics.increase(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"), windowSec = 120)
        .select(col("name"),
          date_format(col("window_start"), TsFmtSpark).as("window_start"),
          col("increase"), col("n_pairs"))
        .orderBy("name", "window_start")
    },

    // PromQL quantile by (name): exact cross-replica quantile at each
    // timestamp — "p50 of per-instance QPS right now"
    df("otlp_quantile_by",
      s"""WITH m AS (${metricsFlat(s"$fx/replica_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name", ${duckTs("dp.timeUnixNano")} AS t,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name", t AS time_unix_nano,
         |  round(quantile_cont(v, 0.5), 6) AS "value", count(*) AS n_series
         |FROM pts WHERE v IS NOT NULL
         |GROUP BY "name", t ORDER BY "name", t""".stripMargin) { (s, _) =>
      graft.operators.Metrics.quantileBy(
          Otlp.readMetricsSum(s, s"$fx/replica_metrics.jsonl"), q = 0.5)
        .select(col("name"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("value"), col("n_series"))
        .orderBy("name", "time_unix_nano")
    },

    // top-k slowest spans per service: the exemplar panel next to the
    // percentile profile — rank by duration desc, deterministic tiebreak
    df("otlp_top_slow",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/services_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  lower(traceId) AS trace_id, lower(spanId) AS span_id,
         |  "name" AS span_name,
         |  CAST(endTimeUnixNano AS BIGINT) - CAST(startTimeUnixNano AS BIGINT)
         |    AS dur_ns FROM rec),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY service_name
         |  ORDER BY dur_ns DESC, trace_id, span_id) AS INT) AS rnk FROM sp)
         |SELECT service_name, trace_id, span_id, span_name, dur_ns, rnk
         |FROM r WHERE rnk <= 2
         |ORDER BY service_name, rnk""".stripMargin) { (s, _) =>
      graft.operators.Traces.topSlowSpans(
          Otlp.readTraces(s, s"$fx/services_traces.jsonl"), k = 2)
        .orderBy("service_name", "rnk")
    },

    // error ORIGINATION: an error span with no erroring direct child is
    // where the failure started — the page-this-service report
    df("otlp_error_originators",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/error_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  "name" AS span_name, lower(traceId) AS t, lower(spanId) AS s,
         |  lower(parentSpanId) AS p, status.code AS code FROM rec),
         |err AS (SELECT * FROM sp WHERE code = 2),
         |ec AS (SELECT t AS ct, p AS cp, count(*) AS n FROM err GROUP BY t, p),
         |o AS (SELECT err.service_name, err.span_name,
         |  CASE WHEN ec.n IS NULL THEN 1 ELSE 0 END AS orig
         |  FROM err LEFT JOIN ec ON ec.ct = err.t AND ec.cp = err.s)
         |SELECT service_name, span_name, count(*) AS n_errors,
         |  CAST(sum(orig) AS BIGINT) AS n_originating,
         |  round(sum(orig) / CAST(count(*) AS DOUBLE), 4)
         |    AS origination_ratio
         |FROM o GROUP BY service_name, span_name
         |ORDER BY service_name, span_name""".stripMargin) { (s, _) =>
      graft.operators.Traces.errorOriginators(
          Otlp.readTraces(s, s"$fx/error_traces.jsonl"))
        .orderBy("service_name", "span_name")
    },

    // Apdex per service: satisfied <= T, tolerating <= 4T, frustrated
    // above; score = (satisfied + tolerating/2) / total
    df("otlp_apdex",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/red_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  CAST(endTimeUnixNano AS BIGINT) - CAST(startTimeUnixNano AS BIGINT)
         |    AS dur FROM rec),
         |g AS (SELECT service_name, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN dur <= 50 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS satisfied,
         |  CAST(sum(CASE WHEN dur > 50 AND dur <= 200 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tolerating,
         |  CAST(sum(CASE WHEN dur > 200 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS frustrated
         |  FROM sp GROUP BY service_name)
         |SELECT *, round((satisfied + tolerating / 2.0) / n_spans, 4)
         |  AS apdex
         |FROM g ORDER BY service_name""".stripMargin) { (s, _) =>
      graft.operators.Traces.apdex(
          Otlp.readTraces(s, s"$fx/red_traces.jsonl"), thresholdNs = 50L)
        .orderBy("service_name")
    },

    // SLO error-budget burn rate per (service, aligned window):
    // observed error rate / allowed error rate (1 - SLO target)
    df("otlp_burn_rate",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/red_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  CAST(startTimeUnixNano AS BIGINT) // 300000000000 * 300 AS wsec,
         |  status.code AS code FROM rec),
         |g AS (SELECT service_name, wsec, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN code = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_errors
         |  FROM sp GROUP BY service_name, wsec)
         |SELECT service_name,
         |  strftime(make_timestamp(wsec * 1000000), '$TsFmtDuck')
         |    AS window_start,
         |  n_spans, n_errors,
         |  round(n_errors / CAST(n_spans AS DOUBLE), 6) AS error_rate,
         |  round((n_errors / CAST(n_spans AS DOUBLE)) / 0.01, 4)
         |    AS burn_rate
         |FROM g ORDER BY service_name, wsec""".stripMargin) { (s, _) =>
      graft.operators.Traces.burnRate(
          Otlp.readTraces(s, s"$fx/red_traces.jsonl"),
          sloTarget = 0.99, windowSec = 300)
        .withColumn("window_start",
          date_format(col("window_start"), TsFmtSpark))
        .orderBy("service_name", "window_start")
    },

    // error-budget accounting per service over the whole frame: the
    // period-to-date SLO review table next to the windowed burn rate
    df("otlp_error_budget",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/red_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  status.code AS code FROM rec),
         |g AS (SELECT service_name, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN code = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_errors FROM sp GROUP BY 1)
         |SELECT service_name, n_spans, n_errors,
         |  round(n_errors / CAST(n_spans AS DOUBLE), 6) AS error_rate,
         |  -- (1.0 - 0.99), not the literal 0.01: the Spark side computes
         |  -- 1.0 - sloTarget at runtime and the two constants differ by
         |  -- ~45 ulps — both sides must divide by the SAME double
         |  round((n_errors / CAST(n_spans AS DOUBLE)) / (1.0 - 0.99), 4)
         |    AS budget_used,
         |  round(1.0 - (n_errors / CAST(n_spans AS DOUBLE)) / (1.0 - 0.99), 4)
         |    AS budget_remaining
         |FROM g ORDER BY service_name""".stripMargin) { (s, _) =>
      graft.operators.Traces.errorBudget(
          Otlp.readTraces(s, s"$fx/red_traces.jsonl"), sloTarget = 0.99)
        .orderBy("service_name")
    },

    // multi-window multi-burn alert (SRE workbook ch.5): long-window burn
    // AND the closing short window's burn both over threshold — the
    // short arm makes the page CURRENT
    df("otlp_multiburn",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/slo_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  CAST(startTimeUnixNano AS BIGINT) AS tns,
         |  status.code AS code FROM rec),
         |lg AS (SELECT service_name, tns // 300000000000 * 300 AS lsec,
         |  count(*) AS n_spans,
         |  CAST(sum(CASE WHEN code = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_errors
         |  FROM sp GROUP BY 1, 2),
         |sh AS (SELECT service_name, tns // 60000000000 * 60 AS ssec,
         |  round((sum(CASE WHEN code = 2 THEN 1 ELSE 0 END)
         |    / CAST(count(*) AS DOUBLE)) / 0.01, 4) AS short_burn
         |  FROM sp GROUP BY 1, 2),
         |j AS (SELECT lg.service_name, lsec, n_spans, n_errors,
         |  round((n_errors / CAST(n_spans AS DOUBLE)) / 0.01, 4)
         |    AS long_burn, short_burn
         |  FROM lg JOIN sh ON sh.service_name = lg.service_name
         |    AND sh.ssec = lg.lsec + 240)
         |SELECT service_name,
         |  strftime(make_timestamp(lsec * 1000000), '$TsFmtDuck')
         |    AS window_start,
         |  n_spans, n_errors, long_burn, short_burn
         |FROM j WHERE long_burn >= 1.0 AND short_burn >= 1.0
         |ORDER BY service_name, window_start""".stripMargin) { (s, _) =>
      graft.operators.Traces.multiBurnAlert(
          Otlp.readTraces(s, s"$fx/slo_traces.jsonl"),
          sloTarget = 0.99, longSec = 300, shortSec = 60, threshold = 1.0)
        .withColumn("window_start",
          date_format(col("window_start"), TsFmtSpark))
        .orderBy("service_name", "window_start")
    },

    // reset-corrected counter total per series: Σ(v−prev | monotone, v |
    // after reset) — the restart-proof "requests actually served"
    df("otlp_adjusted_total",
      s"""WITH m AS (${metricsFlat(s"$fx/flap_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |lagd AS (SELECT *, lag(v) OVER (PARTITION BY "name"
         |    ORDER BY tns, v) AS pv
         |  FROM pts WHERE v IS NOT NULL),
         |d AS (SELECT "name",
         |  CASE WHEN pv IS NULL THEN NULL
         |    WHEN v < pv THEN v ELSE v - pv END AS dlt,
         |  CASE WHEN pv IS NOT NULL AND v < pv THEN 1 ELSE 0 END AS r
         |  FROM lagd)
         |SELECT "name", round(sum(dlt), 6) AS adjusted_total,
         |  CAST(sum(r) AS BIGINT) AS n_resets, count(*) AS n_points
         |FROM d GROUP BY "name" ORDER BY "name"""".stripMargin) { (s, _) =>
      graft.operators.Metrics.adjustedTotal(
          Otlp.readMetricsSum(s, s"$fx/flap_metrics.jsonl"))
        .select(col("name"), col("adjusted_total"), col("n_resets"),
          col("n_points"))
        .orderBy("name")
    },

    // trace fanout profile: leaves, widest span, mean children per
    // internal span — the tree-shape readout next to trace_tree's depth
    df("otlp_trace_fanout",
      s"""WITH rec AS (
         |  SELECT sp.* FROM read_json('$fx/tree_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT lower(traceId) AS t, lower(spanId) AS s,
         |  lower(parentSpanId) AS p FROM rec),
         |cc AS (SELECT c.t, c.p AS s, CAST(count(*) AS BIGINT) AS nc
         |  FROM sp c JOIN sp q ON q.t = c.t AND q.s = c.p
         |  WHERE c.p IS NOT NULL AND c.p <> '' GROUP BY c.t, c.p),
         |f AS (SELECT sp.t, sp.s, coalesce(cc.nc, 0) AS nc
         |  FROM sp LEFT JOIN cc ON cc.t = sp.t AND cc.s = sp.s)
         |SELECT t AS trace_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN nc = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_leaves,
         |  CAST(max(nc) AS BIGINT) AS max_fanout,
         |  CASE WHEN sum(CASE WHEN nc > 0 THEN 1 ELSE 0 END) > 0
         |    THEN round(CAST(sum(nc) AS DOUBLE)
         |      / sum(CASE WHEN nc > 0 THEN 1 ELSE 0 END), 6) END
         |    AS avg_fanout
         |FROM f GROUP BY t ORDER BY trace_id""".stripMargin) { (s, _) =>
      graft.operators.Traces.traceFanout(
          Otlp.readTraces(s, s"$fx/tree_traces.jsonl"))
        .orderBy("trace_id")
    },

    // seasonality by day-of-week (1=Sunday): the weekly-rhythm face of
    // the time-of-day profile already registered at minute grain
    df("otlp_seasonality_dow",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  CAST(dayofweek(make_timestamp(
         |    CAST(dp.timeUnixNano AS BIGINT) // 1000)) + 1 AS BIGINT)
         |    AS bucket,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name", bucket, round(avg(v), 6) AS avg_value,
         |  min(v) AS min_value, max(v) AS max_value,
         |  round(stddev_pop(v), 6) AS stddev_value,
         |  count(*) AS n_points
         |FROM pts WHERE v IS NOT NULL GROUP BY 1, 2
         |ORDER BY "name", bucket""".stripMargin) { (s, _) =>
      graft.operators.Metrics.seasonality(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"), bucket = "dow")
        .select(col("name"), col("bucket"), col("avg_value"),
          col("min_value"), col("max_value"), col("stddev_value"),
          col("n_points"))
        .orderBy("name", "bucket")
    },

    // PromQL binary op with vector matching: num / den at shared
    // timestamps only; absent or zero denominators drop, never divide
    df("otlp_ratio_by",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name", ${duckTs("dp.timeUnixNano")} AS t,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |g AS (SELECT t,
         |  sum(CASE WHEN "name" = 'requests.total' THEN v END) AS num,
         |  sum(CASE WHEN "name" = 'queue.size' THEN v END) AS den
         |  FROM pts WHERE v IS NOT NULL GROUP BY t)
         |SELECT t AS time_unix_nano, num, den, round(num / den, 6) AS ratio
         |FROM g WHERE num IS NOT NULL AND den IS NOT NULL AND den <> 0
         |ORDER BY t""".stripMargin) { (s, _) =>
      graft.operators.Metrics.ratioBy(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"),
          numName = "requests.total", denName = "queue.size")
        .select(
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("num"), col("den"), col("ratio"))
        .orderBy("time_unix_nano")
    },

    // PromQL on(labels) matching: both metrics collapse to the on() label
    // set — num / on(service_name) den, per-service error ratio; the
    // zero/absent-denominator service drops entirely
    df("otlp_ratio_on",
      s"""WITH m AS (${metricsFlat(s"$fx/ratio_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  ${duckService("res.attributes")} AS service_name,
         |  ${duckTs("dp.timeUnixNano")} AS t,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |g AS (SELECT service_name, t,
         |  sum(CASE WHEN "name" = 'http.errors' THEN v END) AS num,
         |  sum(CASE WHEN "name" = 'http.requests' THEN v END) AS den
         |  FROM pts WHERE v IS NOT NULL GROUP BY 1, 2)
         |SELECT service_name, t AS time_unix_nano, num, den,
         |  round(num / den, 6) AS ratio
         |FROM g WHERE num IS NOT NULL AND den IS NOT NULL AND den <> 0
         |ORDER BY service_name, t""".stripMargin) { (s, _) =>
      graft.operators.Metrics.ratioBy(
          Otlp.readMetricsSum(s, s"$fx/ratio_metrics.jsonl"),
          numName = "http.errors", denName = "http.requests",
          by = Seq("service_name"))
        .select(col("service_name"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("num"), col("den"), col("ratio"))
        .orderBy("service_name", "time_unix_nano")
    },

    // PromQL group_left one-to-many matching: per-path error samples keep
    // their full label set, each divided by THE per-service request total
    // sharing its on(service_name) labels at its timestamp
    df("otlp_ratio_group_left",
      s"""WITH m AS (${metricsFlat(s"$fx/ratio_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  ${duckService("res.attributes")} AS service_name,
         |  ${duckAttrs("dp.attributes")} AS metric_attributes,
         |  ${duckTs("dp.timeUnixNano")} AS t,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |den AS (SELECT service_name, t, sum(v) AS den FROM pts
         |  WHERE "name" = 'http.requests' AND v IS NOT NULL
         |  GROUP BY 1, 2 HAVING sum(v) <> 0),
         |num AS (SELECT service_name, metric_attributes, t, v AS num
         |  FROM pts WHERE "name" = 'http.errors' AND v IS NOT NULL)
         |SELECT n.service_name, n.metric_attributes, n.t AS time_unix_nano,
         |  n.num, d.den, round(n.num / d.den, 6) AS ratio
         |FROM num n JOIN den d ON d.service_name = n.service_name
         |  AND d.t = n.t
         |ORDER BY n.service_name, n.metric_attributes, n.t""".stripMargin) {
      (s, _) =>
        graft.operators.Metrics.ratioGroupLeft(
            Otlp.readMetricsSum(s, s"$fx/ratio_metrics.jsonl"),
            numName = "http.errors", denName = "http.requests",
            on = Seq("service_name"))
          .select(col("service_name"), col("metric_attributes"),
            date_format(col("time_unix_nano"), TsFmtSpark)
              .as("time_unix_nano"),
            col("num"), col("den"), col("ratio"))
          .orderBy("service_name", "metric_attributes", "time_unix_nano")
    },

    // PromQL resets(): per (series, window) the count of value DROPS
    // between consecutive points — the restart / flapping-counter detector
    df("otlp_resets",
      s"""WITH m AS (${metricsFlat(s"$fx/flap_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |lagd AS (SELECT *, lag(v) OVER (PARTITION BY "name"
         |    ORDER BY tns, v) AS pv
         |  FROM pts WHERE v IS NOT NULL),
         |d AS (SELECT "name", tns // 600000000000 * 600 AS wsec,
         |  CASE WHEN pv IS NULL THEN NULL
         |    WHEN v < pv THEN 1 ELSE 0 END AS r FROM lagd)
         |SELECT "name",
         |  strftime(make_timestamp(wsec * 1000000), '$TsFmtDuck')
         |    AS window_start,
         |  CAST(sum(r) AS BIGINT) AS resets, count(*) AS n_pairs
         |FROM d WHERE r IS NOT NULL
         |GROUP BY "name", wsec ORDER BY "name", wsec""".stripMargin) { (s, _) =>
      graft.operators.Metrics.resets(
          Otlp.readMetricsSum(s, s"$fx/flap_metrics.jsonl"), windowSec = 600)
        .select(col("name"),
          date_format(col("window_start"), TsFmtSpark).as("window_start"),
          col("resets"), col("n_pairs"))
        .orderBy("name", "window_start")
    },

    // PromQL changes(): per (series, window) how many consecutive point
    // pairs changed value — the state-thrash detector
    df("otlp_changes",
      s"""WITH m AS (${metricsFlat(s"$fx/flap_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |lagd AS (SELECT *, lag(v) OVER (PARTITION BY "name"
         |    ORDER BY tns, v) AS pv
         |  FROM pts WHERE v IS NOT NULL),
         |d AS (SELECT "name", tns // 600000000000 * 600 AS wsec,
         |  CASE WHEN pv IS NULL THEN NULL
         |    WHEN v <> pv THEN 1 ELSE 0 END AS c FROM lagd)
         |SELECT "name",
         |  strftime(make_timestamp(wsec * 1000000), '$TsFmtDuck')
         |    AS window_start,
         |  CAST(sum(c) AS BIGINT) AS changes, count(*) AS n_pairs
         |FROM d WHERE c IS NOT NULL
         |GROUP BY "name", wsec ORDER BY "name", wsec""".stripMargin) { (s, _) =>
      graft.operators.Metrics.changes(
          Otlp.readMetricsSum(s, s"$fx/flap_metrics.jsonl"), windowSec = 600)
        .select(col("name"),
          date_format(col("window_start"), TsFmtSpark).as("window_start"),
          col("changes"), col("n_pairs"))
        .orderBy("name", "window_start")
    },

    // PromQL deriv(): per (series, window) the least-squares slope of
    // value over time, per second — simple linear regression
    df("otlp_deriv",
      s"""WITH m AS (${metricsFlat(s"$fx/replica_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  (list_filter(res.attributes,
         |    a -> a."key" = 'service.instance.id')[1])."value".stringValue
         |    AS inst,
         |  CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name", inst AS service_instance_id,
         |  strftime(make_timestamp(tns // 120000000000 * 120 * 1000000),
         |    '$TsFmtDuck') AS window_start,
         |  round(regr_slope(v, (tns // 1000) / 1000000.0), 6)
         |    AS deriv_per_sec,
         |  count(*) AS n_points
         |FROM pts WHERE v IS NOT NULL
         |GROUP BY "name", inst, tns // 120000000000 * 120
         |ORDER BY "name", service_instance_id, window_start""".stripMargin) {
      (s, _) =>
        graft.operators.Metrics.deriv(
            Otlp.readMetricsSum(s, s"$fx/replica_metrics.jsonl"),
            windowSec = 120)
          .select(col("name"), col("service_instance_id"),
            date_format(col("window_start"), TsFmtSpark).as("window_start"),
            col("deriv_per_sec"), col("n_points"))
          .orderBy("name", "service_instance_id", "window_start")
    },

    // PromQL predict_linear(): least-squares extrapolation 60 s past the
    // window end — evaluated in the centered form v̄ + slope·(Δt) so both
    // engines stay at window-scale magnitudes
    df("otlp_predict_linear",
      s"""WITH m AS (${metricsFlat(s"$fx/replica_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  (list_filter(res.attributes,
         |    a -> a."key" = 'service.instance.id')[1])."value".stringValue
         |    AS inst,
         |  CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name", inst AS service_instance_id,
         |  strftime(make_timestamp(tns // 120000000000 * 120 * 1000000),
         |    '$TsFmtDuck') AS window_start,
         |  round(avg(v) + regr_slope(v, (tns // 1000) / 1000000.0) *
         |    (tns // 120000000000 * 120 + 120 + 60
         |      - avg((tns // 1000) / 1000000.0)), 6) AS predicted,
         |  count(*) AS n_points
         |FROM pts WHERE v IS NOT NULL
         |GROUP BY "name", inst, tns // 120000000000 * 120
         |ORDER BY "name", service_instance_id, window_start""".stripMargin) {
      (s, _) =>
        graft.operators.Metrics.predictLinear(
            Otlp.readMetricsSum(s, s"$fx/replica_metrics.jsonl"),
            windowSec = 120, aheadSec = 60)
          .select(col("name"), col("service_instance_id"),
            date_format(col("window_start"), TsFmtSpark).as("window_start"),
            col("predicted"), col("n_points"))
          .orderBy("name", "service_instance_id", "window_start")
    },

    // PromQL topk(k, metric): at each timestamp the k highest-valued
    // series, rank attached — "which replicas are hottest right now"
    df("otlp_topk_series",
      s"""WITH m AS (${metricsFlat(s"$fx/replica_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  (list_filter(res.attributes,
         |    a -> a."key" = 'service.instance.id')[1])."value".stringValue
         |    AS inst,
         |  ${duckTs("dp.timeUnixNano")} AS t,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY "name", t
         |  ORDER BY v DESC, inst) AS INT) AS rnk
         |  FROM pts WHERE v IS NOT NULL)
         |SELECT "name", inst AS service_instance_id, t AS time_unix_nano,
         |  v AS "value", rnk
         |FROM r WHERE rnk <= 2
         |ORDER BY "name", t, rnk""".stripMargin) { (s, _) =>
      graft.operators.Metrics.topkSeries(
          Otlp.readMetricsSum(s, s"$fx/replica_metrics.jsonl"), k = 2)
        .select(col("name"), col("service_instance_id"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("value"), col("rnk"))
        .orderBy("name", "time_unix_nano", "rnk")
    },

    // histogram_fraction(-Inf, 60, ...): share of observations at or
    // below the target — the SLO-compliance complement of the quantile
    df("otlp_hist_fraction",
      s"""WITH m AS (${metricsFlat(s"$fx/hist_metrics.jsonl")}),
         |pts AS (SELECT ${duckTs("dp.timeUnixNano")} AS t,
         |  m."name" AS "name", dp.bucketCounts AS c, dp.explicitBounds AS b
         |  FROM m, unnest(m.histogram.dataPoints) AS d(dp)),
         |st AS (SELECT t, "name", c, b,
         |  list_transform(generate_series(1, len(c)),
         |    i -> CAST(list_sum(c[1:i]) AS DOUBLE)) AS cums,
         |  CAST(list_sum(c) AS DOUBLE) AS total FROM pts),
         |st2 AS (SELECT *,
         |  len(list_filter(b, e -> e < 60.0)) + 1 AS idx FROM st),
         |st3 AS (SELECT *,
         |  CASE WHEN idx = 1 THEN 0.0 ELSE b[idx-1] END AS lo,
         |  CASE WHEN idx > len(b) THEN NULL ELSE b[idx] END AS hi
         |  FROM st2)
         |SELECT t AS time_unix_nano, "name",
         |  CASE WHEN total <= 0 THEN NULL
         |    WHEN idx > len(b) THEN round(cums[len(b)] / total, 6)
         |    ELSE round(((CASE WHEN idx = 1 THEN 0.0 ELSE cums[idx-1] END)
         |      + c[idx] * (CASE WHEN hi = lo THEN 1.0
         |          ELSE greatest(0.0, least(1.0, (60.0 - lo) / (hi - lo)))
         |          END)) / total, 6) END AS fraction
         |FROM st3 ORDER BY time_unix_nano""".stripMargin) { (s, _) =>
      graft.operators.Metrics.histogramFraction(
          Otlp.readMetricsHistogram(s, s"$fx/hist_metrics.jsonl"), x = 60.0)
        .select(
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("name"), col("fraction"))
        .orderBy("time_unix_nano")
    },

    // per-trace WALL duration (end-to-end latency as the user saw it) —
    // distinct from the critical path (sum along one root path) whenever
    // spans run concurrently
    df("otlp_trace_durations",
      s"""WITH rec AS (
         |  SELECT sp.* FROM read_json('$fx/services_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT lower(traceId) AS t,
         |  CAST(startTimeUnixNano AS BIGINT) // 1000 * 1000 AS st,
         |  CAST(endTimeUnixNano AS BIGINT) - CAST(startTimeUnixNano AS BIGINT)
         |    AS dur, status.code AS code FROM rec)
         |SELECT t AS trace_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN code = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_errors,
         |  min(st) AS start_ns, max(st + dur) - min(st) AS wall_ns
         |FROM sp GROUP BY t ORDER BY trace_id""".stripMargin) { (s, _) =>
      graft.operators.Traces.traceDurations(
          Otlp.readTraces(s, s"$fx/services_traces.jsonl"))
        .orderBy("trace_id")
    },

    // PromQL delta() for gauges: last - first per (series, aligned
    // window), no reset rule, negative deltas real
    df("otlp_delta_over_time",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |r AS (SELECT *, tns // 120000000000 * 120 AS wsec,
         |  row_number() OVER (PARTITION BY "name", tns // 120000000000
         |    ORDER BY tns DESC, v DESC) AS rl,
         |  row_number() OVER (PARTITION BY "name", tns // 120000000000
         |    ORDER BY tns ASC, v ASC) AS rf
         |  FROM pts WHERE v IS NOT NULL)
         |SELECT "name",
         |  strftime(make_timestamp(wsec * 1000000), '$TsFmtDuck')
         |    AS window_start,
         |  round(max(CASE WHEN rl = 1 THEN v END)
         |    - max(CASE WHEN rf = 1 THEN v END), 6) AS delta,
         |  count(*) AS n_points
         |FROM r GROUP BY "name", wsec ORDER BY "name", wsec""".stripMargin) {
      (s, _) =>
        graft.operators.Metrics.deltaOverTime(
            Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"),
            windowSec = 120)
          .select(col("name"),
            date_format(col("window_start"), TsFmtSpark).as("window_start"),
            col("delta"), col("n_points"))
          .orderBy("name", "window_start")
    },

    // PromQL avg by (name): the sum-by family generalized — per-timestamp
    // cross-replica mean
    df("otlp_avg_by",
      s"""WITH m AS (${metricsFlat(s"$fx/replica_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name", ${duckTs("dp.timeUnixNano")} AS t,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name", t AS time_unix_nano, round(avg(v), 6) AS "value",
         |  count(*) AS n_series
         |FROM pts WHERE v IS NOT NULL GROUP BY "name", t
         |ORDER BY "name", t""".stripMargin) { (s, _) =>
      graft.operators.Metrics.aggregateBy(
          Otlp.readMetricsSum(s, s"$fx/replica_metrics.jsonl"), op = "avg")
        .select(col("name"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("value"), col("n_series"))
        .orderBy("name", "time_unix_nano")
    },

    // PromQL irate(): per-second rate between each series' LAST TWO
    // points only — the volatile-counter instant, reset rule included
    df("otlp_irate",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v,
         |  coalesce(m."sum".isMonotonic, false) AS mono
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY "name"
         |  ORDER BY tns DESC, v DESC) AS rn
         |  FROM pts WHERE v IS NOT NULL),
         |g AS (SELECT "name",
         |  max(CASE WHEN rn = 1 THEN v END) AS v1,
         |  max(CASE WHEN rn = 1 THEN tns // 1000 END) AS t1,
         |  max(CASE WHEN rn = 2 THEN v END) AS v2,
         |  max(CASE WHEN rn = 2 THEN tns // 1000 END) AS t2,
         |  max(CASE WHEN rn = 1 THEN tns END) AS lt,
         |  bool_or(mono) AS mono
         |  FROM r WHERE rn <= 2 GROUP BY "name")
         |SELECT "name",
         |  strftime(make_timestamp(lt // 1000), '$TsFmtDuck') AS last_time,
         |  CASE WHEN t2 IS NULL OR t1 = t2 THEN NULL
         |    ELSE round((CASE WHEN mono AND v1 < v2 THEN v1
         |      ELSE v1 - v2 END) / ((t1 - t2) / 1000000.0), 6) END
         |    AS irate_per_sec
         |FROM g ORDER BY "name"""".stripMargin) { (s, _) =>
      graft.operators.Metrics.instantRate(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"))
        .select(col("name"),
          date_format(col("last_time"), TsFmtSpark).as("last_time"),
          col("irate_per_sec"))
        .orderBy("name")
    },

    // PromQL absent() strict form: expected metrics with NO series at
    // all — the never-arrived detector next to stale/gap
    df("otlp_absent",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |-- observed = names with actual sum DATAPOINTS (PromQL absent()
         |-- fires on missing samples; a descriptor with zero points IS
         |-- absent) — matching the Spark side's point-level frame
         |obs AS (SELECT DISTINCT m."name" AS "name"
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |exp AS (SELECT unnest(['requests.total', 'queue.size',
         |  'slo.availability', 'cache.hits']) AS "name")
         |SELECT e."name" AS "name", 1 AS "value" FROM exp e
         |LEFT JOIN obs o ON e."name" = o."name"
         |WHERE o."name" IS NULL ORDER BY e."name"""".stripMargin) { (s, _) =>
      graft.operators.Metrics.absentMetrics(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"),
          Seq("requests.total", "queue.size", "slo.availability",
            "cache.hits"))
        .orderBy("name")
    },

    // PromQL idelta(): raw difference of each series' last two points —
    // the gauge sibling of irate (no per-second scale, no reset rule)
    df("otlp_idelta",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY "name"
         |  ORDER BY tns DESC, v DESC) AS rn
         |  FROM pts WHERE v IS NOT NULL),
         |g AS (SELECT "name",
         |  max(CASE WHEN rn = 1 THEN v END) AS v1,
         |  max(CASE WHEN rn = 2 THEN v END) AS v2,
         |  max(CASE WHEN rn = 1 THEN tns END) AS lt
         |  FROM r WHERE rn <= 2 GROUP BY "name")
         |SELECT "name",
         |  strftime(make_timestamp(lt // 1000), '$TsFmtDuck') AS last_time,
         |  CASE WHEN v2 IS NULL THEN NULL ELSE round(v1 - v2, 6) END
         |    AS idelta_value
         |FROM g ORDER BY "name"""".stripMargin) { (s, _) =>
      graft.operators.Metrics.idelta(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"))
        .select(col("name"),
          date_format(col("last_time"), TsFmtSpark).as("last_time"),
          col("idelta_value"))
        .orderBy("name")
    },

    // cross-signal resource inventory: per service the record count and
    // time span of each signal — the "what does this service ship" audit
    df("otlp_resource_inventory",
      s"""WITH lrec AS (${logsFlat(s"$fx/logs_simple.jsonl")}),
         |l AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  count(*) AS n_logs, min(CAST(timeUnixNano AS BIGINT)) AS lmin,
         |  max(CAST(timeUnixNano AS BIGINT)) AS lmax
         |  FROM lrec GROUP BY 1),
         |srec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/red_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |s AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  count(*) AS n_spans, min(CAST(startTimeUnixNano AS BIGINT)) AS smin,
         |  max(CAST(startTimeUnixNano AS BIGINT)) AS smax
         |  FROM srec GROUP BY 1),
         |m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |p AS (SELECT service_name, count(*) AS n_points,
         |  min(t) AS pmin, max(t) AS pmax FROM (
         |  SELECT ${duckService("m.res.attributes")} AS service_name,
         |    CAST(dp.timeUnixNano AS BIGINT) AS t
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)) GROUP BY 1)
         |SELECT coalesce(l.service_name, s.service_name, p.service_name)
         |    AS service_name,
         |  coalesce(n_logs, 0) AS n_logs,
         |  coalesce(n_spans, 0) AS n_spans,
         |  coalesce(n_points, 0) AS n_points,
         |  strftime(make_timestamp(least(lmin, smin, pmin) // 1000),
         |    '$TsFmtDuck') AS first_time,
         |  strftime(make_timestamp(greatest(lmax, smax, pmax) // 1000),
         |    '$TsFmtDuck') AS last_time
         |FROM l
         |  FULL JOIN s ON l.service_name IS NOT DISTINCT FROM s.service_name
         |  FULL JOIN p ON coalesce(l.service_name, s.service_name)
         |    IS NOT DISTINCT FROM p.service_name
         |ORDER BY 1""".stripMargin) { (s, _) =>
      graft.operators.Signals.resourceInventory(
          Otlp.readLogs(s, s"$fx/logs_simple.jsonl"),
          Otlp.readTraces(s, s"$fx/red_traces.jsonl"),
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"))
        .select(col("service_name"), col("n_logs"), col("n_spans"),
          col("n_points"),
          date_format(col("first_time"), TsFmtSpark).as("first_time"),
          date_format(col("last_time"), TsFmtSpark).as("last_time"))
        .orderBy("service_name")
    },

    // instrumentation-scope inventory: which libraries/versions are
    // deployed, how many records/services each — the SDK rollout audit
    df("otlp_scope_inventory",
      s"""WITH rec AS (SELECT sl."scope"."name" AS scope_name,
         |  ${duckService("rl.resource.attributes")} AS svc
         |  FROM read_json('$fx/logs_simple.jsonl',
         |    format='newline_delimited', columns={resourceLogs: '$logsRecT'}),
         |  unnest(resourceLogs) AS a(rl),
         |  unnest(rl.scopeLogs) AS b(sl),
         |  unnest(sl.logRecords) AS c(lr))
         |SELECT coalesce(scope_name, 'unknown') AS scope_name,
         |  '' AS scope_version, count(*) AS n_records,
         |  count(DISTINCT svc) AS n_services
         |FROM rec GROUP BY 1, 2 ORDER BY scope_name""".stripMargin) { (s, _) =>
      graft.operators.Logs.scopeInventory(
          Otlp.readLogs(s, s"$fx/logs_simple.jsonl"))
        .orderBy("scope_name")
    },

    // PromQL clamp(): values bounded to [5, 100] — the panel sanitizer
    df("otlp_clamp",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name", ${duckTs("dp.timeUnixNano")} AS t,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name", t AS time_unix_nano, v AS "value",
         |  least(greatest(v, 5.0), 100.0) AS value_clamped
         |FROM pts ORDER BY "name", t""".stripMargin) { (s, _) =>
      graft.operators.Metrics.clampValues(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"),
          lo = Some(5.0), hi = Some(100.0))
        .select(col("name"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("value"), col("value_clamped"))
        .orderBy("name", "time_unix_nano")
    },

    // PromQL max by (name): exact branch of the aggregate-by family
    // (values reported exactly, no rounding)
    df("otlp_max_by",
      s"""WITH m AS (${metricsFlat(s"$fx/replica_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name", ${duckTs("dp.timeUnixNano")} AS t,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name", t AS time_unix_nano, max(v) AS "value",
         |  count(*) AS n_series
         |FROM pts WHERE v IS NOT NULL GROUP BY "name", t
         |ORDER BY "name", t""".stripMargin) { (s, _) =>
      graft.operators.Metrics.aggregateBy(
          Otlp.readMetricsSum(s, s"$fx/replica_metrics.jsonl"), op = "max")
        .select(col("name"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("value"), col("n_series"))
        .orderBy("name", "time_unix_nano")
    },

    // PromQL bottomk(k): the k lowest-valued series at each timestamp —
    // topk's starved-replica mirror
    df("otlp_bottomk_series",
      s"""WITH m AS (${metricsFlat(s"$fx/replica_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  (list_filter(res.attributes,
         |    a -> a."key" = 'service.instance.id')[1])."value".stringValue
         |    AS inst,
         |  ${duckTs("dp.timeUnixNano")} AS t,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY "name", t
         |  ORDER BY v ASC, inst) AS INT) AS rnk
         |  FROM pts WHERE v IS NOT NULL)
         |SELECT "name", inst AS service_instance_id, t AS time_unix_nano,
         |  v AS "value", rnk
         |FROM r WHERE rnk <= 1
         |ORDER BY "name", t, rnk""".stripMargin) { (s, _) =>
      graft.operators.Metrics.bottomkSeries(
          Otlp.readMetricsSum(s, s"$fx/replica_metrics.jsonl"), k = 1)
        .select(col("name"), col("service_instance_id"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("value"), col("rnk"))
        .orderBy("name", "time_unix_nano", "rnk")
    },

    // PromQL quantile_over_time: per (series, aligned window) the exact
    // interpolated quantile of the window's points
    df("otlp_quantile_over_time",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name",
         |  strftime(make_timestamp(tns // 120000000000 * 120 * 1000000),
         |    '$TsFmtDuck') AS window_start,
         |  round(quantile_cont(v, 0.5), 6) AS quantile,
         |  count(*) AS n_points
         |FROM pts WHERE v IS NOT NULL
         |GROUP BY "name", tns // 120000000000 * 120
         |ORDER BY "name", window_start""".stripMargin) { (s, _) =>
      graft.operators.Metrics.quantileOverTime(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"), q = 0.5,
          windowSec = 120)
        .select(col("name"),
          date_format(col("window_start"), TsFmtSpark).as("window_start"),
          col("quantile"), col("n_points"))
        .orderBy("name", "window_start")
    },

    // PromQL count_values: the exact-value histogram — how many samples
    // carried each observed value (enum-gauge rollup)
    df("otlp_count_values",
      s"""WITH m AS (${metricsFlat(s"$fx/flap_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name", v AS "value", count(*) AS n_samples
         |FROM pts WHERE v IS NOT NULL
         |GROUP BY "name", v ORDER BY "name", "value"""".stripMargin) { (s, _) =>
      graft.operators.Metrics.countValues(
          Otlp.readMetricsSum(s, s"$fx/flap_metrics.jsonl"))
        .orderBy("name", "value")
    },

    // PromQL histogram_avg: mean observation from each point's own
    // sum/count — map-only, no bucket walk
    df("otlp_hist_avg",
      s"""WITH m AS (${metricsFlat(s"$fx/hist_metrics.jsonl")}),
         |pts AS (SELECT ${duckTs("dp.timeUnixNano")} AS t,
         |  m."name" AS "name", dp.count AS cnt, dp."sum" AS s
         |  FROM m, unnest(m.histogram.dataPoints) AS d(dp))
         |SELECT t AS time_unix_nano, "name",
         |  CASE WHEN cnt IS NULL OR cnt = 0 THEN NULL
         |    ELSE round(s / CAST(cnt AS DOUBLE), 6) END AS avg_value
         |FROM pts ORDER BY time_unix_nano""".stripMargin) { (s, _) =>
      graft.operators.Metrics.histogramAvg(
          Otlp.readMetricsHistogram(s, s"$fx/hist_metrics.jsonl"))
        .select(
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("name"), col("avg_value"))
        .orderBy("time_unix_nano")
    },

    // multiline reassembly (the filelog recombine operator): whitespace /
    // Java-frame-shaped continuation records newline-append to their head
    df("otlp_multiline",
      s"""WITH rec AS (${logsFlat(s"$fx/stack_logs.jsonl")}),
         |b AS (SELECT ${duckService("res.attributes")} AS svc,
         |  CAST(timeUnixNano AS BIGINT) AS tns, body.stringValue AS body
         |  FROM rec WHERE body.stringValue IS NOT NULL),
         |g AS (SELECT *, sum(CASE WHEN left(body, 1) IN (' ', chr(9))
         |    OR regexp_matches(body, '^at \\S+\\(') THEN 0 ELSE 1 END)
         |  OVER (PARTITION BY svc ORDER BY tns, body
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |  FROM b)
         |SELECT svc AS service_name,
         |  strftime(make_timestamp(min(tns) // 1000), '$TsFmtDuck')
         |    AS time_unix_nano,
         |  string_agg(body, chr(10) ORDER BY tns, body) AS body,
         |  count(*) AS n_lines
         |FROM g GROUP BY svc, grp
         |ORDER BY service_name, time_unix_nano""".stripMargin) { (s, _) =>
      graft.operators.Logs.reassembleMultiline(
          Otlp.readLogs(s, s"$fx/stack_logs.jsonl"))
        .select(col("service_name"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("body"), col("n_lines"))
        .orderBy("service_name", "time_unix_nano")
    },

    // severity normalization: the OTel number->name mapping with text
    // fallback and exporter-mismatch detection
    // windowed log error share per service: ERROR+FATAL under the one
    // severity rule over total records — the error-rate panel
    df("otlp_error_ratio",
      s"""WITH rec AS (${logsFlat(s"$fx/sev_logs.jsonl")}),
         |n AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  CAST(timeUnixNano AS BIGINT) AS tns,
         |  severityNumber AS sn, severityText AS st FROM rec),
         |c AS (SELECT service_name, tns,
         |  coalesce(
         |    CASE WHEN sn BETWEEN 1 AND 4 THEN 'TRACE'
         |      WHEN sn BETWEEN 5 AND 8 THEN 'DEBUG'
         |      WHEN sn BETWEEN 9 AND 12 THEN 'INFO'
         |      WHEN sn BETWEEN 13 AND 16 THEN 'WARN'
         |      WHEN sn BETWEEN 17 AND 20 THEN 'ERROR'
         |      WHEN sn BETWEEN 21 AND 24 THEN 'FATAL' END,
         |    CASE WHEN upper(trim(st)) = 'WARNING' THEN 'WARN'
         |      WHEN upper(trim(st)) = 'ERR' THEN 'ERROR'
         |      WHEN upper(trim(st)) = 'CRITICAL' THEN 'FATAL'
         |      WHEN upper(trim(st)) IN ('TRACE','DEBUG','INFO','WARN',
         |        'ERROR','FATAL') THEN upper(trim(st)) END,
         |    'UNSPECIFIED') AS canon
         |  FROM n)
         |SELECT service_name,
         |  strftime(make_timestamp(tns // 60000000000 * 60 * 1000000),
         |    '$TsFmtDuck') AS window_start,
         |  count(*) AS n_logs,
         |  count(*) FILTER (WHERE canon IN ('ERROR', 'FATAL')) AS n_errors,
         |  round(count(*) FILTER (WHERE canon IN ('ERROR', 'FATAL'))
         |    / count(*), 6) AS error_ratio
         |FROM c GROUP BY service_name, tns // 60000000000
         |ORDER BY service_name, window_start""".stripMargin) { (s, _) =>
      graft.operators.Logs.errorRate(
          Otlp.readLogs(s, s"$fx/sev_logs.jsonl"), windowSec = 60)
        .select(col("service_name"),
          date_format(col("window_start"), TsFmtSpark).as("window_start"),
          col("n_logs"), col("n_errors"), col("error_ratio"))
        .orderBy("service_name", "window_start")
    },

    df("otlp_severity_normalize",
      s"""WITH rec AS (${logsFlat(s"$fx/sev_logs.jsonl")}),
         |n AS (SELECT body.stringValue AS body, severityNumber AS sn,
         |  severityText AS st FROM rec),
         |c AS (SELECT body, sn, st,
         |  CASE WHEN sn BETWEEN 1 AND 4 THEN 'TRACE'
         |    WHEN sn BETWEEN 5 AND 8 THEN 'DEBUG'
         |    WHEN sn BETWEEN 9 AND 12 THEN 'INFO'
         |    WHEN sn BETWEEN 13 AND 16 THEN 'WARN'
         |    WHEN sn BETWEEN 17 AND 20 THEN 'ERROR'
         |    WHEN sn BETWEEN 21 AND 24 THEN 'FATAL' END AS fromnum,
         |  CASE WHEN upper(trim(st)) = 'WARNING' THEN 'WARN'
         |    WHEN upper(trim(st)) = 'ERR' THEN 'ERROR'
         |    WHEN upper(trim(st)) = 'CRITICAL' THEN 'FATAL'
         |    WHEN upper(trim(st)) IN ('TRACE','DEBUG','INFO','WARN',
         |      'ERROR','FATAL') THEN upper(trim(st)) END AS fromtext
         |  FROM n)
         |SELECT body,
         |  coalesce(fromnum, fromtext, 'UNSPECIFIED') AS severity_canonical,
         |  (fromnum IS NOT NULL AND fromtext IS NOT NULL
         |    AND fromnum <> fromtext) AS severity_mismatch
         |FROM c ORDER BY body""".stripMargin) { (s, _) =>
      graft.operators.Logs.normalizeSeverity(
          Otlp.readLogs(s, s"$fx/sev_logs.jsonl"))
        .select(col("body"), col("severity_canonical"),
          col("severity_mismatch"))
        .orderBy("body")
    },

    // span status from HTTP semantic conventions: CLIENT >= 400 / SERVER
    // >= 500 derive error when status arrived unset; set statuses win
    df("otlp_http_status",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/http_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansLinksT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT lower(traceId) AS trace_id, lower(spanId) AS span_id,
         |  kind, status.code AS code,
         |  CAST((list_filter(attributes,
         |    a -> a."key" = 'http.status_code')[1])."value".intValue AS INT)
         |    AS http FROM rec)
         |SELECT trace_id, span_id, kind, code AS status_code,
         |  http AS http_status,
         |  CASE WHEN code <> 0 THEN code
         |    WHEN http IS NULL THEN code
         |    WHEN kind = 3 AND http >= 400 THEN 2
         |    WHEN kind = 2 AND http >= 500 THEN 2
         |    ELSE code END AS status_derived
         |FROM sp ORDER BY trace_id, span_id""".stripMargin) { (s, _) =>
      graft.operators.Traces.deriveHttpStatus(
          Otlp.readTraces(s, s"$fx/http_traces.jsonl"))
        .select(col("trace_id"), col("span_id"), col("kind"),
          col("status_code"), col("http_status"), col("status_derived"))
        .orderBy("trace_id", "span_id")
    },

    // rate-limiting sampler: at most n spans per (service, window),
    // earliest first, deterministic tiebreak — the volume circuit breaker
    df("otlp_rate_limit",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/red_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  lower(traceId) AS trace_id, lower(spanId) AS span_id,
         |  CAST(startTimeUnixNano AS BIGINT) AS tns FROM rec),
         |r AS (SELECT service_name, trace_id, span_id,
         |  tns // 300000000000 * 300 AS wsec,
         |  CAST(row_number() OVER (
         |    PARTITION BY service_name, tns // 300000000000 * 300
         |    ORDER BY tns, trace_id, span_id) AS INT) AS rnk FROM sp)
         |SELECT service_name,
         |  strftime(make_timestamp(wsec * 1000000), '$TsFmtDuck')
         |    AS window_start,
         |  trace_id, span_id, rnk
         |FROM r WHERE rnk <= 2
         |ORDER BY service_name, window_start, rnk""".stripMargin) { (s, _) =>
      graft.operators.Traces.rateLimitSample(
          Otlp.readTraces(s, s"$fx/red_traces.jsonl"), n = 2,
          windowSec = 300)
        .select(col("service_name"),
          date_format(col("window_start"), TsFmtSpark).as("window_start"),
          col("trace_id"), col("span_id"), col("rnk"))
        .orderBy("service_name", "window_start", "rnk")
    },

    // span-link rollup: linked spans, total links, cross-trace links —
    // the batch/fan-in causality signature
    df("otlp_link_report",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/http_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansLinksT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  lower(traceId) AS t,
         |  coalesce(len(links), 0) AS nl,
         |  coalesce(len(list_filter(links,
         |    l -> l.traceId IS NOT NULL AND lower(l.traceId) <> lower(traceId))),
         |    0) AS nc
         |  FROM rec)
         |SELECT service_name, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN nl > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_linked_spans,
         |  CAST(sum(nl) AS BIGINT) AS n_links,
         |  CAST(sum(nc) AS BIGINT) AS n_cross_trace_links
         |FROM sp GROUP BY service_name ORDER BY service_name""".stripMargin) {
      (s, _) =>
        graft.operators.Traces.linkReport(
            Otlp.readTraces(s, s"$fx/http_traces.jsonl"))
          .orderBy("service_name")
    },

    // latency heatmap buckets: span counts per (service, power-of-two
    // duration bucket) with explicit [lo, hi) ns bounds — integer binary
    // magnitude, never floor(log2(double))
    df("otlp_duration_histogram",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/services_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  CAST(endTimeUnixNano AS BIGINT) - CAST(startTimeUnixNano AS BIGINT)
         |    AS dur FROM rec),
         |b AS (SELECT service_name,
         |  CASE WHEN dur <= 0 THEN -1
         |    ELSE CAST(length(bin(dur)) - 1 AS INT) END AS bucket FROM sp)
         |SELECT service_name, bucket, count(*) AS n_spans,
         |  CASE WHEN bucket = -1 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(1 AS BIGINT) << bucket END AS bucket_lo_ns,
         |  CAST(1 AS BIGINT) << (bucket + 1) AS bucket_hi_ns
         |FROM b GROUP BY service_name, bucket
         |ORDER BY service_name, bucket""".stripMargin) { (s, _) =>
      graft.operators.Traces.durationHistogram(
          Otlp.readTraces(s, s"$fx/services_traces.jsonl"))
        .orderBy("service_name", "bucket")
    },

    // scrape-gap report (absent_over_time as a table): aligned windows
    // between a series' first and last point that hold no points
    df("otlp_gap_report",
      s"""WITH m AS (${metricsFlat(s"$fx/flap_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |w AS (SELECT "name", tns // 45000000000 * 45 AS wsec
         |  FROM pts WHERE v IS NOT NULL GROUP BY 1, 2),
         |r AS (SELECT "name", min(wsec) AS lo, max(wsec) AS hi
         |  FROM w GROUP BY "name"),
         |ex AS (SELECT r."name", g.i AS wsec
         |  FROM r, unnest(generate_series(lo, hi, 45)) g(i))
         |SELECT ex."name",
         |  strftime(make_timestamp(ex.wsec * 1000000), '$TsFmtDuck')
         |    AS window_start
         |FROM ex LEFT JOIN w ON w."name" = ex."name" AND w.wsec = ex.wsec
         |WHERE w."name" IS NULL
         |ORDER BY ex."name", window_start""".stripMargin) { (s, _) =>
      graft.operators.Metrics.gapReport(
          Otlp.readMetricsSum(s, s"$fx/flap_metrics.jsonl"), windowSec = 45)
        .select(col("name"),
          date_format(col("window_start"), TsFmtSpark).as("window_start"))
        .orderBy("name", "window_start")
    },

    // staleness report (PromQL absent() as a table): series whose last
    // point is older than the horizon at a fixed as-of instant
    df("otlp_stale_series",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY "name"
         |  ORDER BY tns DESC, v DESC) AS rn FROM pts),
         |g AS (SELECT "name", max(tns) AS lt,
         |  max(CASE WHEN rn = 1 THEN v END) AS last_value,
         |  count(*) AS n_points FROM r GROUP BY "name")
         |SELECT "name",
         |  strftime(make_timestamp(lt // 1000), '$TsFmtDuck') AS last_time,
         |  last_value, n_points,
         |  (1640000600000000 - lt // 1000) // 1000000 AS age_s
         |FROM g WHERE (1640000600000000 - lt // 1000) // 1000000 > 450
         |ORDER BY "name"""".stripMargin) { (s, _) =>
      graft.operators.Metrics.staleSeries(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"),
          asOf = new java.sql.Timestamp(1640000600L * 1000),
          stalenessSec = 450)
        .select(col("name"),
          date_format(col("last_time"), TsFmtSpark).as("last_time"),
          col("last_value"), col("n_points"), col("age_s"))
        .orderBy("name")
    },

    // latency outliers: spans at or above their own (service, span name)
    // group's exact quantile — baseline-relative, unlike top-k absolute
    df("otlp_slow_outliers",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/red_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  "name" AS span_name, lower(traceId) AS trace_id,
         |  lower(spanId) AS span_id,
         |  CAST(endTimeUnixNano AS BIGINT) - CAST(startTimeUnixNano AS BIGINT)
         |    AS dur_ns FROM rec),
         |th AS (SELECT service_name, span_name,
         |  quantile_cont(dur_ns, 0.5) AS threshold_ns, count(*) AS n_group
         |  FROM sp GROUP BY service_name, span_name HAVING count(*) >= 2)
         |SELECT sp.service_name, sp.span_name, trace_id, span_id, dur_ns,
         |  threshold_ns, n_group, round(dur_ns / threshold_ns, 4) AS exceedance
         |FROM sp JOIN th USING (service_name, span_name)
         |WHERE dur_ns >= threshold_ns
         |ORDER BY service_name, span_name, trace_id, span_id""".stripMargin) { (s, _) =>
      graft.operators.Traces.slowOutliers(
          Otlp.readTraces(s, s"$fx/red_traces.jsonl"), q = 0.5, minSpans = 2)
        .orderBy("service_name", "span_name", "trace_id", "span_id")
    },

    // log-volume anomaly: per (service, window) count z-scored against the
    // service's own across-window mean/stddev — the log-storm detector
    df("otlp_volume_anomaly",
      s"""WITH rec AS (${logsFlat(s"$fx/template_logs.jsonl")}),
         |w AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  CAST(timeUnixNano AS BIGINT) // 10000000000 * 10 AS wsec,
         |  count(*) AS n_logs
         |  FROM rec GROUP BY 1, 2),
         |st AS (SELECT service_name, avg(n_logs) AS m, stddev_samp(n_logs) AS sd,
         |  count(*) AS nw FROM w GROUP BY service_name),
         |z AS (SELECT w.service_name, wsec, n_logs, m, sd,
         |  CASE WHEN nw >= 2 AND sd > 0
         |    THEN round((n_logs - m) / sd, 4) END AS z
         |  FROM w JOIN st USING (service_name))
         |SELECT service_name,
         |  strftime(make_timestamp(wsec * 1000000), '$TsFmtDuck')
         |    AS window_start,
         |  n_logs, round(m, 4) AS svc_mean, round(sd, 4) AS svc_sd, z,
         |  coalesce(abs(z) >= 1.0, false) AS anomaly
         |FROM z ORDER BY service_name, wsec""".stripMargin) { (s, _) =>
      graft.operators.Logs.volumeAnomaly(
          Otlp.readLogs(s, s"$fx/template_logs.jsonl"), windowSec = 10,
          zThreshold = 1.0)
        .withColumn("window_start",
          date_format(col("window_start"), TsFmtSpark))
        .orderBy("service_name", "window_start")
    },

    // logs -> metrics bridge (the OTel count connector): log records roll
    // up to delta sum points shaped like the metrics table, composable
    // with every metric transform
    df("otlp_log_count_metric",
      s"""WITH rec AS (${logsFlat(s"$fx/template_logs.jsonl")}),
         |w AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  coalesce(severityText, 'UNSPECIFIED') AS sev,
         |  CAST(timeUnixNano AS BIGINT) // 10000000000 * 10 AS wsec
         |  FROM rec)
         |SELECT 'log.record.count' AS "name", service_name,
         |  CAST(NULL AS VARCHAR) AS service_namespace,
         |  CAST(NULL AS VARCHAR) AS service_instance_id,
         |  CAST(NULL AS VARCHAR) AS resource_attributes,
         |  'graft.count_connector' AS scope_name,
         |  concat('{"severity_text":"', sev, '"}') AS metric_attributes,
         |  strftime(make_timestamp(wsec * 1000000), '$TsFmtDuck')
         |    AS time_unix_nano,
         |  true AS is_monotonic, CAST(NULL AS DOUBLE) AS double_value,
         |  count(*) AS int_value, 1 AS aggregation_temporality
         |FROM w GROUP BY service_name, sev, wsec
         |ORDER BY service_name, metric_attributes, time_unix_nano""".stripMargin) { (s, _) =>
      graft.operators.Logs.logCountMetric(
          Otlp.readLogs(s, s"$fx/template_logs.jsonl"), windowSec = 10)
        .withColumn("time_unix_nano",
          date_format(col("time_unix_nano"), TsFmtSpark))
        .orderBy("service_name", "metric_attributes", "time_unix_nano")
    },

    // template DRIFT between two corpora (gateway vs the rest): one
    // union-mined rule, per-template frequencies and JS contributions
    df("otlp_template_drift",
      s"""WITH rec AS (${logsFlat(s"$fx/template_logs.jsonl")}),
         |b AS (SELECT row_number() OVER () AS rid,
         |  CASE WHEN ${duckService("res.attributes")} = 'gateway'
         |    THEN 'a' ELSE 'b' END AS side,
         |  string_split_regex(trim(body.stringValue), '\\s+') AS toks
         |  FROM rec WHERE body.stringValue IS NOT NULL
         |    AND trim(body.stringValue) <> ''),
         |t AS (SELECT rid, side, toks, len(toks) AS n FROM b),
         |px AS (SELECT rid, n, i AS pos, toks[i] AS tok
         |  FROM t, unnest(generate_series(1, n)) AS g(i)),
         |card AS (SELECT n, pos FROM px GROUP BY n, pos
         |  HAVING count(DISTINCT tok) > 3),
         |tm AS (SELECT rid, px.n,
         |  string_agg(CASE WHEN card.pos IS NOT NULL THEN '<*>' ELSE tok END,
         |    ' ' ORDER BY px.pos) AS template
         |  FROM px LEFT JOIN card ON card.n = px.n AND card.pos = px.pos
         |  GROUP BY rid, px.n),
         |tms AS (SELECT tm.template, tm.n, t.side
         |  FROM tm JOIN t ON t.rid = tm.rid),
         |cnt AS (SELECT template, n,
         |  CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |  CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
         |  FROM tms GROUP BY template, n),
         |tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM cnt)
         |SELECT template, CAST(n AS INT) AS n_tokens, n_a, n_b,
         |  round(n_a / ta, 6) AS p_a, round(n_b / tb, 6) AS p_b,
         |  round((CASE WHEN n_a > 0 THEN (n_a / ta) *
         |      ln((n_a / ta) / ((n_a / ta + n_b / tb) / 2)) ELSE 0 END +
         |    CASE WHEN n_b > 0 THEN (n_b / tb) *
         |      ln((n_b / tb) / ((n_a / ta + n_b / tb) / 2)) ELSE 0 END) / 2, 6)
         |    AS js_contrib
         |FROM cnt CROSS JOIN tot ORDER BY template""".stripMargin) { (s, _) =>
      val logs = Otlp.readLogs(s, s"$fx/template_logs.jsonl")
      graft.operators.Logs.templateDrift(
          logs.where(col("service_name") === "gateway"),
          logs.where(col("service_name") =!= "gateway"), maxDistinct = 3)
        .orderBy("template")
    },

    // Drain-style log template mining (beyond-reference surface): one row
    // per message shape — a position is a parameter slot when its distinct
    // token count (within the same-token-count group) exceeds the budget
    df("otlp_log_templates",
      s"""WITH rec AS (${logsFlat(s"$fx/template_logs.jsonl")}),
         |b AS (SELECT row_number() OVER () AS rid,
         |  string_split_regex(trim(body.stringValue), '\\s+') AS toks
         |  FROM rec WHERE body.stringValue IS NOT NULL
         |    AND trim(body.stringValue) <> ''),
         |t AS (SELECT rid, toks, len(toks) AS n FROM b),
         |px AS (SELECT rid, n, i AS pos, toks[i] AS tok
         |  FROM t, unnest(generate_series(1, n)) AS g(i)),
         |card AS (SELECT n, pos FROM px GROUP BY n, pos
         |  HAVING count(DISTINCT tok) > 3),
         |tm AS (SELECT rid, px.n,
         |  string_agg(CASE WHEN card.pos IS NOT NULL THEN '<*>' ELSE tok END,
         |    ' ' ORDER BY px.pos) AS template
         |  FROM px LEFT JOIN card ON card.n = px.n AND card.pos = px.pos
         |  GROUP BY rid, px.n)
         |SELECT template, CAST(n AS INT) AS n_tokens,
         |  count(*) AS n_logs
         |FROM tm GROUP BY 1, 2 ORDER BY template""".stripMargin) { (s, _) =>
      graft.operators.Logs.logTemplates(
          Otlp.readLogs(s, s"$fx/template_logs.jsonl"), maxDistinct = 3)
        .orderBy("template")
    },

    // stateless template classification (the batch-mines/stream-classifies
    // split): bodies against a known template set, most specific arm first
    df("otlp_template_match",
      s"""WITH rec AS (${logsFlat(s"$fx/template_logs.jsonl")}),
         |c AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  CASE
         |    WHEN regexp_matches(body.stringValue,
         |      '^Accepted connection from \\S+ port 443$$')
         |      THEN 'Accepted connection from <*> port 443'
         |    WHEN regexp_matches(body.stringValue,
         |      '^Accepted connection from \\S+ port \\S+$$')
         |      THEN 'Accepted connection from <*> port <*>'
         |    WHEN regexp_matches(body.stringValue,
         |      '^Disk usage at \\S+ percent$$')
         |      THEN 'Disk usage at <*> percent'
         |    WHEN body.stringValue = 'Service started' THEN 'Service started'
         |    ELSE '<novel>'
         |  END AS template FROM rec)
         |SELECT service_name, template, count(*) AS n_logs
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, _) =>
      graft.operators.Logs.matchTemplates(
          Otlp.readLogs(s, s"$fx/template_logs.jsonl"), Seq(
            "Accepted connection from <*> port <*>",
            "Accepted connection from <*> port 443",
            "Disk usage at <*> percent",
            "Service started"))
        // '<novel>' instead of null: Spark sorts NULLS FIRST, DuckDB NULLS
        // LAST, and the driver compares rows positionally — a null group
        // would misalign the two orderings into a false FAIL
        .withColumn("template", coalesce(col("template"), lit("<novel>")))
        .groupBy("service_name", "template")
        .agg(count(lit(1)).as("n_logs"))
        .orderBy("service_name", "template")
    },

    // the canonical PromQL composition sum by (name) (rate(...)): per-series
    // rates (full producer identity, counter resets handled) summed across
    // replicas at each timestamp — operator COMPOSITION, not a new operator
    df("otlp_sum_rate",
      s"""WITH m AS (${metricsFlat(s"$fx/replica_metrics.jsonl")}),
         |pts AS (SELECT CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  ${duckTs("dp.timeUnixNano")} AS t, m."name" AS "name",
         |  (list_filter(res.attributes,
         |    a -> a."key" = 'service.instance.id')[1])."value".stringValue AS inst,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v,
         |  m."sum".isMonotonic AS mono
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |lagd AS (SELECT *,
         |  lag(v) OVER (PARTITION BY "name", inst ORDER BY tns) AS pv,
         |  lag(tns) OVER (PARTITION BY "name", inst ORDER BY tns) AS pt
         |  FROM pts),
         |rr AS (SELECT t, "name",
         |  round((CASE WHEN mono AND v < pv THEN v ELSE v - pv END) /
         |    ((tns // 1000 - pt // 1000) / 1000000.0), 6) AS r
         |  FROM lagd WHERE pv IS NOT NULL)
         |SELECT "name", t AS time_unix_nano, round(sum(r), 6) AS rate_sum,
         |  count(*) AS n_series
         |FROM rr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, _) =>
      graft.operators.Metrics.rate(
          Otlp.readMetricsSum(s, s"$fx/replica_metrics.jsonl"))
        .where(col("rate_per_sec").isNotNull)
        .groupBy("name", "time_unix_nano")
        .agg(round(sum("rate_per_sec"), 6).as("rate_sum"),
          count(lit(1)).as("n_series"))
        .select(col("name"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("rate_sum"), col("n_series"))
        .orderBy("name", "time_unix_nano")
    },

    // exception report from span EVENTS (the OTel semantic convention:
    // event name 'exception' + exception.type/message attributes)
    df("otlp_exception_report",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/exception_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansEvT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT DISTINCT lower(traceId) AS t, lower(spanId) AS s,
         |  ${duckService("res.attributes")} AS svc, events
         |  FROM rec WHERE events IS NOT NULL),
         |ex AS (SELECT t, s, svc, ev
         |  FROM sp, unnest(events) AS d(ev) WHERE ev."name" = 'exception')
         |SELECT svc AS service_name,
         |  coalesce((list_filter(ev.attributes,
         |    a -> a."key" = 'exception.type')[1])."value".stringValue,
         |    'unknown') AS exception_type,
         |  count(*) AS n_events,
         |  count(DISTINCT t || '/' || s) AS n_spans,
         |  count(DISTINCT t) AS n_traces,
         |  min((list_filter(ev.attributes,
         |    a -> a."key" = 'exception.message')[1])."value".stringValue)
         |    AS sample_message
         |FROM ex GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, _) =>
      graft.operators.Traces.exceptionReport(
          Otlp.readTraces(s, s"$fx/exception_traces.jsonl"))
        .orderBy("service_name", "exception_type")
    },

    // parameter drill-down for one mined template: which values filled
    // each <*> slot, with counts
    df("otlp_template_params",
      s"""WITH rec AS (${logsFlat(s"$fx/template_logs.jsonl")}),
         |b AS (SELECT string_split_regex(trim(body.stringValue), '\\s+') AS toks
         |  FROM rec WHERE body.stringValue IS NOT NULL
         |    AND trim(body.stringValue) <> ''),
         |f AS (SELECT toks FROM b WHERE len(toks) = 6
         |  AND toks[1] = 'Accepted' AND toks[2] = 'connection'
         |  AND toks[3] = 'from' AND toks[5] = 'port')
         |SELECT s.slot, CASE s.slot WHEN 3 THEN toks[4] ELSE toks[6] END AS "value",
         |  count(*) AS n
         |FROM f CROSS JOIN (VALUES (3), (5)) s(slot)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, _) =>
      graft.operators.Logs.templateParams(
          Otlp.readLogs(s, s"$fx/template_logs.jsonl"),
          "Accepted connection from <*> port <*>")
        .orderBy("slot", "value")
    },

    // PromQL `sum by (name)`: replicas of one metric collapse to a single
    // per-timestamp total with the contributing-series count
    df("otlp_sum_by",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name", ${duckTs("dp.timeUnixNano")} AS t,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name", t AS time_unix_nano, round(sum(v), 6) AS "value",
         |  count(*) AS n_series
         |FROM pts WHERE v IS NOT NULL GROUP BY "name", t
         |ORDER BY "name", t""".stripMargin) { (s, _) =>
      graft.operators.Metrics.sumBy(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"), by = Seq("name"))
        .select(col("name"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("value"), col("n_series"))
        .orderBy("name", "time_unix_nano")
    },

    // per-service span latency profile: exact interpolated p50/p95/p99
    df("otlp_span_percentiles",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/services_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  CAST(CAST(endTimeUnixNano AS BIGINT) -
         |       CAST(startTimeUnixNano AS BIGINT) AS DOUBLE) AS dur FROM rec)
         |SELECT service_name, count(*) AS n_spans,
         |  round(quantile_cont(dur, 0.5), 4) AS p50_ns,
         |  round(quantile_cont(dur, 0.95), 4) AS p95_ns,
         |  round(quantile_cont(dur, 0.99), 4) AS p99_ns,
         |  CAST(max(dur) AS BIGINT) AS max_ns
         |FROM sp GROUP BY service_name ORDER BY service_name""".stripMargin) { (s, _) =>
      graft.operators.Traces.spanPercentiles(
          Otlp.readTraces(s, s"$fx/services_traces.jsonl"))
        .orderBy("service_name")
    },

    // per-service EXCLUSIVE (self) time — the flame-graph aggregation:
    // duration minus direct children's durations, rolled up by service
    df("otlp_self_time",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/services_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT lower(traceId) AS t, lower(spanId) AS s,
         |  lower(parentSpanId) AS p, ${duckService("res.attributes")} AS svc,
         |  CAST(endTimeUnixNano AS BIGINT) - CAST(startTimeUnixNano AS BIGINT)
         |    AS dur FROM rec),
         |cs AS (SELECT t, p, sum(dur) AS child_ns FROM sp GROUP BY t, p)
         |SELECT svc AS service_name, count(*) AS n_spans,
         |  CAST(sum(sp.dur - coalesce(cs.child_ns, 0)) AS BIGINT) AS self_ns,
         |  CAST(sum(sp.dur) AS BIGINT) AS total_ns
         |FROM sp LEFT JOIN cs ON cs.t = sp.t AND cs.p = sp.s
         |GROUP BY svc ORDER BY svc""".stripMargin) { (s, _) =>
      graft.operators.Traces.selfTime(
          Otlp.readTraces(s, s"$fx/services_traces.jsonl"))
        .orderBy("service_name")
    },

    // aggregate-then-quantile: bucket counts sum elementwise per (name,
    // bucket layout) across all points, THEN one interpolated median —
    // PromQL's histogram_quantile(sum by (le) (...)) shape
    df("otlp_hist_agg_quantile",
      s"""WITH m AS (${metricsFlat(s"$fx/hist_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name", dp.bucketCounts AS bc,
         |  dp.explicitBounds AS b
         |  FROM m, unnest(m.histogram.dataPoints) AS d(dp)),
         |px AS (SELECT "name", b, i AS pos, bc[i] AS cnt
         |  FROM pts, unnest(generate_series(1, len(bc))) AS g(i)),
         |ag AS (SELECT "name", b, pos, sum(cnt) AS csum, count(*) AS np
         |  FROM px GROUP BY "name", b, pos),
         |agg AS (SELECT "name", b, list(csum ORDER BY pos) AS c,
         |  max(np) AS n_points FROM ag GROUP BY "name", b),
         |st AS (SELECT "name", c, b, n_points,
         |  list_transform(generate_series(1, len(c)),
         |    i -> CAST(list_sum(c[1:i]) AS DOUBLE)) AS cums FROM agg),
         |st2 AS (SELECT *, cums[len(cums)] AS total,
         |  cums[len(cums)] * 0.5 AS target FROM st),
         |st3 AS (SELECT *,
         |  len(list_filter(cums, x -> x < target)) + 1 AS idx FROM st2)
         |SELECT "name", array_to_string(c, ',') AS bucket_counts, n_points,
         |  CASE WHEN total <= 0 THEN NULL
         |    WHEN idx > len(b) THEN b[len(b)]
         |    ELSE round((CASE WHEN idx = 1 THEN 0.0 ELSE b[idx-1] END)
         |      + (b[idx] - (CASE WHEN idx = 1 THEN 0.0 ELSE b[idx-1] END))
         |        * (target - (CASE WHEN idx = 1 THEN 0.0 ELSE cums[idx-1] END))
         |        / CAST(c[idx] AS DOUBLE), 6) END AS quantile
         |FROM st3 ORDER BY "name", bucket_counts""".stripMargin) { (s, _) =>
      graft.operators.Metrics.histogramQuantile(
          graft.operators.Metrics.aggregateHistograms(
            Otlp.readMetricsHistogram(s, s"$fx/hist_metrics.jsonl"),
            by = Seq("name")), q = 0.5)
        .select(col("name"),
          array_join(col("bucket_counts").cast("array<string>"), ",")
            .as("bucket_counts"),
          col("n_points"), col("quantile"))
        // bucket_counts tiebreaker: one row per (name, LAYOUT) — same-name
        // rows would otherwise sit in engine-dependent relative order and
        // trip the positional comparator
        .orderBy("name", "bucket_counts")
    },

    // PromQL label_replace: derive a label from a regex over another
    // label; no-match keeps the existing label (db-0 keeps preset-db,
    // the pod-less point keeps null)
    df("otlp_label_replace",
      s"""WITH m AS (${metricsFlat(s"$fx/label_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v,
         |  coalesce((list_filter(dp.attributes,
         |    a -> a."key" = 'pod')[1])."value".stringValue, '') AS pod,
         |  (list_filter(dp.attributes,
         |    a -> a."key" = 'deployment')[1])."value".stringValue AS dep0
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name", v AS "value",
         |  CASE WHEN regexp_full_match(pod, '([a-z]+)-[0-9a-f]+-.*')
         |    THEN regexp_replace(pod, '^([a-z]+)-[0-9a-f]+-.*$$', '\\1')
         |    ELSE dep0 END AS deployment
         |FROM pts ORDER BY "name", "value"""".stripMargin) { (s, _) =>
      graft.operators.Metrics.labelReplace(
          Otlp.readMetricsSum(s, s"$fx/label_metrics.jsonl"),
          dst = "deployment", replacement = "$1", src = "pod",
          regex = "([a-z]+)-[0-9a-f]+-.*")
        .select(col("name"), graft.operators.Metrics.pointValue.as("value"),
          col("deployment"))
        .orderBy("name", "value")
    },

    // PromQL label_join: concatenate label values (absent labels
    // contribute empty strings, separator always present)
    df("otlp_label_join",
      s"""WITH m AS (${metricsFlat(s"$fx/label_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v,
         |  coalesce((list_filter(dp.attributes,
         |    a -> a."key" = 'env')[1])."value".stringValue, '') AS env,
         |  coalesce((list_filter(dp.attributes,
         |    a -> a."key" = 'pod')[1])."value".stringValue, '') AS pod
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name", v AS "value", env || '/' || pod AS instance_key
         |FROM pts ORDER BY "name", "value"""".stripMargin) { (s, _) =>
      graft.operators.Metrics.labelJoin(
          Otlp.readMetricsSum(s, s"$fx/label_metrics.jsonl"),
          dst = "instance_key", sep = "/", srcs = Seq("env", "pod"))
        .select(col("name"), graft.operators.Metrics.pointValue.as("value"),
          col("instance_key"))
        .orderBy("name", "value")
    },

    // PromQL offset comparison (v / v offset 60s): per series, the value
    // one minute earlier and the day-over-day-style ratio
    df("otlp_offset_compare",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  CAST(dp.timeUnixNano AS BIGINT) // 1000 AS t_us,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |o AS (SELECT "name", t_us, v,
         |  max(v) OVER (PARTITION BY "name" ORDER BY t_us
         |    RANGE BETWEEN 60000000 PRECEDING AND 60000000 PRECEDING)
         |    AS offset_value
         |  FROM pts WHERE v IS NOT NULL)
         |SELECT "name",
         |  strftime(make_timestamp(t_us), '$TsFmtDuck') AS time_unix_nano,
         |  v AS "value", offset_value,
         |  CASE WHEN offset_value <> 0 THEN round(v / offset_value, 6)
         |    END AS ratio
         |FROM o ORDER BY "name", time_unix_nano""".stripMargin) { (s, _) =>
      graft.operators.Metrics.offsetCompare(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"), offsetSec = 60)
        .select(col("name"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("value"), col("offset_value"), col("ratio"))
        .orderBy("name", "time_unix_nano")
    },

    // logfmt body parsing (the collector's key-value parser): one row
    // per extracted k=v pair, quotes stripped
    df("otlp_logfmt",
      s"""WITH rec AS (${logsFlat(s"$fx/logfmt_logs.jsonl")}),
         |b AS (SELECT ${duckService("res.attributes")} AS svc,
         |  ${duckTs("timeUnixNano")} AS t, body.stringValue AS body
         |  FROM rec WHERE body.stringValue IS NOT NULL),
         |x AS (SELECT svc, t, unnest(regexp_extract_all(body,
         |  '([A-Za-z_][A-Za-z0-9_.]*)=("(?:[^"\\\\]|\\\\.)*"|[^\\s"]+)'))
         |  AS kv FROM b),
         |y AS (SELECT svc, t,
         |  regexp_extract(kv,
         |    '([A-Za-z_][A-Za-z0-9_.]*)=("(?:[^"\\\\]|\\\\.)*"|[^\\s"]+)',
         |    1) AS k,
         |  regexp_extract(kv,
         |    '([A-Za-z_][A-Za-z0-9_.]*)=("(?:[^"\\\\]|\\\\.)*"|[^\\s"]+)',
         |    2) AS v FROM x)
         |SELECT svc AS service_name, t AS time_unix_nano, k AS "key",
         |  CASE WHEN v LIKE '"%' THEN regexp_replace(
         |      regexp_replace(v, '^"|"$$', '', 'g'),
         |      '\\\\(.)', '\\1', 'g')
         |    ELSE v END AS "value"
         |FROM y ORDER BY time_unix_nano, "key"""".stripMargin) { (s, _) =>
      graft.operators.Logs.parseLogfmt(
          Otlp.readLogs(s, s"$fx/logfmt_logs.jsonl"))
        .select(col("service_name"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("key"), col("value"))
        .orderBy("time_unix_nano", "key")
    },

    // PromQL sum without(pod): collapse series by DROPPING labels,
    // grouping on the cleaned attribute set
    df("otlp_agg_without",
      s"""WITH m AS (${metricsFlat(s"$fx/label_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name", ${duckTs("dp.timeUnixNano")} AS t,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v,
         |  ${duckAttrs("""list_filter(dp.attributes, a -> a."key" <> 'pod')""")}
         |    AS attrs
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name", attrs AS metric_attributes, t AS time_unix_nano,
         |  round(sum(v), 6) AS "value", count(*) AS n_series
         |FROM pts WHERE v IS NOT NULL GROUP BY 1, 2, 3
         |ORDER BY "name", metric_attributes, time_unix_nano""".stripMargin) {
      (s, _) =>
      graft.operators.Metrics.aggregateWithout(
          Otlp.readMetricsSum(s, s"$fx/label_metrics.jsonl"),
          op = "sum", without = Seq("pod"))
        .select(col("name"), col("metric_attributes"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("value"), col("n_series"))
        .orderBy("name", "metric_attributes", "time_unix_nano")
    },

    // metric catalog inventory: per (name, unit) the series/point counts
    // and time span — the scope-inventory twin for metrics
    df("otlp_metric_inventory",
      s"""WITH m AS (${metricsFlat(s"$fx/label_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  coalesce(m.unit, '') AS unit,
         |  CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  m."name" || '|' || ${duckService("res.attributes")} || '|' ||
         |    '||' || ${duckAttrs("res.attributes")} || '|' ||
         |    coalesce(sl_name, '') || '|' || ${duckAttrs("dp.attributes")}
         |    AS sid
         |  FROM (SELECT rm.resource AS res, sm."scope"."name" AS sl_name,
         |      mt.* FROM read_json('$fx/label_metrics.jsonl',
         |      format='newline_delimited', columns={resourceMetrics: '$metricsRecT'}),
         |    unnest(resourceMetrics) AS a(rm),
         |    unnest(rm.scopeMetrics) AS b(sm),
         |    unnest(sm.metrics) AS c(mt)) m,
         |  unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name", unit, count(DISTINCT sid) AS n_series,
         |  count(*) AS n_points,
         |  strftime(make_timestamp(min(tns) // 1000), '$TsFmtDuck')
         |    AS first_time,
         |  strftime(make_timestamp(max(tns) // 1000), '$TsFmtDuck')
         |    AS last_time
         |FROM pts GROUP BY 1, 2 ORDER BY "name"""".stripMargin) { (s, _) =>
      graft.operators.Metrics.metricInventory(
          Otlp.readMetricsSum(s, s"$fx/label_metrics.jsonl"))
        .select(col("name"), col("unit"), col("n_series"), col("n_points"),
          date_format(col("first_time"), TsFmtSpark).as("first_time"),
          date_format(col("last_time"), TsFmtSpark).as("last_time"))
        .orderBy("name")
    },

    // PromQL histogram_stddev/stdvar: bucket-midpoint spread per point
    df("otlp_hist_stddev",
      s"""WITH m AS (${metricsFlat(s"$fx/hist_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name", ${duckTs("dp.timeUnixNano")} AS t,
         |  dp.bucketCounts AS bc, dp.explicitBounds AS b
         |  FROM m, unnest(m.histogram.dataPoints) AS d(dp)),
         |mm AS (SELECT "name", t, bc, b,
         |  list_transform(generate_series(1, len(bc)), i ->
         |    CASE WHEN i > len(b) THEN b[len(b)]
         |      WHEN i = 1 THEN CASE WHEN b[1] < 0 THEN b[1]
         |        ELSE b[1] / 2 END
         |      ELSE (b[i-1] + b[i]) / 2 END) AS mids,
         |  CAST(list_sum(bc) AS DOUBLE) AS total FROM pts),
         |mv AS (SELECT *, CASE WHEN total > 0 THEN
         |    list_sum(list_transform(generate_series(1, len(bc)),
         |      i -> bc[i] * mids[i])) / total END AS mean FROM mm)
         |SELECT "name", t AS time_unix_nano,
         |  CASE WHEN total <= 0 OR len(b) = 0 THEN NULL
         |    ELSE round(list_sum(list_transform(generate_series(1, len(bc)),
         |      i -> bc[i] * (mids[i] - mean) * (mids[i] - mean))) / total, 6)
         |    END AS stdvar,
         |  CASE WHEN total <= 0 OR len(b) = 0 THEN NULL
         |    ELSE round(sqrt(round(list_sum(list_transform(
         |      generate_series(1, len(bc)),
         |      i -> bc[i] * (mids[i] - mean) * (mids[i] - mean))) / total,
         |      6)), 6) END AS stddev
         |FROM mv ORDER BY "name", time_unix_nano""".stripMargin) { (s, _) =>
      graft.operators.Metrics.histogramStddev(
          Otlp.readMetricsHistogram(s, s"$fx/hist_metrics.jsonl"))
        .select(col("name"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("stdvar"), col("stddev"))
        .orderBy("name", "time_unix_nano")
    },

    // span concurrency: per service, peak spans in flight (sweep-line;
    // ends process before starts at the same instant). Times mirror the
    // engine's µs timestamp storage: start truncates to µs, end =
    // truncated start + exact ns duration.
    df("otlp_span_concurrency",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/red_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT ${duckService("res.attributes")} AS svc,
         |  lower(spanId) AS s,
         |  CAST(startTimeUnixNano AS BIGINT) // 1000 * 1000 AS t0,
         |  CAST(startTimeUnixNano AS BIGINT) // 1000 * 1000
         |    + (CAST(endTimeUnixNano AS BIGINT)
         |       - CAST(startTimeUnixNano AS BIGINT)) AS t1
         |  FROM rec),
         |ev AS (SELECT svc, t0 AS t, 1 AS d, s FROM sp
         |  UNION ALL SELECT svc, t1, -1, s FROM sp),
         |r AS (SELECT *, sum(d) OVER (PARTITION BY svc ORDER BY t, d, s
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM ev),
         |p AS (SELECT *, max(run) OVER (PARTITION BY svc) AS pk FROM r)
         |SELECT svc AS service_name,
         |  CAST(max(run) AS BIGINT) AS peak_concurrency,
         |  min(CASE WHEN run = pk THEN t END) AS peak_time_ns,
         |  CAST(count(*) / 2 AS BIGINT) AS n_spans
         |FROM p GROUP BY svc ORDER BY service_name""".stripMargin) { (s, _) =>
      graft.operators.Traces.spanConcurrency(
          Otlp.readTraces(s, s"$fx/red_traces.jsonl"))
        .select(col("service_name"),
          col("peak_concurrency"), col("peak_time_ns"), col("n_spans"))
        .orderBy("service_name")
    },

    // PromQL stddev by: population spread across replica series at each
    // timestamp (the aggregation-operator family's moment face)
    df("otlp_stddev_by",
      s"""WITH m AS (${metricsFlat(s"$fx/replica_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name", ${duckTs("dp.timeUnixNano")} AS t,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name", t AS time_unix_nano,
         |  round(stddev_pop(v), 6) AS "value", count(*) AS n_series
         |FROM pts WHERE v IS NOT NULL GROUP BY "name", t
         |ORDER BY "name", t""".stripMargin) { (s, _) =>
      graft.operators.Metrics.aggregateBy(
          Otlp.readMetricsSum(s, s"$fx/replica_metrics.jsonl"), op = "stddev")
        .select(col("name"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("value"), col("n_series"))
        .orderBy("name", "time_unix_nano")
    },

    // seasonality profile: per metric the value distribution by
    // minute-of-hour bucket — the time-of-day anomaly baseline
    df("otlp_seasonality",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  minute(make_timestamp(CAST(dp.timeUnixNano AS BIGINT) // 1000))
         |    AS bucket,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp))
         |SELECT "name", bucket, round(avg(v), 6) AS avg_value,
         |  min(v) AS min_value, max(v) AS max_value,
         |  round(stddev_pop(v), 6) AS stddev_value,
         |  count(*) AS n_points
         |FROM pts WHERE v IS NOT NULL GROUP BY 1, 2
         |ORDER BY "name", bucket""".stripMargin) { (s, _) =>
      graft.operators.Metrics.seasonality(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"), bucket = "minute")
        .select(col("name"), col("bucket"), col("avg_value"),
          col("min_value"), col("max_value"), col("stddev_value"),
          col("n_points"))
        .orderBy("name", "bucket")
    },

    // seasonal anomaly: points scored against the metric's own
    // time-of-day baseline — |z| >= k vs the (name, bucket) moments
    df("otlp_seasonal_anomaly",
      s"""WITH m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts AS (SELECT m."name" AS "name",
         |  hour(make_timestamp(CAST(dp.timeUnixNano AS BIGINT) // 1000))
         |    AS bucket,
         |  ${duckTs("dp.timeUnixNano")} AS t,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)
         |  WHERE coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) IS NOT NULL),
         |base AS (SELECT "name", bucket, round(avg(v), 6) AS avg_value,
         |  round(stddev_pop(v), 6) AS stddev_value
         |  -- gate on the ROUNDED spread like the Spark side, or a
         |  -- bucket with true spread under 5e-7 divides by 0.0 here
         |  FROM pts GROUP BY 1, 2 HAVING round(stddev_pop(v), 6) > 0)
         |SELECT p."name" AS "name", p.bucket, p.t AS time_unix_nano,
         |  p.v AS "value", b.avg_value, b.stddev_value,
         |  round((p.v - b.avg_value) / b.stddev_value, 6) AS z_score
         |FROM pts p JOIN base b ON p."name" = b."name" AND p.bucket = b.bucket
         |WHERE abs(round((p.v - b.avg_value) / b.stddev_value, 6)) >= 1.2
         |ORDER BY p."name", time_unix_nano""".stripMargin) { (s, _) =>
      graft.operators.Metrics.seasonalAnomaly(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"),
          bucket = "hour", k = 1.2)
        .select(col("name"), col("bucket"),
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("value"), col("avg_value"), col("stddev_value"), col("z_score"))
        .orderBy("name", "time_unix_nano")
    },

    // PromQL holt_winters (double exponential smoothing): per series the
    // trend-aware smoothed last value — Prometheus's recurrence exactly
    df("otlp_holt_winters",
      s"""WITH RECURSIVE m AS (${metricsFlat(s"$fx/rate_metrics.jsonl")}),
         |pts0 AS (SELECT m."name" AS "name",
         |  CAST(dp.timeUnixNano AS BIGINT) AS tns,
         |  coalesce(dp.asDouble, CAST(dp.asInt AS DOUBLE)) AS v
         |  FROM m, unnest(m."sum".dataPoints) AS d(dp)),
         |pts AS (SELECT *, CAST(row_number() OVER (PARTITION BY "name"
         |  ORDER BY tns, v) AS INT) AS i FROM pts0 WHERE v IS NOT NULL),
         |n AS (SELECT "name", max(i) AS n, max(tns) AS lt
         |  FROM pts GROUP BY "name"),
         |hw AS (
         |  SELECT p2."name" AS "name", 2 AS i, p2.v AS s, p2.v - p1.v AS b
         |  FROM pts p1 JOIN pts p2 ON p1."name" = p2."name"
         |    AND p1.i = 1 AND p2.i = 2
         |  UNION ALL
         |  SELECT hw."name", hw.i + 1,
         |    0.5 * p.v + 0.5 * (hw.s + hw.b),
         |    0.3 * ((0.5 * p.v + 0.5 * (hw.s + hw.b)) - hw.s) + 0.7 * hw.b
         |  FROM hw JOIN pts p ON p."name" = hw."name" AND p.i = hw.i + 1)
         |SELECT n."name" AS "name",
         |  strftime(make_timestamp(n.lt // 1000), '$TsFmtDuck') AS last_time,
         |  CAST(n.n AS BIGINT) AS n_points, round(hw.s, 6) AS smoothed
         |FROM n LEFT JOIN hw ON hw."name" = n."name" AND hw.i = n.n
         |ORDER BY n."name"""".stripMargin) { (s, _) =>
      graft.operators.Metrics.holtWinters(
          Otlp.readMetricsSum(s, s"$fx/rate_metrics.jsonl"),
          sf = 0.5, tf = 0.3)
        .select(col("name"),
          date_format(col("last_time"), TsFmtSpark).as("last_time"),
          col("n_points"), col("smoothed"))
        .orderBy("name")
    },

    // latency shift: per (service, span name) p50/p95 before vs after a
    // deploy instant — the release-regression diff table
    df("otlp_latency_shift",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/deploy_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT ${duckService("res.attributes")} AS service_name,
         |  sp."name" AS span_name,
         |  CAST(startTimeUnixNano AS BIGINT) < 1640000300000000000 AS bef,
         |  CAST(CAST(endTimeUnixNano AS BIGINT) -
         |       CAST(startTimeUnixNano AS BIGINT) AS DOUBLE) AS dur
         |  FROM rec sp),
         |g AS (SELECT service_name, span_name,
         |  count(*) FILTER (WHERE bef) AS n_before,
         |  count(*) FILTER (WHERE NOT bef) AS n_after,
         |  round(quantile_cont(dur, 0.5) FILTER (WHERE bef), 4) AS p50_before,
         |  round(quantile_cont(dur, 0.5) FILTER (WHERE NOT bef), 4) AS p50_after,
         |  round(quantile_cont(dur, 0.95) FILTER (WHERE bef), 4) AS p95_before,
         |  round(quantile_cont(dur, 0.95) FILTER (WHERE NOT bef), 4) AS p95_after
         |  FROM sp GROUP BY 1, 2)
         |SELECT *, round(p95_after - p95_before, 4) AS p95_delta_ns,
         |  CASE WHEN p95_before IS NULL OR p95_after IS NULL OR p95_before = 0
         |    THEN NULL ELSE round(p95_after / p95_before, 6) END AS p95_ratio
         |FROM g ORDER BY service_name, span_name""".stripMargin) { (s, _) =>
      graft.operators.Traces.latencyShift(
          Otlp.readTraces(s, s"$fx/deploy_traces.jsonl"),
          splitTime = new java.sql.Timestamp(1640000300000L))
        .orderBy("service_name", "span_name")
    },

    // exemplar -> span correlation: sampled observations resolved to
    // the actual spans behind them (metrics <-> traces bridge)
    df("otlp_exemplar_spans",
      s"""WITH m AS (
         |  SELECT rm.resource AS res, mt.* FROM read_json(
         |      '$fx/exemplar_metrics.jsonl', format='newline_delimited',
         |      columns={resourceMetrics: '$metricsExT'}),
         |    unnest(resourceMetrics) AS a(rm),
         |    unnest(rm.scopeMetrics) AS b(sm),
         |    unnest(sm.metrics) AS c(mt)),
         |ex AS (SELECT m."name" AS "name", ${duckTs("dp.timeUnixNano")} AS pt,
         |  coalesce(e.asDouble, CAST(e.asInt AS DOUBLE)) AS exemplar_value,
         |  lower(e.traceId) AS trace_id, lower(e.spanId) AS span_id
         |  FROM m, unnest(m.histogram.dataPoints) AS d(dp),
         |    unnest(dp.exemplars) AS x(e)
         |  WHERE e.traceId IS NOT NULL AND e.spanId IS NOT NULL),
         |rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/red_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT lower(traceId) AS trace_id, lower(spanId) AS span_id,
         |  sp."name" AS span_name, ${duckService("res.attributes")}
         |    AS span_service,
         |  CAST(endTimeUnixNano AS BIGINT) - CAST(startTimeUnixNano AS BIGINT)
         |    AS span_duration_ns
         |  FROM rec sp)
         |SELECT ex."name", ex.pt AS point_time, ex.exemplar_value,
         |  ex.trace_id, ex.span_id, sp.span_name, sp.span_service,
         |  sp.span_duration_ns, sp.span_name IS NOT NULL AS matched
         |FROM ex LEFT JOIN sp USING (trace_id, span_id)
         |ORDER BY "name", trace_id, span_id""".stripMargin) { (s, _) =>
      graft.operators.Metrics.exemplarSpans(
          Otlp.readMetricsHistogram(s, s"$fx/exemplar_metrics.jsonl"),
          Otlp.readTraces(s, s"$fx/red_traces.jsonl"))
        .select(col("name"),
          date_format(col("point_time"), TsFmtSpark).as("point_time"),
          col("exemplar_value"), col("trace_id"), col("span_id"),
          col("span_name"), col("span_service"), col("span_duration_ns"),
          col("matched"))
        .orderBy("name", "trace_id", "span_id")
    },

    // log <-> span correlation: trace-context logs annotated with the
    // operation (and duration/status) they were emitted under
    df("otlp_log_span_join",
      s"""WITH lrec AS (${logsFlat(s"$fx/corr_logs.jsonl")}),
         |lg AS (SELECT ${duckTs("timeUnixNano")} AS t,
         |  ${duckService("res.attributes")} AS service_name,
         |  severityText AS severity_text, body.stringValue AS body,
         |  lower(traceId) AS trace_id, lower(spanId) AS span_id
         |  FROM lrec
         |  WHERE traceId IS NOT NULL AND spanId IS NOT NULL),
         |rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/red_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT lower(traceId) AS trace_id, lower(spanId) AS span_id,
         |  sp."name" AS span_name, ${duckService("res.attributes")}
         |    AS span_service,
         |  CAST(endTimeUnixNano AS BIGINT) - CAST(startTimeUnixNano AS BIGINT)
         |    AS span_duration_ns,
         |  sp.status.code AS span_status_code
         |  FROM rec sp)
         |SELECT lg.t AS time_unix_nano, lg.service_name, lg.severity_text,
         |  lg.body, lg.trace_id, lg.span_id, sp.span_name, sp.span_service,
         |  sp.span_duration_ns, sp.span_status_code,
         |  sp.span_name IS NOT NULL AS matched
         |FROM lg LEFT JOIN sp USING (trace_id, span_id)
         |ORDER BY time_unix_nano, trace_id, span_id""".stripMargin) { (s, _) =>
      graft.operators.Logs.spanJoin(
          Otlp.readLogs(s, s"$fx/corr_logs.jsonl"),
          Otlp.readTraces(s, s"$fx/red_traces.jsonl"))
        .select(
          date_format(col("time_unix_nano"), TsFmtSpark).as("time_unix_nano"),
          col("service_name"), col("severity_text"), col("body"),
          col("trace_id"), col("span_id"), col("span_name"),
          col("span_service"), col("span_duration_ns"),
          col("span_status_code"), col("matched"))
        // (µs time, trace) can tie — two logs of one span's trace in the
        // same microsecond — so the span id completes the total order
        .orderBy("time_unix_nano", "trace_id", "span_id")
    },

    // trace completeness audit: spans/roots/orphan-parent counts per
    // trace — the ingestion-QA report (traceTree forgives; this reports)
    df("otlp_trace_completeness",
      s"""WITH rec AS (
         |  SELECT rs.resource AS res, sp.* FROM read_json('$fx/tree_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT lower(traceId) AS t, lower(spanId) AS s,
         |  CASE WHEN parentSpanId IS NULL OR parentSpanId = '' THEN NULL
         |    ELSE lower(parentSpanId) END AS p FROM rec),
         |orph AS (SELECT r.t, count(*) AS n_orphans
         |  FROM sp r LEFT JOIN sp i ON r.t = i.t AND r.p = i.s
         |  WHERE r.p IS NOT NULL AND i.s IS NULL GROUP BY r.t),
         |g AS (SELECT t, count(*) AS n_spans,
         |  count(*) FILTER (WHERE p IS NULL) AS n_roots FROM sp GROUP BY t)
         |SELECT g.t AS trace_id, n_spans, n_roots,
         |  coalesce(n_orphans, 0) AS n_orphans,
         |  n_roots = 1 AND coalesce(n_orphans, 0) = 0 AS complete
         |FROM g LEFT JOIN orph ON g.t = orph.t
         |ORDER BY trace_id""".stripMargin) { (s, _) =>
      graft.operators.Traces.traceCompleteness(
          Otlp.readTraces(s, s"$fx/tree_traces.jsonl"))
        .orderBy("trace_id")
    },

    // critical-path blame chain: per trace, the ancestor chain of the
    // last-finishing span as root>...>laggard with hop count + summed ns
    df("otlp_critical_path",
      s"""WITH RECURSIVE rec AS (
         |  SELECT sp.* FROM read_json('$fx/tree_traces.jsonl',
         |      format='newline_delimited', columns={resourceSpans: '$spansRecT'}),
         |    unnest(resourceSpans) AS a(rs),
         |    unnest(rs.scopeSpans) AS b(ss),
         |    unnest(ss.spans) AS c(sp)),
         |sp AS (SELECT lower(traceId) AS t, lower(spanId) AS s,
         |  lower(parentSpanId) AS p, "name" AS nm,
         |  CAST(endTimeUnixNano AS BIGINT) AS e,
         |  CAST(endTimeUnixNano AS BIGINT) - CAST(startTimeUnixNano AS BIGINT)
         |    AS dur FROM rec),
         |tgt AS (SELECT t, s, p, nm, dur FROM (
         |  SELECT *, row_number() OVER (PARTITION BY t
         |    ORDER BY e DESC, s DESC) AS rn FROM sp) WHERE rn = 1),
         |walk AS (
         |  SELECT t, p AS par, nm AS path, dur AS path_dur, 0 AS depth
         |    FROM tgt
         |  UNION ALL
         |  SELECT w.t, c.p, c.nm || '>' || w.path, w.path_dur + c.dur,
         |    w.depth + 1
         |  FROM walk w JOIN sp c ON c.t = w.t AND c.s = w.par
         |  WHERE w.depth < 20),
         |fin AS (SELECT *, row_number() OVER (PARTITION BY t
         |  ORDER BY depth DESC) AS rn FROM walk)
         |SELECT t AS trace_id, path, depth AS n_hops,
         |  path_dur AS path_dur_ns, (par IS NULL) AS reached_root
         |FROM fin WHERE rn = 1 ORDER BY trace_id""".stripMargin) { (s, _) =>
      graft.operators.Traces.criticalPath(
          Otlp.readTraces(s, s"$fx/tree_traces.jsonl"))
        .select(col("trace_id"), col("path"), col("n_hops"),
          col("path_dur_ns"), col("reached_root"))
        .orderBy("trace_id")
    }
  )
}
