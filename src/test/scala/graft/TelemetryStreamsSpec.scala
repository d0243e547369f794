package graft

import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

/** End-to-end: live HTTP ingest seals parquet; Structured Streaming picks
  * the layout up as micro-batches (windowed aggregation with watermark,
  * streaming dedup, custom per-trace state). */
class TelemetryStreamsSpec extends SparkTestBase {

  private val ports = SparkTestBase.freePorts(4)

  private val fx = "src/test/resources/otlp"
  private val client = HttpClient.newHttpClient()
  private val Token = "dev-token-1234567890"

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$fx/$name"))

  private def seededRoot(): String = {
    // seal the logs+traces fixtures into a fresh parquet export root
    val root = java.nio.file.Files.createTempDirectory("ts_stream").toString
    val uri = s"otlp:127.0.0.1:${ports(0)}"
    OtlpServe.otlpServe(spark, uri, Map(
      "token" -> Token, "target" -> "parquet", "parquet_root" -> root,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824"))
    def post(path: String, body: Array[Byte]): Int =
      client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${ports(0)}$path"))
        .header("Content-Type", "application/x-ndjson")
        .header("Authorization", s"Bearer $Token")
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
    assert(post("/v1/logs", fixture("logs_simple.jsonl")) == 202)
    assert(post("/v1/traces", fixture("traces_simple.jsonl")) == 202)
    // duplicate spans on purpose (at-least-once contract) for the dedup test
    assert(post("/v1/traces", fixture("traces_simple.jsonl")) == 202)
    OtlpServe.otlpFlush(spark, s"otlp:127.0.0.1:${ports(0)}")
    OtlpServe.otlpStop(spark, s"otlp:127.0.0.1:${ports(0)}")
    root
  }

  private lazy val root = seededRoot()

  test("windowed severity rate over the sealed layout (watermark + window)") {
    // complete mode for the finite golden check (production uses append,
    // where a window emits once the watermark passes its end)
    val q = TelemetryStreams.severityRate(
        TelemetryStreams.logStream(spark, root))
      .writeStream.format("memory").queryName("sevrate")
      .outputMode("complete").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("sevrate")
    assert(rows.agg(sum("cnt")).first().getLong(0) == 3L)
    assert(rows.where(col("severity_text") === "ERROR").count() == 1)
    assert(rows.select("service_name").distinct().first().getString(0) == "test-service")
  }

  test("windowed RED metrics over the sealed span stream: rate, errors, " +
    "durations per (service, span name)") {
    val q = TelemetryStreams.redRate(
        TelemetryStreams.traceStream(spark, root))
      .writeStream.format("memory").queryName("redrate")
      .outputMode("complete").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("redrate").collect()
      .map(r => r.getAs[String]("span_name") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_errors"),
          r.getAs[Long]("max_ns"))).toMap
    // the seed posts traces_simple twice (at-least-once): every span x2
    assert(rows("GET /users") == ((2L, 0L, 100000000L)), rows)
    assert(rows("SELECT users") == ((2L, 0L, 40000000L)), rows)
    assert(rows("process batch") == ((2L, 2L, 1000000000L)), rows)
  }

  test("streaming tail sampler: whole traces emit after the decision " +
    "window with batch-identical membership and reasons") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, String, String, Int, Long)]
    val cols = Seq("trace_id", "span_id", "parent_span_id", "name",
      "status_code", "duration_time_unix_nano")
    val batch1 = Seq(
      ("terr", "s1", null, "root", 1, 10L),
      ("terr", "s2", "s1", "boom", 2, 20L),     // error span
      ("tslow", "s1", null, "root", 1, 5000L),  // >= slowNs
      ("tca", "s1", null, "root", 1, 10L),      // clean -> hash decides
      ("tcb", "s1", null, "root", 1, 10L))      // clean -> hash decides
    // batch twin over the same rows: the stream must reach identical
    // membership + reasons once every trace's decision window lapses
    val expect = graft.operators.Traces.tailSample(
        batch1.toDF(cols: _*), slowNs = 1000L, sampleRate = 0.5)
      .collect().map(r => (r.getAs[String]("trace_id"),
        r.getAs[String]("span_id")) -> r.getAs[String]("keep_reason")).toMap
    val q = TelemetryStreams.tailSampleStream(
        in.toDF().toDF(cols: _*), slowNs = 1000L, sampleRate = 0.5,
        decisionWaitMs = 2000L)
      .writeStream.format("memory").queryName("tailstream")
      .outputMode("append").start()
    // NOTE: no processAllAvailable here — with a processing-time timeout
    // the engine keeps scheduling (empty) batches to fire expirations, so
    // "all available" never settles; poll the sink for the decided rows
    in.addData(batch1: _*)
    val deadline = System.currentTimeMillis() + 120000
    while (spark.table("tailstream").count() < expect.size &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(250)
    q.stop()
    val got = spark.table("tailstream").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(5)).toMap
    assert(got == expect, s"stream $got vs batch $expect")
    // the error trace emits BOTH its spans (whole-trace keep)
    assert(got((("terr", "s1"))) == "error" && got((("terr", "s2"))) == "error")
    assert(got((("tslow", "s1"))) == "slow")
  }

  test("streaming rate matches the batch operator across micro-batch " +
    "splits, including the counter reset; late points emit null without " +
    "rewinding state") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fxPath = s"$fx/rate_metrics.jsonl"
    val batchRows = Otlp.readMetricsSum(spark, fxPath)
      .select("time_unix_nano", "name", "service_name", "metric_attributes",
        "int_value", "double_value", "is_monotonic")
      .collect().sortBy(_.getAs[Timestamp]("time_unix_nano").getTime)
      .map(r => (r.getAs[Timestamp]("time_unix_nano"), r.getAs[String]("name"),
        r.getAs[String]("service_name"), r.getAs[String]("metric_attributes"),
        Option(r.getAs[Any]("int_value")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("double_value")).map(_.asInstanceOf[Double]),
        r.getAs[Boolean]("is_monotonic")))
    val in = MemoryStream[(Timestamp, String, String, String,
      Option[Long], Option[Double], Boolean)]
    // default trigger + processAllAvailable (event-time timeouts are
    // data-driven, so unlike the tail sampler this settles); ONE query run
    // so state must carry across the mid-series micro-batch split
    val streamIn = in.toDF().toDF("time_unix_nano",
        "name", "service_name", "metric_attributes", "int_value",
        "double_value", "is_monotonic")
      .withColumn("service_namespace", lit(null).cast("string"))
      .withColumn("service_instance_id", lit(null).cast("string"))
      .withColumn("resource_attributes", lit(null).cast("string"))
      .withColumn("scope_name", lit(null).cast("string"))
    val run = TelemetryStreams.rateStream(streamIn)
      .writeStream.format("memory").queryName("ratestream")
      .outputMode("append").start()
    val (b1, b2) = batchRows.splitAt(3)
    in.addData(b1.toIndexedSeq: _*); run.processAllAvailable()
    in.addData(b2.toIndexedSeq: _*); run.processAllAvailable()
    val got = spark.table("ratestream").collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("t_us")) ->
        Option(r.getAs[Any]("rate_per_sec"))).toMap
    val expect = graft.operators.Metrics.rate(
        Otlp.readMetricsSum(spark, fxPath))
      .select(col("name"),
        unix_micros(col("time_unix_nano")).as("t_us"), col("rate_per_sec"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        Option(r.getAs[Any]("rate_per_sec"))).toMap
    assert(got == expect, s"stream $got vs batch $expect")
    // the output carries the FULL series identity (ADVICE r8): a consumer
    // must be able to attribute every rate row to exactly one producer
    assert(Seq("service_namespace", "resource_attributes", "scope_name")
      .forall(spark.table("ratestream").columns.contains))
    // a LATE point (behind the stored head) emits null and does not
    // rewind: replaying the first requests.total point yields null rate
    val late = batchRows.find(_._2 == "requests.total").get
    in.addData(late); run.processAllAvailable()
    run.stop()
    val lateRows = spark.table("ratestream").collect()
      .filter(r => r.getAs[String]("name") == "requests.total" &&
        r.getAs[Long]("t_us") == late._1.getTime * 1000)
    assert(lateRows.length == 2, lateRows.mkString("; "))
    assert(lateRows.count(r => r.getAs[Any]("rate_per_sec") == null) >= 1)
  }

  test("streaming exception rate: span events named 'exception' roll up " +
    "per (window, service, type); others and event-less spans drop; a " +
    "replayed span counts once") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String, String, String, String)]
    val df = in.toDF()
      .toDF("start_time_unix_nano", "trace_id", "span_id",
        "service_name", "events_json")
    val q = TelemetryStreams.exceptionRate(df)
      .writeStream.format("memory").queryName("excrate")
      .outputMode("complete").start()
    val t0 = Timestamp.valueOf("2024-01-01 00:00:10")
    def ev(tpe: String, msg: String) =
      s"""[{"time_unix_nano":1,"name":"exception","attributes":{"exception.type":"$tpe","exception.message":"$msg"}}]"""
    in.addData(
      (t0, "t1", "s1", "api", ev("Boom", "a")),
      (t0, "t1", "s1", "api", ev("Boom", "a")), // byte-equal replay: once
      (t0, "t1", "s2", "api", ev("Boom", "b")),
      (t0, "t2", "s1", "db", ev("Timeout", "c")),
      (t0, "t3", "s1", "api",
        """[{"time_unix_nano":2,"name":"retry","attributes":{}}]"""),
      (t0, "t4", "s1", "api", null))
    q.processAllAvailable(); q.stop()
    val got = spark.table("excrate").collect()
      .map(r => (r.getAs[String]("service_name"),
        r.getAs[String]("exception_type")) -> r.getAs[Long]("n_events")).toMap
    assert(got == Map(("api", "Boom") -> 2L, ("db", "Timeout") -> 1L), got)
  }

  test("streaming sum-by: windowed cross-series totals, null values " +
    "filtered, int fallback — hand-computed golden") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String, Option[Double], Option[Long])]
    val df = in.toDF()
      .toDF("time_unix_nano", "name", "double_value", "int_value")
    val q = TelemetryStreams.sumByStream(df)
      .writeStream.format("memory").queryName("sumbystream")
      .outputMode("complete").start()
    val t0 = Timestamp.valueOf("2024-01-01 00:00:10")
    val t1 = Timestamp.valueOf("2024-01-01 00:00:40") // same window as t0
    val t2 = Timestamp.valueOf("2024-01-01 00:01:10") // next window
    in.addData(
      (t0, "qps", Some(1.5), None), (t1, "qps", Some(2.5), None),
      (t1, "qps", Some(2.5), None), // at-least-once replay: must not double
      (t2, "qps", None, Some(4L)),  // int fallback
      (t0, "errs", Some(1.0), None),
      (t1, "nul", None, None))      // no recorded value: filtered
    q.processAllAvailable(); q.stop()
    val got = spark.table("sumbystream").collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Timestamp]("window_start")) ->
        ((r.getAs[Double]("value"), r.getAs[Long]("n_points")))).toMap
    val w0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val w1 = Timestamp.valueOf("2024-01-01 00:01:00")
    assert(got == Map(
      ("qps", w0) -> ((4.0, 2L)), ("qps", w1) -> ((4.0, 1L)),
      ("errs", w0) -> ((1.0, 1L))), got)
  }

  test("streaming over-time: windowed per-series avg/min/max/last, " +
    "replay dropped — hand-computed golden") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String, String, Option[Double], Option[Long])]
    val df = in.toDF().toDF("time_unix_nano", "name", "service_instance_id",
        "double_value", "int_value")
      .selectExpr("time_unix_nano", "name", "'svc' AS service_name",
        "CAST(NULL AS STRING) AS service_namespace", "service_instance_id",
        "'{}' AS resource_attributes", "'sc' AS scope_name",
        "'{}' AS metric_attributes", "double_value", "int_value")
    val q = TelemetryStreams.overTimeStream(df)
      .writeStream.format("memory").queryName("overtimestream")
      .outputMode("complete").start()
    val t0 = Timestamp.valueOf("2024-01-01 00:00:10")
    val t1 = Timestamp.valueOf("2024-01-01 00:00:40") // same window
    val t2 = Timestamp.valueOf("2024-01-01 00:01:10") // next window
    in.addData(
      (t0, "qps", "i1", Some(4.0), None),
      (t1, "qps", "i1", Some(2.0), None),
      (t1, "qps", "i1", Some(2.0), None), // replay: must not double
      (t2, "qps", "i1", None, Some(9L)),  // int fallback
      (t0, "qps", "i2", Some(7.0), None)) // second series
    q.processAllAvailable(); q.stop()
    val got = spark.table("overtimestream").collect()
      .map(r => (r.getAs[String]("name"),
        r.getAs[String]("service_instance_id"),
        r.getAs[Timestamp]("window_start")) ->
        ((r.getAs[Double]("avg_value"), r.getAs[Double]("min_value"),
          r.getAs[Double]("max_value"), r.getAs[Double]("last_value"),
          r.getAs[Long]("n_points")))).toMap
    val w0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val w1 = Timestamp.valueOf("2024-01-01 00:01:00")
    assert(got == Map(
      ("qps", "i1", w0) -> ((3.0, 2.0, 4.0, 2.0, 2L)),
      ("qps", "i1", w1) -> ((9.0, 9.0, 9.0, 9.0, 1L)),
      ("qps", "i2", w0) -> ((7.0, 7.0, 7.0, 7.0, 1L))), got)
  }

  test("streaming burn rate + apdex: windowed stream matches the batch " +
    "twins on the same aligned windows (replay dropped, null durations " +
    "excluded from apdex only)") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String, String, String, Int, Option[Long])]
    val df = in.toDF().toDF("start_time_unix_nano", "trace_id", "span_id",
      "service_name", "status_code", "duration_time_unix_nano")
    val rows = Seq(
      (Timestamp.valueOf("2024-01-01 00:00:10"), "t1", "s1", "svc", 0,
        Some(100L)),
      (Timestamp.valueOf("2024-01-01 00:01:40"), "t1", "s2", "svc", 2,
        Some(1000L)),
      (Timestamp.valueOf("2024-01-01 00:01:40"), "t1", "s2", "svc", 2,
        Some(1000L)), // at-least-once replay: must not double either twin
      (Timestamp.valueOf("2024-01-01 00:05:30"), "t2", "s1", "svc", 0,
        Some(250L)),
      (Timestamp.valueOf("2024-01-01 00:06:00"), "t2", "s2", "svc", 0,
        None)) // null duration: burn counts it, apdex excludes it
    val qB = TelemetryStreams.burnRateStream(df, sloTarget = 0.99,
        windowLen = "300 seconds")
      .writeStream.format("memory").queryName("burnstream")
      .outputMode("complete").start()
    val qA = TelemetryStreams.apdexStream(df, thresholdNs = 200L,
        windowLen = "300 seconds")
      .writeStream.format("memory").queryName("apdexstream")
      .outputMode("complete").start()
    in.addData(rows: _*)
    qB.processAllAvailable(); qB.stop()
    qA.processAllAvailable(); qA.stop()
    // batch twin on the SAME rows (replay included — batch drops it too)
    val batchDf = rows.toDF("start_time_unix_nano", "trace_id", "span_id",
      "service_name", "status_code", "duration_time_unix_nano")
    val batchBurn = graft.operators.Traces.burnRate(batchDf,
        sloTarget = 0.99, windowSec = 300).collect()
      .map(r => r.getAs[Timestamp]("window_start") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_errors"),
          r.getAs[Double]("error_rate"), r.getAs[Double]("burn_rate"))))
      .toMap
    val streamBurn = spark.table("burnstream").collect()
      .map(r => r.getAs[Timestamp]("window_start") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_errors"),
          r.getAs[Double]("error_rate"), r.getAs[Double]("burn_rate"))))
      .toMap
    assert(streamBurn == batchBurn && streamBurn.size == 2,
      s"stream $streamBurn vs batch $batchBurn")
    assert(streamBurn(Timestamp.valueOf("2024-01-01 00:00:00")) ==
      ((2L, 1L, 0.5, 50.0)), streamBurn)
    // apdex: each stream window must equal the batch twin scored on that
    // window's slice alone
    val streamApdex = spark.table("apdexstream").collect()
      .map(r => r.getAs[Timestamp]("window_start") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("satisfied"),
          r.getAs[Long]("tolerating"), r.getAs[Long]("frustrated"),
          r.getAs[Double]("apdex")))).toMap
    for ((wStart, slice) <- Seq(
        "2024-01-01 00:00:00" -> rows.take(3),
        "2024-01-01 00:05:00" -> rows.drop(3))) {
      val b = graft.operators.Traces.apdex(
        slice.toDF("start_time_unix_nano", "trace_id", "span_id",
          "service_name", "status_code", "duration_time_unix_nano"),
        thresholdNs = 200L).collect().head
      assert(streamApdex(Timestamp.valueOf(wStart)) ==
        ((b.getAs[Long]("n_spans"), b.getAs[Long]("satisfied"),
          b.getAs[Long]("tolerating"), b.getAs[Long]("frustrated"),
          b.getAs[Double]("apdex"))),
        s"window $wStart: ${streamApdex(Timestamp.valueOf(wStart))} vs $b")
    }
    assert(streamApdex(Timestamp.valueOf("2024-01-01 00:00:00"))._5 == 0.5)
  }

  test("multiBurnStream ≡ batch multiBurnAlert: the sustained-burn " +
    "service pages, the early-burst-then-recovered one stays silent") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String, String, String, Int)]
    val df = in.toDF().toDF("start_time_unix_nano", "trace_id", "span_id",
      "service_name", "status_code")
    val rows = Seq(
      // s1: 3/5 errors in the long window AND 1/2 in [04:00,05:00)
      (Timestamp.valueOf("2024-01-01 00:00:10"), "t1", "a1", "s1", 2),
      (Timestamp.valueOf("2024-01-01 00:00:20"), "t1", "a2", "s1", 2),
      (Timestamp.valueOf("2024-01-01 00:01:00"), "t1", "a3", "s1", 0),
      (Timestamp.valueOf("2024-01-01 00:04:10"), "t2", "a4", "s1", 2),
      (Timestamp.valueOf("2024-01-01 00:04:40"), "t2", "a5", "s1", 0),
      // s2: same long burn, but nothing in the closing slice
      (Timestamp.valueOf("2024-01-01 00:00:05"), "t3", "b1", "s2", 2),
      (Timestamp.valueOf("2024-01-01 00:00:15"), "t3", "b2", "s2", 2),
      (Timestamp.valueOf("2024-01-01 00:00:50"), "t3", "b3", "s2", 0))
    val q = TelemetryStreams.multiBurnStream(df, sloTarget = 0.99,
        longSec = 300, shortSec = 60, threshold = 1.0)
      .writeStream.format("memory").queryName("multiburnstream")
      .outputMode("complete").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("service_name"), r.getAs[Timestamp]("window_start"))
    def vals(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("n_spans"), r.getAs[Long]("n_errors"),
        r.getAs[Double]("long_burn"), r.getAs[Double]("short_burn"))
    val stream = spark.table("multiburnstream").collect()
      .map(r => key(r) -> vals(r)).toMap
    val batch = graft.operators.Traces.multiBurnAlert(
        rows.toDF("start_time_unix_nano", "trace_id", "span_id",
          "service_name", "status_code"),
        sloTarget = 0.99, longSec = 300, shortSec = 60, threshold = 1.0)
      .collect().map(r => key(r) -> vals(r)).toMap
    assert(stream == batch, s"stream $stream vs batch $batch")
    assert(stream == Map(("s1", Timestamp.valueOf("2024-01-01 00:00:00")) ->
      ((5L, 3L, 60.0, 50.0))), stream)
  }

  test("serviceGraphStream ≡ batch serviceGraph: the stream-stream " +
    "parent-resolution join resolves edges split across micro-batches") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String, String, String, String, Int, Long)]
    val df = in.toDF().toDF("start_time_unix_nano", "trace_id", "span_id",
      "parent_span_id", "service_name", "status_code",
      "duration_time_unix_nano")
    val rows = Seq(
      // t1: A(a1) -> B(b1 err), A(a1) -> C(c1); t2: B(b2) -> C(c2)
      (Timestamp.valueOf("2024-01-01 00:00:10"), "t1", "a1", null,
        "A", 0, 100L),
      (Timestamp.valueOf("2024-01-01 00:00:20"), "t1", "b1", "a1",
        "B", 2, 50L),
      // -- micro-batch boundary splits c1 from its parent a1 --
      (Timestamp.valueOf("2024-01-01 00:00:30"), "t1", "c1", "a1",
        "C", 0, 30L),
      (Timestamp.valueOf("2024-01-01 00:01:00"), "t2", "b2", null,
        "B", 0, 80L),
      (Timestamp.valueOf("2024-01-01 00:01:10"), "t2", "c2", "b2",
        "C", 2, 40L))
    val run = TelemetryStreams.serviceGraphStream(df,
        windowLen = "300 seconds", watermark = "10 seconds")
      .writeStream.format("memory").queryName("svcgraphstream")
      // stream-stream joins emit only in APPEND mode; the windowed agg
      // then emits each window once the watermark closes it
      .outputMode("append").start()
    val (b1, b2) = rows.splitAt(2)
    in.addData(b1: _*); run.processAllAvailable()
    in.addData(b2: _*); run.processAllAvailable()
    // far-future CHILD spans (dangling parents — join nothing): the
    // child side's watermark advances only with child spans (root-only
    // traffic holds windows open by design), and the watermark computed
    // at a batch's END drives the NEXT batch's emission through the
    // join into the agg — so two nudge batches flush the closed window
    in.addData((Timestamp.valueOf("2024-01-01 10:00:00"), "t9", "z1", "zz",
      "Z", 0, 1L))
    run.processAllAvailable()
    in.addData((Timestamp.valueOf("2024-01-01 11:00:00"), "t9", "z2", "zz",
      "Z", 0, 1L))
    run.processAllAvailable()
    run.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("caller_service"), r.getAs[String]("callee_service"))
    def vals(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("n_calls"), r.getAs[Long]("n_errors"),
        r.getAs[Long]("total_callee_ns"))
    val stream = spark.table("svcgraphstream").collect()
      .map(r => key(r) -> vals(r)).toMap
    val batch = graft.operators.Traces.serviceGraph(
        rows.toDF("start_time_unix_nano", "trace_id", "span_id",
          "parent_span_id", "service_name", "status_code",
          "duration_time_unix_nano"))
      .collect().map(r => key(r) -> vals(r)).toMap
    assert(stream == batch, s"stream $stream vs batch $batch")
    assert(stream == Map(("A", "B") -> ((1L, 1L, 50L)),
      ("A", "C") -> ((1L, 0L, 30L)), ("B", "C") -> ((1L, 1L, 40L))), stream)
  }

  test("errorBudgetStream ≡ batch errorBudget at EVERY micro-batch: " +
    "period-to-date spend tracks the growing frame, replays dedup") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, String, Int)]
    val df = in.toDF().toDF("trace_id", "span_id", "service_name",
      "status_code")
    val batch1 = Seq(
      ("t1", "a1", "s1", 2), ("t1", "a2", "s1", 0), ("t1", "a3", "s1", 0),
      ("t2", "b1", "s2", 0), ("t2", "b2", "s2", 0))
    val batch2 = Seq(
      ("t3", "a4", "s1", 0),
      ("t1", "a1", "s1", 2), // replay of a batch-1 span: must not recount
      ("t2", "b3", "s2", 2))
    val q = TelemetryStreams.errorBudgetStream(df, sloTarget = 0.99)
      .writeStream.format("memory").queryName("budgetstream")
      .outputMode("complete").start()
    def snapshot(): Map[String, (Long, Long, Double, Double, Double)] =
      spark.table("budgetstream").collect()
        .map(r => r.getAs[String]("service_name") ->
          ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_errors"),
            r.getAs[Double]("error_rate"), r.getAs[Double]("budget_used"),
            r.getAs[Double]("budget_remaining")))).toMap
    def batchOn(rows: Seq[(String, String, String, Int)]) =
      graft.operators.Traces.errorBudget(
          rows.toDF("trace_id", "span_id", "service_name", "status_code"),
          sloTarget = 0.99)
        .collect().map(r => r.getAs[String]("service_name") ->
          ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_errors"),
            r.getAs[Double]("error_rate"), r.getAs[Double]("budget_used"),
            r.getAs[Double]("budget_remaining")))).toMap
    in.addData(batch1: _*)
    q.processAllAvailable()
    // mid-period: the stream's running state equals the batch twin over
    // the rows seen so far
    assert(snapshot() == batchOn(batch1), s"mid-period ${snapshot()}")
    assert(snapshot()("s1") == ((3L, 1L, 0.333333, 33.3333, -32.3333)))
    in.addData(batch2: _*)
    q.processAllAvailable(); q.stop()
    // period end: equals the batch twin over the full deduped frame
    assert(snapshot() == batchOn(batch1 ++ batch2), s"final ${snapshot()}")
    assert(snapshot()("s1")._1 == 4L, "replayed span must not recount")
    assert(snapshot()("s2") == ((3L, 1L, 0.333333, 33.3333, -32.3333)))
  }

  test("streaming ratio: windowed vector matching matches batch ratioBy " +
    "when each window holds one timestamp; zero denominators drop") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String, Option[Double], Option[Long])]
    val df = in.toDF()
      .toDF("time_unix_nano", "name", "double_value", "int_value")
    val rows = Seq(
      (Timestamp.valueOf("2024-01-01 00:00:10"), "errs", Some(1.0),
        None: Option[Long]),
      (Timestamp.valueOf("2024-01-01 00:00:10"), "reqs", Some(4.0), None),
      (Timestamp.valueOf("2024-01-01 00:00:10"), "reqs", Some(4.0), None),
      (Timestamp.valueOf("2024-01-01 00:01:10"), "errs", Some(2.0), None),
      (Timestamp.valueOf("2024-01-01 00:01:10"), "reqs", Some(0.0), None),
      (Timestamp.valueOf("2024-01-01 00:02:10"), "noise", Some(9.0), None))
    val q = TelemetryStreams.ratioByStream(df, "errs", "reqs")
      .writeStream.format("memory").queryName("ratiostream")
      .outputMode("complete").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val streamGot = spark.table("ratiostream").collect()
      .map(r => r.getAs[Timestamp]("window_start") ->
        ((r.getAs[Double]("num"), r.getAs[Double]("den"),
          r.getAs[Double]("ratio")))).toMap
    // batch twin at exact timestamps — one timestamp per window, so the
    // stream's window floor is the batch row's minute floor
    val batchGot = graft.operators.Metrics.ratioBy(
        rows.toDF("time_unix_nano", "name", "double_value", "int_value"),
        "errs", "reqs").collect()
      .map(r => Timestamp.valueOf(r.getAs[Timestamp]("time_unix_nano")
          .toLocalDateTime.withSecond(0).withNano(0)) ->
        ((r.getAs[Double]("num"), r.getAs[Double]("den"),
          r.getAs[Double]("ratio")))).toMap
    assert(streamGot == batchGot && streamGot.size == 1,
      s"stream $streamGot vs batch $batchGot")
    assert(streamGot(Timestamp.valueOf("2024-01-01 00:00:00")) ==
      ((1.0, 4.0, 0.25)), streamGot)
  }

  test("streaming count connector: log counts land in the metrics_sum " +
    "shape and match the batch twin row-for-row") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String, String)]
    val df = in.toDF().toDF("time_unix_nano", "service_name",
      "severity_text")
    val rows = Seq(
      (Timestamp.valueOf("2024-01-01 00:00:05"), "gw", "INFO"),
      (Timestamp.valueOf("2024-01-01 00:00:45"), "gw", "INFO"),
      (Timestamp.valueOf("2024-01-01 00:00:50"), "gw", "ERROR"),
      (Timestamp.valueOf("2024-01-01 00:01:10"), "gw", "INFO"),
      (Timestamp.valueOf("2024-01-01 00:00:20"), "db", null: String))
    val q = TelemetryStreams.logCountStream(df)
      .writeStream.format("memory").queryName("logcountstream")
      .outputMode("complete").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("name"), r.getAs[String]("service_name"),
        r.getAs[String]("metric_attributes"),
        r.getAs[Timestamp]("time_unix_nano"), r.getAs[Long]("int_value"),
        r.getAs[Boolean]("is_monotonic"),
        r.getAs[Int]("aggregation_temporality"))
    val stream = spark.table("logcountstream").collect().map(key).toSet
    val batch = graft.operators.Logs.logCountMetric(
      rows.toDF("time_unix_nano", "service_name", "severity_text"),
      windowSec = 60).collect().map(key).toSet
    assert(stream == batch && stream.size == 4,
      s"stream $stream vs batch $batch")
    // composes with the metric stream layer: the connector's output is a
    // valid sumByStream input shape (schema-level pin)
    assert(spark.table("logcountstream").columns.toSet
      .intersect(Set("name", "time_unix_nano", "int_value",
        "double_value")).size == 4)
  }

  test("streaming rate limiter: per-(service, window) budget enforced " +
    "across micro-batches, excess spans drop") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String, String, String)]
    val df = in.toDF().toDF("start_time_unix_nano", "service_name",
      "trace_id", "span_id")
    val q = TelemetryStreams.rateLimitStream(df, n = 2)
      .writeStream.format("memory").queryName("ratelimitstream")
      .outputMode("append").start()
    in.addData(
      (Timestamp.valueOf("2024-01-01 00:00:05"), "gw", "t1", "s1"),
      (Timestamp.valueOf("2024-01-01 00:00:10"), "gw", "t1", "s2"),
      (Timestamp.valueOf("2024-01-01 00:00:15"), "gw", "t1", "s3"), // over
      (Timestamp.valueOf("2024-01-01 00:01:10"), "gw", "t2", "s4")) // next w
    q.processAllAvailable()
    // a LATER micro-batch must still see window0's spent budget
    in.addData(
      (Timestamp.valueOf("2024-01-01 00:00:20"), "gw", "t1", "s5"), // over
      (Timestamp.valueOf("2024-01-01 00:00:25"), "db", "t3", "s6")) // other svc
    q.processAllAvailable(); q.stop()
    val got = spark.table("ratelimitstream").collect()
      .map(r => (r.getAs[String]("service_name"),
        r.getAs[Timestamp]("window_start").toString,
        r.getAs[String]("span_id"), r.getAs[Long]("rank"))).toSet
    assert(got == Set(
      ("gw", "2024-01-01 00:00:00.0", "s1", 1L),
      ("gw", "2024-01-01 00:00:00.0", "s2", 2L),
      ("gw", "2024-01-01 00:01:00.0", "s4", 1L),
      ("db", "2024-01-01 00:00:00.0", "s6", 1L)), got)
  }

  test("stream-static baselines: live volume z-scores and slow-outlier " +
    "tags match the batch operators fed the same mined frames") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    // volume anomaly: baseline mined from a batch corpus, stream scores
    // new windows against it. The batch operator emits one row PER WINDOW
    // (constant stats per service) — the duplicate row here pins that the
    // stream dedups the baseline instead of multiplying live windows
    val baseline = Seq(("gw", 2.0, 1.0), ("gw", 2.0, 1.0), ("db", 5.0, 0.0))
      .toDF("service_name", "svc_mean", "svc_sd")
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String)]
    val logs = in.toDF().toDF("time_unix_nano", "service_name")
    val q = TelemetryStreams.volumeAnomalyStream(logs, baseline,
        zThreshold = 2.0)
      .writeStream.format("memory").queryName("volstream")
      .outputMode("complete").start()
    in.addData(
      (Timestamp.valueOf("2024-01-01 00:00:05"), "gw"),
      (Timestamp.valueOf("2024-01-01 00:00:10"), "gw"),
      (Timestamp.valueOf("2024-01-01 00:00:15"), "gw"),
      (Timestamp.valueOf("2024-01-01 00:00:20"), "gw"),
      (Timestamp.valueOf("2024-01-01 00:00:30"), "gw"), // 5 logs: z = 3
      (Timestamp.valueOf("2024-01-01 00:00:40"), "db"), // zero-sd: null z
      (Timestamp.valueOf("2024-01-01 00:00:45"), "new")) // no baseline
    q.processAllAvailable(); q.stop()
    val got = spark.table("volstream").collect()
      .map(r => r.getAs[String]("service_name") ->
        ((Option(r.getAs[Any]("z")), r.getAs[Boolean]("anomaly")))).toMap
    assert(got == Map("gw" -> ((Some(3.0), true)),
      "db" -> ((None, false)), "new" -> ((None, false))), got)
    // slow outliers: batch thresholds tag the live stream map-only (the
    // duplicate row mirrors batch slowOutliers' one-row-per-tagged-span
    // output — must not double-tag)
    val th = Seq(("api", "GET /x", 100L), ("api", "GET /x", 100L))
      .toDF("service_name", "span_name", "threshold_ns")
    val sin = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, String, String, Long)]
    val spans = sin.toDF().toDF("service_name", "name", "trace_id",
      "span_id", "duration_time_unix_nano")
    val q2 = TelemetryStreams.slowOutliersStream(spans, th)
      .writeStream.format("memory").queryName("outlierstream")
      .outputMode("append").start()
    sin.addData(
      ("api", "GET /x", "t1", "s1", 250L),  // 2.5x over
      ("api", "GET /x", "t1", "s2", 50L),   // under
      ("api", "GET /y", "t1", "s3", 999L))  // no threshold: not tagged
    q2.processAllAvailable(); q2.stop()
    val tagged = spark.table("outlierstream").collect()
      .map(r => (r.getAs[String]("span_id"), r.getAs[Double]("exceedance")))
    assert(tagged.toSeq == Seq(("s1", 2.5)), tagged.toSeq)
  }

  test("errorRateStream ≡ batch errorRate per closed window on the " +
    "same frame (one severity rule, number wins over text)") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = Seq(
      ("svc", ts("2024-01-01 00:00:10"), 13, "ERROR"), // WARN by number
      ("svc", ts("2024-01-01 00:00:20"), 0, "err"), // alias -> ERROR
      ("svc", ts("2024-01-01 00:00:30"), 21, null: String), // FATAL
      ("svc", ts("2024-01-01 00:00:40"), 9, "Information"),
      ("svc", ts("2024-01-01 00:01:30"), 0, "strange"))
    def frame(df: org.apache.spark.sql.DataFrame) = df
      .toDF("service_name", "time_unix_nano", "severity_number",
        "severity_text")
      .withColumn("severity_number",
        when(col("severity_number") === 0, lit(null))
          .otherwise(col("severity_number")).cast("int"))
    val batch = graft.operators.Logs.errorRate(
        frame(rows.toDF()), windowSec = 60).collect()
      .map(r => r.getAs[Timestamp]("window_start").toString ->
        ((r.getAs[Long]("n_logs"), r.getAs[Long]("n_errors"),
          r.getAs[Double]("error_ratio")))).toMap
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Timestamp, Int, String)]
    val q = TelemetryStreams.errorRateStream(frame(in.toDF()))
      .writeStream.format("memory").queryName("errratestream")
      .outputMode("append").start()
    in.addData(rows: _*)
    // watermark nudge closes both windows
    in.addData(("svc", ts("2024-01-01 00:10:00"), 9, "INFO"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("errratestream").collect()
      .map(r => r.getAs[Timestamp]("window_start").toString ->
        ((r.getAs[Long]("n_logs"), r.getAs[Long]("n_errors"),
          r.getAs[Double]("error_ratio")))).toMap
    assert(got == batch, s"stream $got vs batch $batch")
    assert(got("2024-01-01 00:00:00.0") == ((4L, 2L, 0.5)), got)
  }

  test("seasonalAnomalyStream ≡ batch seasonalAnomaly on the same frame " +
    "with the batch-mined seasonality baseline") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int, sec: Int) =
      Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")
    // minute 0 spread {10,4,13}; minute 1 constant {5,5} (zero-spread:
    // both faces must drop it)
    val rows = Seq(("q", ts(0, 0), 10.0), ("q", ts(0, 20), 4.0),
      ("q", ts(0, 40), 13.0), ("q", ts(1, 0), 5.0), ("q", ts(1, 30), 5.0))
    val batch = rows.toDF("name", "time_unix_nano", "double_value")
      .withColumn("service_name", lit("s"))
      .withColumn("service_namespace", lit(null).cast("string"))
      .withColumn("service_instance_id", lit("i"))
      .withColumn("resource_attributes", lit("{}"))
      .withColumn("scope_name", lit("sc"))
      .withColumn("metric_attributes", lit("{}"))
      .withColumn("int_value", lit(null).cast("long"))
    val expected = graft.operators.Metrics
      .seasonalAnomaly(batch, "minute", k = 1.0).collect()
      .map(_.toString).sorted.toSeq
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Timestamp, Double)]
    val pts = in.toDF().toDF("name", "time_unix_nano", "double_value")
      .withColumn("int_value", lit(null).cast("long"))
    val q = TelemetryStreams.seasonalAnomalyStream(pts,
        graft.operators.Metrics.seasonality(batch, "minute"),
        bucket = "minute", k = 1.0)
      .writeStream.format("memory").queryName("seasonstream")
      .outputMode("append").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("seasonstream").collect()
      .map(_.toString).sorted.toSeq
    assert(got == expected, s"stream $got vs batch $expected")
    assert(got.size == 2, got) // 4 and 13 qualify at k=1; 10 does not
  }

  test("seasonalAnomalyStream rejects k < 0 with batch seasonalAnomaly's " +
    "IllegalArgumentException") {
    import spark.implicits._
    val pts = Seq(("q", Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("name", "time_unix_nano", "double_value")
      .withColumn("int_value", lit(null).cast("long"))
    val baseline = graft.operators.Metrics.seasonality(pts, "minute")
    val batch = intercept[IllegalArgumentException](
      graft.operators.Metrics.seasonalAnomaly(pts, "minute", k = -1.0))
    val stream = intercept[IllegalArgumentException](
      TelemetryStreams.seasonalAnomalyStream(pts, baseline, "minute", k = -1.0))
    assert(stream.getMessage == batch.getMessage)
  }

  test("streaming dedup drops at-least-once duplicates within the watermark") {
    val q = TelemetryStreams.dedupSpans(
        TelemetryStreams.traceStream(spark, root))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // 3 spans were posted twice → 6 sealed rows → 3 after dedup
    assert(spark.table("dedup").count() == 3)
  }

  test("otlp-seals MicroBatchStream: offsets are seal ids; kill + restart " +
      "resumes from the checkpoint with no loss and no dups") {
    val uri = s"otlp:127.0.0.1:${ports(1)}"
    val sealRoot = java.nio.file.Files.createTempDirectory("ms_root").toString
    val outDir = java.nio.file.Files.createTempDirectory("ms_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ms_ckpt").toString
    OtlpServe.otlpServe(spark, uri, Map(
      "token" -> Token, "target" -> "parquet", "parquet_root" -> sealRoot,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824",
      "stream_retain_seals" -> "64"))
    def postLogs(base: Long, n: Int): Unit = {
      val body = (0 until n).map { i =>
        s"""{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"ms-svc"}}]},"scopeLogs":[{"scope":{"name":"s"},"logRecords":[{"timeUnixNano":"${1640000000000000000L + base + i}","severityNumber":9,"severityText":"INFO","body":{"stringValue":"row ${base + i}"}}]}]}]}"""
      }.mkString("\n").getBytes("UTF-8")
      val code = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${ports(1)}/v1/logs"))
          .header("Content-Type", "application/x-ndjson")
          .header("Authorization", s"Bearer $Token")
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      assert(code == 202)
    }
    // one query "incarnation": drain everything available, then terminate —
    // two incarnations over ONE checkpoint are exactly a kill + restart
    def drainOnce(): Unit = {
      val q = spark.readStream.format("otlp-seals")
        .option("uri", uri).option("signal", "logs").load()
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    postLogs(0, 5)
    OtlpServe.otlpFlush(spark, uri) // seal 1
    drainOnce()
    postLogs(100, 7)
    OtlpServe.otlpFlush(spark, uri) // seal 2
    drainOnce() // restart: must deliver ONLY seal 2
    drainOnce() // restart with nothing new: must deliver nothing
    val rows = spark.read.parquet(outDir)
    assert(rows.count() == 12, "every sealed row exactly once across restarts")
    assert(rows.select("body").distinct().count() == 12, "no duplicates")

    // second signal through the same server: the source is signal-generic
    // (schema + retention domain keyed per signal)
    val tOut = java.nio.file.Files.createTempDirectory("ms_tout").toString
    val tCkpt = java.nio.file.Files.createTempDirectory("ms_tckpt").toString
    val traceCode = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${ports(1)}/v1/traces"))
        .header("Content-Type", "application/x-ndjson")
        .header("Authorization", s"Bearer $Token")
        .POST(HttpRequest.BodyPublishers.ofByteArray(
          fixture("traces_simple.jsonl"))).build(),
      HttpResponse.BodyHandlers.ofString()).statusCode()
    assert(traceCode == 202)
    OtlpServe.otlpFlush(spark, uri)
    val tq = spark.readStream.format("otlp-seals")
      .option("uri", uri).option("signal", "traces").load()
      .writeStream.format("parquet")
      .option("path", tOut).option("checkpointLocation", tCkpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    tq.awaitTermination(60000)
    val spans = spark.read.parquet(tOut)
    assert(spans.count() == 3)
    assert(spans.columns.contains("duration_time_unix_nano"))
    OtlpServe.otlpStop(spark, uri)
  }

  test("otlp-seals: a consumer behind the retention cap fails loudly, " +
      "never skips silently") {
    val uri = s"otlp:127.0.0.1:${ports(2)}"
    val sealRoot = java.nio.file.Files.createTempDirectory("msg_root").toString
    val outDir = java.nio.file.Files.createTempDirectory("msg_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("msg_ckpt").toString
    OtlpServe.otlpServe(spark, uri, Map(
      "token" -> Token, "target" -> "parquet", "parquet_root" -> sealRoot,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824",
      "stream_retain_seals" -> "2"))
    def oneSeal(i: Int): Unit = {
      val body =
        s"""{"resourceLogs":[{"scopeLogs":[{"logRecords":[{"timeUnixNano":"${1640000000000000000L + i}","body":{"stringValue":"g$i"}}]}]}]}"""
          .getBytes("UTF-8")
      val code = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${ports(2)}/v1/logs"))
          .header("Content-Type", "application/x-ndjson")
          .header("Authorization", s"Bearer $Token")
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      assert(code == 202)
      OtlpServe.otlpFlush(spark, uri)
    }
    def drain(): Unit = {
      val q = spark.readStream.format("otlp-seals")
        .option("uri", uri).option("signal", "logs").load()
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    oneSeal(1)
    drain() // checkpoint committed through seal 1
    (2 to 5).foreach(oneSeal) // cap 2 retains {4,5}, evicts 2,3 → floor 3
    val e = intercept[Exception] { drain() } // restart asks for (1, 5] — gone
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("fell behind retention")), msgs(e).mkString("|"))
    OtlpServe.otlpStop(spark, uri)
  }

  test("otlp-seals composes with the watermark analytics layer " +
      "(windowed severity rate over live seals, no storage round-trip)") {
    val uri = s"otlp:127.0.0.1:${ports(3)}"
    val sealRoot = java.nio.file.Files.createTempDirectory("msw_root").toString
    OtlpServe.otlpServe(spark, uri, Map(
      "token" -> Token, "target" -> "parquet", "parquet_root" -> sealRoot,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824",
      "stream_retain_seals" -> "16"))
    val code = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${ports(3)}/v1/logs"))
        .header("Content-Type", "application/x-ndjson")
        .header("Authorization", s"Bearer $Token")
        .POST(HttpRequest.BodyPublishers.ofByteArray(
          fixture("logs_simple.jsonl"))).build(),
      HttpResponse.BodyHandlers.ofString()).statusCode()
    assert(code == 202)
    OtlpServe.otlpFlush(spark, uri)
    val live = spark.readStream.format("otlp-seals")
      .option("uri", uri).option("signal", "logs").load()
    val q = TelemetryStreams.severityRate(live)
      .writeStream.format("memory").queryName("livesev")
      .outputMode("complete").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("livesev")
    assert(rows.agg(sum("cnt")).first().getLong(0) == 3L)
    assert(rows.where(col("severity_text") === "ERROR").count() == 1)
    OtlpServe.otlpStop(spark, uri)
  }

  test("per-trace rollup with flatMapGroupsWithState") {
    val q = TelemetryStreams.traceRollup(
        TelemetryStreams.traceStream(spark, root))
      .writeStream.format("memory").queryName("rollup")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("rollup")
    // running rollups per update; take the max per trace for finals
    val finals = rows.groupBy("trace_id")
      .agg(max("spans").as("spans"), max("error_spans").as("error_spans"))
    val m = finals.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // two traces; fc60c has 2 distinct spans (x2 posts = 4), fc60d has 1 (x2)
    assert(m("5b8efff798038103d269b633813fc60c")._1 == 4L)
    assert(m("5b8efff798038103d269b633813fc60d")._1 == 2L)
    assert(m("5b8efff798038103d269b633813fc60d")._2 == 2L) // error status spans
  }

  private def minuteFloor(t: Timestamp) =
    Timestamp.valueOf(t.toLocalDateTime.withSecond(0).withNano(0))

  test("redRate ≡ batch redMetrics on each window's slice (errors, " +
    "null durations, two services)") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cols = Seq("start_time_unix_nano", "service_name", "name",
      "status_code", "duration_time_unix_nano")
    val in = MemoryStream[(Timestamp, String, String, Int, Option[Long])]
    val rows = Seq(
      (Timestamp.valueOf("2024-01-01 00:00:05"), "api", "GET /a", 0,
        Some(100L)),
      (Timestamp.valueOf("2024-01-01 00:00:25"), "api", "GET /a", 2,
        Some(300L)),
      (Timestamp.valueOf("2024-01-01 00:00:40"), "api", "GET /b", 1,
        None: Option[Long]), // unmeasured: counted, sums stay null
      (Timestamp.valueOf("2024-01-01 00:00:50"), "db", "SELECT", 2,
        Some(50L)),
      (Timestamp.valueOf("2024-01-01 00:01:10"), "api", "GET /a", 0,
        Some(700L)),
      (Timestamp.valueOf("2024-01-01 00:01:20"), "db", "SELECT", 0,
        Some(20L)))
    val q = TelemetryStreams.redRate(in.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("redparity")
      .outputMode("complete").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    def vals(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("n_spans"), r.getAs[Long]("n_errors"),
        Option(r.getAs[Any]("total_ns")), Option(r.getAs[Any]("max_ns")))
    val stream = spark.table("redparity").collect()
      .map(r => (r.getAs[Timestamp]("window_start"),
        r.getAs[String]("service_name"), r.getAs[String]("span_name")) ->
        vals(r)).toMap
    val batch = rows.groupBy(r => minuteFloor(r._1)).toSeq
      .flatMap { case (w, slice) =>
        graft.operators.Traces.redMetrics(slice.toDF(cols: _*)).collect()
          .map(r => (w, r.getAs[String]("service_name"),
            r.getAs[String]("span_name")) -> vals(r))
      }.toMap
    assert(stream == batch && stream.size == 5,
      s"stream $stream vs batch $batch")
  }

  test("overTimeStream ≡ batch overTime per (series, window): replay, " +
    "int fallback, null points and a same-time last_value tie") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .toDF("time_unix_nano", "name", "service_instance_id",
        "double_value", "int_value")
      .selectExpr("time_unix_nano", "name", "'svc' AS service_name",
        "CAST(NULL AS STRING) AS service_namespace", "service_instance_id",
        "'{}' AS resource_attributes", "'sc' AS scope_name",
        "'{}' AS metric_attributes", "double_value", "int_value")
    val in = MemoryStream[(Timestamp, String, String, Option[Double],
      Option[Long])]
    val t0 = Timestamp.valueOf("2024-01-01 00:00:10")
    val t1 = Timestamp.valueOf("2024-01-01 00:00:40")
    val t2 = Timestamp.valueOf("2024-01-01 00:01:10")
    val rows = Seq(
      (t0, "qps", "i1", Some(4.0), None: Option[Long]),
      (t1, "qps", "i1", Some(2.0), None),
      (t1, "qps", "i1", Some(2.0), None), // replay
      (t1, "qps", "i1", Some(3.0), None), // same time: value breaks the tie
      (t2, "qps", "i1", None, Some(9L)),  // int fallback
      (t2, "qps", "i1", None, None),      // no recorded value
      (t0, "qps", "i2", Some(7.0), None),
      (t2, "lat", "i2", Some(0.5), None))
    val q = TelemetryStreams.overTimeStream(shape(in.toDF()))
      .writeStream.format("memory").queryName("overtimeparity")
      .outputMode("complete").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    def entry(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("name"), r.getAs[String]("service_instance_id"),
        r.getAs[Timestamp]("window_start")) ->
        ((r.getAs[Double]("avg_value"), r.getAs[Double]("min_value"),
          r.getAs[Double]("max_value"), r.getAs[Double]("last_value"),
          r.getAs[Long]("n_points")))
    val stream = spark.table("overtimeparity").collect().map(entry).toMap
    val batch = graft.operators.Metrics.overTime(shape(rows.toDF()), 60)
      .collect().map(entry).toMap
    assert(stream == batch && stream.size == 4,
      s"stream $stream vs batch $batch")
  }

  test("exceptionRate's n_events ≡ batch exceptionReport's on each " +
    "window's slice") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cols = Seq("start_time_unix_nano", "trace_id", "span_id",
      "service_name", "events_json")
    def ev(names: String*) = names.map { n =>
      val tpe = if (n == "-") "" else s""""exception.type":"$n""""
      s"""{"time_unix_nano":1,"name":"exception","attributes":{$tpe}}"""
    }.mkString("[", ",", "]")
    val in = MemoryStream[(Timestamp, String, String, String, String)]
    val w0 = Timestamp.valueOf("2024-01-01 00:00:10")
    val w1 = Timestamp.valueOf("2024-01-01 00:01:10")
    val rows = Seq(
      (w0, "t1", "s1", "api", ev("Boom", "Boom")),
      (w0, "t1", "s1", "api", ev("Boom", "Boom")), // replay: counts once
      (w0, "t1", "s2", "api", ev("Timeout", "-")), // untyped -> unknown
      (w0, "t2", "s1", "db", ev("Boom")),
      (w0, "t3", "s1", "api",
        """[{"time_unix_nano":2,"name":"retry","attributes":{}}]"""),
      (w0, "t4", "s1", "api", null: String),
      (w1, "t5", "s1", "api", ev("Boom")),
      (w1, "t5", "s2", "db", ev("-")))
    val q = TelemetryStreams.exceptionRate(in.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("excparity")
      .outputMode("complete").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val stream = spark.table("excparity").collect()
      .map(r => (r.getAs[Timestamp]("window_start"),
        r.getAs[String]("service_name"), r.getAs[String]("exception_type")) ->
        r.getAs[Long]("n_events")).toMap
    val batch = rows.groupBy(r => minuteFloor(r._1)).toSeq
      .flatMap { case (w, slice) =>
        graft.operators.Traces.exceptionReport(slice.toDF(cols: _*))
          .collect().map(r => (w, r.getAs[String]("service_name"),
            r.getAs[String]("exception_type")) -> r.getAs[Long]("n_events"))
      }.toMap
    assert(stream == batch && stream.size == 6,
      s"stream $stream vs batch $batch")
  }

  test("sumByStream ≡ batch sumBy when each window holds one timestamp " +
    "(replicas summed, replay dropped, int fallback)") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cols = Seq("time_unix_nano", "name", "service_instance_id",
      "double_value", "int_value")
    val in = MemoryStream[(Timestamp, String, String, Option[Double],
      Option[Long])]
    val t0 = Timestamp.valueOf("2024-01-01 00:00:10")
    val t1 = Timestamp.valueOf("2024-01-01 00:01:30")
    val rows = Seq(
      (t0, "qps", "i1", Some(1.25), None: Option[Long]),
      (t0, "qps", "i2", Some(2.5), None),
      (t0, "qps", "i2", Some(2.5), None), // replay
      (t1, "qps", "i1", None, Some(4L)),  // int fallback
      (t1, "qps", "i2", Some(0.1), None),
      (t1, "qps", "i3", Some(0.2), None),
      (t0, "errs", "i1", Some(1.0), None),
      (t1, "errs", "i1", None, None))     // no recorded value
    val q = TelemetryStreams.sumByStream(in.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("sumbyparity")
      .outputMode("complete").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val stream = spark.table("sumbyparity").collect()
      .map(r => (r.getAs[String]("name"),
        r.getAs[Timestamp]("window_start")) ->
        ((r.getAs[Double]("value"), r.getAs[Long]("n_points")))).toMap
    val batch = graft.operators.Metrics.sumBy(rows.toDF(cols: _*))
      .collect().map(r => (r.getAs[String]("name"),
        minuteFloor(r.getAs[Timestamp]("time_unix_nano"))) ->
        ((r.getAs[Double]("value"), r.getAs[Long]("n_series")))).toMap
    assert(stream == batch && stream.size == 3,
      s"stream $stream vs batch $batch")
  }

  test("stream face schemas: every windowed twin keeps its column names, " +
    "order, types and nullability") {
    import graft.otlp.OtlpSchemas
    val dir = java.nio.file.Files.createTempDirectory("ts_schema").toString
    def live(s: org.apache.spark.sql.types.StructType) =
      spark.readStream.schema(s).parquet(dir)
    def settled(s: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    val spans = live(OtlpSchemas.traces())
    val logs = live(OtlpSchemas.logs())
    val sums = live(OtlpSchemas.metricsSum())
    val docs = live(org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, ts TIMESTAMP, lang STRING, text STRING"))
    val faces = Seq(
      "severityRate" -> TelemetryStreams.severityRate(logs),
      "redRate" -> TelemetryStreams.redRate(spans),
      "exceptionRate" -> TelemetryStreams.exceptionRate(spans),
      "sumByStream" -> TelemetryStreams.sumByStream(sums),
      "overTimeStream" -> TelemetryStreams.overTimeStream(sums),
      "burnRateStream" -> TelemetryStreams.burnRateStream(spans, 0.99),
      "multiBurnStream" -> TelemetryStreams.multiBurnStream(spans, 0.99),
      "errorBudgetStream" -> TelemetryStreams.errorBudgetStream(spans, 0.99),
      "serviceGraphStream" -> TelemetryStreams.serviceGraphStream(spans),
      "apdexStream" -> TelemetryStreams.apdexStream(spans, 200L),
      "ratioByStream" -> TelemetryStreams.ratioByStream(sums, "a", "b"),
      "ratioByStream(by)" ->
        TelemetryStreams.ratioByStream(sums, "a", "b", Seq("service_name")),
      "logCountStream" -> TelemetryStreams.logCountStream(logs),
      "volumeAnomalyStream" -> TelemetryStreams.volumeAnomalyStream(logs,
        graft.operators.Logs.volumeAnomaly(settled(OtlpSchemas.logs()))),
      "errorRateStream" -> TelemetryStreams.errorRateStream(logs),
      "seasonalAnomalyStream" -> TelemetryStreams.seasonalAnomalyStream(
        sums, graft.operators.Metrics.seasonality(
          settled(OtlpSchemas.metricsSum()))),
      "corpusStats" -> CorpusStreams.corpusStats(docs))
    val window = Seq("window_start TIMESTAMP", "window_end TIMESTAMP")
    val series = Seq("name STRING", "service_name STRING",
      "service_namespace STRING", "service_instance_id STRING",
      "resource_attributes STRING", "scope_name STRING",
      "metric_attributes STRING")
    val want = Seq(
      "severityRate" -> (window ++ Seq("service_name STRING",
        "severity_text STRING", "cnt BIGINT NOT NULL")),
      "redRate" -> (window ++ Seq("service_name STRING", "span_name STRING",
        "n_spans BIGINT NOT NULL", "n_errors BIGINT", "total_ns BIGINT",
        "max_ns BIGINT")),
      "exceptionRate" -> (window ++ Seq("service_name STRING",
        "exception_type STRING NOT NULL", "n_events BIGINT NOT NULL")),
      "sumByStream" -> (window ++ Seq("name STRING", "value DOUBLE",
        "n_points BIGINT NOT NULL")),
      "overTimeStream" -> (window ++ series ++ Seq("avg_value DOUBLE",
        "min_value DOUBLE", "max_value DOUBLE", "last_value DOUBLE",
        "n_points BIGINT NOT NULL")),
      "burnRateStream" -> (window ++ Seq("service_name STRING",
        "n_spans BIGINT NOT NULL", "n_errors BIGINT", "error_rate DOUBLE",
        "burn_rate DOUBLE")),
      "multiBurnStream" -> Seq("window_start TIMESTAMP",
        "service_name STRING", "n_spans BIGINT NOT NULL", "n_errors BIGINT",
        "long_burn DOUBLE", "short_burn DOUBLE"),
      "errorBudgetStream" -> Seq("service_name STRING",
        "n_spans BIGINT NOT NULL", "n_errors BIGINT", "error_rate DOUBLE",
        "budget_used DOUBLE", "budget_remaining DOUBLE"),
      "serviceGraphStream" -> Seq("window_start TIMESTAMP",
        "caller_service STRING", "callee_service STRING",
        "n_calls BIGINT NOT NULL", "n_errors BIGINT",
        "total_callee_ns BIGINT"),
      "apdexStream" -> (window ++ Seq("service_name STRING",
        "n_spans BIGINT NOT NULL", "satisfied BIGINT", "tolerating BIGINT",
        "frustrated BIGINT", "apdex DOUBLE")),
      "ratioByStream" -> (window ++ Seq("num DOUBLE", "den DOUBLE",
        "ratio DOUBLE")),
      "ratioByStream(by)" -> (window ++ Seq("service_name STRING",
        "num DOUBLE", "den DOUBLE", "ratio DOUBLE")),
      "logCountStream" -> Seq("name STRING NOT NULL", "service_name STRING",
        "service_namespace STRING", "service_instance_id STRING",
        "resource_attributes STRING", "scope_name STRING NOT NULL",
        "metric_attributes STRING", "time_unix_nano TIMESTAMP",
        "is_monotonic BOOLEAN NOT NULL", "double_value DOUBLE",
        "int_value BIGINT NOT NULL", "aggregation_temporality INT NOT NULL"),
      "volumeAnomalyStream" -> (window ++ Seq("service_name STRING",
        "n_logs BIGINT NOT NULL", "svc_mean DOUBLE", "svc_sd DOUBLE",
        "z DOUBLE", "anomaly BOOLEAN NOT NULL")),
      "errorRateStream" -> Seq("window_start TIMESTAMP",
        "service_name STRING", "n_logs BIGINT NOT NULL",
        "n_errors BIGINT NOT NULL", "error_ratio DOUBLE"),
      "seasonalAnomalyStream" -> Seq("name STRING", "bucket BIGINT",
        "time_unix_nano TIMESTAMP", "value DOUBLE", "avg_value DOUBLE",
        "stddev_value DOUBLE", "z_score DOUBLE"),
      "corpusStats" -> (window ++ Seq("lang STRING",
        "docs BIGINT NOT NULL", "tokens BIGINT")))
    val got = faces.map { case (n, df) =>
      n -> df.schema.fields.map(_.toDDL).toSeq }
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case ((n, g), (_, w)) =>
      assert(g == w, s"$n: got ${g.mkString(", ")}")
    }
  }
}
