package graft

import graft.streaming._
import org.apache.spark.sql.functions._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

/** Lifecycle + ingest hot-path tests (reference test/sql/otlp_serve.test,
  * uri.test, and the manual HTTP harness contracts in FIXTURES.md §C). */
class OtlpServeSpec extends SparkTestBase {

  private val ports = SparkTestBase.freePorts(19)

  private val fx = "src/test/resources/otlp"
  private val client = HttpClient.newHttpClient()
  private val Token = "dev-token-1234567890"

  private def post(url: String, path: String, body: Array[Byte],
                   headers: Map[String, String]): HttpResponse[String] = {
    var b = HttpRequest.newBuilder(URI.create(url + path))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body))
    headers.foreach { case (k, v) => b = b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }
  private def get(url: String, path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$fx/$name"))

  override def beforeAll(): Unit = {
    super.beforeAll()
    // drop leftover warehouse dirs from prior JVMs (the in-memory catalog is
    // gone but managed-table locations persist and block saveAsTable)
    val wh = new java.io.File("spark-warehouse")
    Option(wh.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("otlptest_"))
      .foreach { d =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
        }
        rm(d)
      }
  }

  override def afterAll(): Unit = {
    OtlpServe.stopAll(spark)
    super.afterAll()
  }

  // ---- otlp_uri_parser goldens (test/sql/uri.test) -------------------------

  test("uri parser goldens") {
    def p(u: String) = OtlpUri.parse(u)
    assert(p("otlp:localhost") == OtlpUriParts("otlp", "localhost", 4318, false, "http://localhost:4318"))
    assert(p("otlp://localhost").url == "http://localhost:4318")
    assert(p("otlp:localhost:1234").port == 1234)
    assert(p("otlp:otherhost").url == "http://otherhost:4318")
    assert(p("otlp:127.0.0.1:1234").url == "http://127.0.0.1:1234")
    assert(p("otlp:[::1]") == OtlpUriParts("otlp", "::1", 4318, true, "http://[::1]:4318"))
    assert(p("otlp:[::1]:1234").port == 1234)
    assert(p("otlp:") == OtlpUriParts("otlp", "localhost", 4318, false, "http://localhost:4318"))
    assert(p("otlp://ilum-otlp:4318").host == "ilum-otlp")
    assert(p("otlp:my-otlp-host:4318").host == "my-otlp-host")
    assert(p("otap:localhost").port == 4317)
    intercept[IllegalArgumentException](p(""))
    intercept[IllegalArgumentException](p("http://localhost"))
    intercept[IllegalArgumentException](p("otlp:host:99999"))
    val df = OtlpServe.uriParser(spark, "otlp:[::1]:1234")
    val r = df.first()
    assert(r.getString(0) == "::1" && r.getInt(1) == 1234 && r.getBoolean(2))
  }

  // ---- config validation (test/sql/otlp_serve.test errors) -----------------

  test("serve validation errors mirror the reference") {
    def err(params: Map[String, String], uri: String = s"otlp:127.0.0.1:${ports(0)}") =
      intercept[Exception](OtlpServe.otlpServe(spark, uri, params)).getMessage
    assert(err(Map("token" -> "short")).contains(
      "OTLP server token must be at least 16 characters long"))
    assert(err(Map("token" -> Token, "seal_target_bytes" -> "0"))
      .contains("seal_target_bytes must be greater than zero"))
    assert(err(Map("token" -> Token, "seal_max_age_ms" -> "0"))
      .contains("seal_max_age_ms must be greater than zero"))
    assert(err(Map("token" -> Token, "target_file_size" -> "0"))
      .contains("target_file_size must be greater than zero"))
    assert(err(Map("token" -> Token, "max_body_bytes" -> "0"))
      .contains("max_body_bytes must be greater than zero"))
    assert(err(Map("token" -> Token, "max_buffered_bytes" -> "0"))
      .contains("max_buffered_bytes must be greater than zero"))
    assert(err(Map("token" -> Token, "maintenance_retention_ms" -> "0"))
      .contains("maintenance_retention_ms must be greater than zero"))
    assert(err(Map("token" -> Token, "checkpoint_interval" -> "1"))
      .contains("""Invalid named parameter "checkpoint_interval""""))
    assert(err(Map("token" -> Token, "schema" -> ""))
      .contains("schema must not be empty"))
    assert(err(Map("token" -> Token, "http_threads" -> "0"))
      .contains("http_threads must be greater than zero"))
    assert(err(Map("token" -> Token, "parquet_export_path" -> "/tmp/x",
      "catalog" -> "lake"))
      .contains("parquet_export_path is mutually exclusive with a catalog target"))
    assert(err(Map("token" -> Token, "parquet_export_path" -> "/tmp/x",
      "target" -> "catalog"))
      .contains("parquet_export_path is mutually exclusive with a catalog target"))
    assert(err(Map("token" -> Token), uri = s"otlp:0.0.0.0:${ports(1)}")
      .contains("Only localhost is allowed"))
    assert(err(Map("token" -> Token), uri = s"otap:127.0.0.1:${ports(2)}")
      .contains("otlp_serve requires an 'otlp:' URI"))
    assert(intercept[Exception](
      OtlpServe.otapServe(spark, s"otlp:127.0.0.1:${ports(3)}", Map("token" -> Token)))
      .getMessage.contains("otap_serve requires an 'otap:' URI"))
    assert(intercept[Exception](
      OtlpServe.otapServe(spark, s"otap:127.0.0.1:${ports(12)}",
        Map("token" -> Token, "transport" -> "http")))
      .getMessage.contains("transport must be 'grpc' or omitted"))
  }

  // ---- lifecycle ----------------------------------------------------------

  test("serve → list → flush-empty → stop lifecycle goldens") {
    val uri = s"otlp:127.0.0.1:${ports(4)}"
    val row = OtlpServe.otlpServe(spark, uri,
      Map("token" -> Token, "schema" -> "otlptest_lc",
        "seal_target_bytes" -> "1048576", "seal_max_age_ms" -> "2500")).first()
    assert(row.getAs[String]("listen_uri") == s"otlp:127.0.0.1:${ports(4)}")
    assert(row.getAs[String]("listen_url") == s"http://127.0.0.1:${ports(4)}")
    assert(row.getAs[String]("schema_name") == "otlptest_lc")
    assert(row.getAs[String]("logs_table") == "otlptest_lc.otlp_logs")

    // duplicate URI rejected
    assert(intercept[Exception](OtlpServe.otlpServe(spark, uri,
      Map("token" -> Token))).getMessage.contains("OTLP server already exists"))

    val list = OtlpServe.serverList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(4)}").first()
    assert(list.getAs[Boolean]("is_listening"))
    assert(list.isNullAt(list.fieldIndex("last_error")))
    assert(list.getAs[Long]("total_requests") == 0L)
    assert(list.getAs[Long]("buffered_rows") == 0L)
    assert(list.getAs[Long]("admitted_bytes") == 0L)
    assert(list.getAs[Long]("seal_target_bytes") == 1048576L)
    assert(list.getAs[Long]("seal_max_age_ms") == 2500L)
    assert(list.isNullAt(list.fieldIndex("oldest_buffered_age_ms")))
    assert(list.getAs[Long]("seals_total") == 0L)
    assert(list.getAs[String]("catalog_name") == "")

    // flush with nothing buffered seals zero rows
    val fl = OtlpServe.otlpFlush(spark, uri).first()
    assert(fl.getAs[String]("status") == "sealed")
    assert(fl.getAs[Long]("sealed_rows") == 0L)

    // flushing an unknown server reports not found
    assert(OtlpServe.otlpFlush(spark, s"otlp:127.0.0.1:${ports(5)}").first()
      .getAs[String]("status") == s"No server found listening on otlp:127.0.0.1:${ports(5)}")

    val st = OtlpServe.otlpStop(spark, uri).first()
    assert(st.getAs[String]("status") == s"Stopped listening on otlp:127.0.0.1:${ports(4)}")
    assert(OtlpServe.serverList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(4)}").count() == 0)
  }

  test("disable_auth mints no token and skips the length floor") {
    val r = OtlpServe.otapServe(spark, s"otap:127.0.0.1:${ports(6)}",
      Map("disable_auth" -> "true", "token" -> "x",
        "target" -> "parquet",
        "parquet_root" -> java.nio.file.Files.createTempDirectory("otap").toString))
      .first()
    assert(r.getAs[String]("auth_token") == "")
    OtlpServe.otlpStop(spark, s"otap:127.0.0.1:${ports(6)}")
  }

  // ---- ingest hot path (catalog mode) --------------------------------------

  test("HTTP ingest end-to-end: auth, 202, seal to catalog tables") {
    val uri = s"otlp:127.0.0.1:${ports(7)}"
    val r = OtlpServe.otlpServe(spark, uri,
      Map("token" -> Token, "schema" -> "otlptest_e2e")).first()
    val url = r.getAs[String]("listen_url")

    // healthz / readyz
    assert(get(url, "/healthz").statusCode() == 200)
    assert(get(url, "/readyz").statusCode() == 200)

    // no auth → 401
    assert(post(url, "/v1/logs", fixture("logs_simple.jsonl"),
      Map("Content-Type" -> "application/x-ndjson")).statusCode() == 401)
    // wrong content type → 415
    assert(post(url, "/v1/logs", fixture("logs_simple.jsonl"),
      Map("Content-Type" -> "text/plain",
        "Authorization" -> s"Bearer $Token")).statusCode() == 415)
    // bad encoding → 415
    assert(post(url, "/v1/logs", fixture("logs_simple.jsonl"),
      Map("Content-Type" -> "application/json", "Content-Encoding" -> "br",
        "Authorization" -> s"Bearer $Token")).statusCode() == 415)
    // malformed JSON → 400
    val bad = post(url, "/v1/logs", "not json".getBytes(StandardCharsets.UTF_8),
      Map("Content-Type" -> "application/json", "Authorization" -> s"Bearer $Token"))
    assert(bad.statusCode() == 400)

    // ndjson with Bearer → 202 {"status":"buffered","rows":3,"batches":3}
    val ok = post(url, "/v1/logs", fixture("logs_simple.jsonl"),
      Map("Content-Type" -> "application/x-ndjson",
        "Authorization" -> s"Bearer $Token"))
    assert(ok.statusCode() == 202, ok.body())
    assert(ok.body().contains(""""status":"buffered""""))
    assert(ok.body().contains(""""rows":3"""))
    assert(ok.body().contains(""""batches":3"""))

    // x-api-key header also authorizes
    val one = new String(fixture("traces_simple.jsonl"), StandardCharsets.UTF_8)
      .split("\n").head.getBytes(StandardCharsets.UTF_8)
    assert(post(url, "/v1/traces", one,
      Map("Content-Type" -> "application/json", "x-api-key" -> Token))
      .statusCode() == 202)

    // metrics fan-out: one request → rows in all four shape buffers
    val mm = post(url, "/v1/metrics", fixture("metrics_all_types.jsonl"),
      Map("Content-Type" -> "application/x-ndjson",
        "Authorization" -> s"Bearer $Token"))
    assert(mm.statusCode() == 202)
    assert(mm.body().contains(""""rows":4"""))

    // buffered counters reflect ingest before seal
    val listed = OtlpServe.serverList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(7)}").first()
    assert(listed.getAs[Long]("buffered_rows") == 8L)
    assert(listed.getAs[Long]("total_requests") >= 5L)
    // admission telemetry: wire bytes tracked separately from the
    // heap-adjusted reservation; the inflation ratio (heap/wire) shows
    // when the decoded-size secondary bound is binding (>= 1 by definition)
    assert(listed.getAs[Long]("buffered_wire_bytes") > 0L)
    assert(listed.getAs[Double]("admitted_inflation_ratio") >= 1.0)

    // flush → rows land in the six catalog tables
    val fl = OtlpServe.otlpFlush(spark, uri).first()
    assert(fl.getAs[String]("status") == "sealed", fl.toString)
    assert(fl.getAs[Long]("sealed_rows") == 8L)
    assert(spark.table("otlptest_e2e.otlp_logs").count() == 3)
    assert(spark.table("otlptest_e2e.otlp_traces").count() == 1)
    assert(spark.table("otlptest_e2e.otlp_metrics_gauge").count() == 1)
    assert(spark.table("otlptest_e2e.otlp_metrics_sum").count() == 1)
    assert(spark.table("otlptest_e2e.otlp_metrics_histogram").count() == 1)
    assert(spark.table("otlptest_e2e.otlp_metrics_exp_histogram").count() == 1)

    // value spot checks: µs timestamps + content survive the seal
    val logs = spark.table("otlptest_e2e.otlp_logs")
    assert(logs.where(col("severity_text") === "INFO")
      .select("body").first().getString(0) == "Application started")
    assert(logs.select(max(length(col("trace_id")))).first().getInt(0) == 32)

    // seal history recorded
    val seals = OtlpServe.sealList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(7)}")
    assert(seals.count() >= 1)
    assert(seals.where(col("success")).agg(sum("rows")).first().getLong(0) == 8L)

    OtlpServe.otlpStop(spark, uri)
  }

  test("413 body cap and gzip decoding") {
    val uri = s"otlp:127.0.0.1:${ports(8)}"
    val r = OtlpServe.otlpServe(spark, uri,
      Map("token" -> Token, "schema" -> "otlptest_cap",
        "max_body_bytes" -> "256")).first()
    val url = r.getAs[String]("listen_url")
    val big = ("x" * 500).getBytes(StandardCharsets.UTF_8)
    assert(post(url, "/v1/logs", big,
      Map("Content-Type" -> "application/json",
        "Authorization" -> s"Bearer $Token")).statusCode() == 413)

    // gzip body under the cap decodes fine
    val line = new String(fixture("logs_nulls.jsonl"), StandardCharsets.UTF_8)
      .split("\n").head
    val gz = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(line.getBytes(StandardCharsets.UTF_8)); g.close()
      bos.toByteArray
    }
    val ok = post(url, "/v1/logs", gz,
      Map("Content-Type" -> "application/json", "Content-Encoding" -> "gzip",
        "Authorization" -> s"Bearer $Token"))
    assert(ok.statusCode() == 202, ok.body())

    // decompression bomb: tiny gzip body expanding past 8x max_body_bytes
    val bomb = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(new Array[Byte](64 * 1024)); g.close() // 64KB of zeros, ~80B gz
      bos.toByteArray
    }
    assert(bomb.length < 256, s"bomb should compress tiny, got ${bomb.length}")
    val boom = post(url, "/v1/logs", bomb,
      Map("Content-Type" -> "application/json", "Content-Encoding" -> "gzip",
        "Authorization" -> s"Bearer $Token"))
    assert(boom.statusCode() == 413, boom.body())
    OtlpServe.otlpStop(spark, uri)
  }

  test("503 admission backpressure when buffer budget is exhausted") {
    val uri = s"otlp:127.0.0.1:${ports(9)}"
    val r = OtlpServe.otlpServe(spark, uri,
      Map("token" -> Token, "schema" -> "otlptest_bp",
        "max_buffered_bytes" -> "2048",
        "seal_target_bytes" -> "1073741824",
        "seal_max_age_ms" -> "3600000")).first()
    val url = r.getAs[String]("listen_url")
    val body = fixture("logs_simple.jsonl")
    // each request reserves max(len,1024); 2048-byte budget fits one ~1.5k req
    val first = post(url, "/v1/logs", body,
      Map("Content-Type" -> "application/x-ndjson", "Authorization" -> s"Bearer $Token"))
    assert(first.statusCode() == 202)
    val second = post(url, "/v1/logs", body,
      Map("Content-Type" -> "application/x-ndjson", "Authorization" -> s"Bearer $Token"))
    assert(second.statusCode() == 503, second.body())
    OtlpServe.otlpStop(spark, uri)
  }

  test("admission pressure seals without waiting for the age trigger") {
    val uri = s"otlp:127.0.0.1:${ports(10)}"
    // wire target and age are both unreachable; only the admission-pressure
    // clause (buffered heap >= cap/2) can drain — without it a
    // high-inflation stream would sit at 503 until seal_max_age_ms
    OtlpServe.otlpServe(spark, uri,
      Map("token" -> Token, "target" -> "parquet",
        "parquet_root" -> java.nio.file.Files.createTempDirectory("otlp_pressure").toString,
        "max_buffered_bytes" -> "60000",
        "seal_target_bytes" -> "1073741824",
        "seal_max_age_ms" -> "3600000"))
    val url = OtlpServe.serverList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(10)}").first()
      .getAs[String]("listen_url")
    val line = """{"resourceLogs":[{"resource":{},"scopeLogs":[{"scope":{},"logRecords":[{"timeUnixNano":"1640000000000000000","severityNumber":9,"severityText":"INFO","body":{"stringValue":"pressure-seal record body with some length to it"}}]}]}]}"""
    val body = Array.fill(180)(line).mkString("\n").getBytes(StandardCharsets.UTF_8)
    assert(body.length > 30000 && body.length < 60000, body.length.toString)
    assert(post(url, "/v1/logs",  body,
      Map("Content-Type" -> "application/x-ndjson",
        "Authorization" -> s"Bearer $Token")).statusCode() == 202)
    // no flush: the pressure-requested seal must drain on its own
    val server = OtlpServe.get(uri).get
    val deadline = System.currentTimeMillis() + 15000
    while (server.committedRowsTotal.get() < 180 &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(server.committedRowsTotal.get() == 180L)
    OtlpServe.otlpStop(spark, uri)
  }

  test("admission binds on decoded size, not wire size (gzip bomb)") {
    val uri = s"otlp:127.0.0.1:${ports(11)}"
    OtlpServe.otlpServe(spark, uri,
      Map("token" -> Token, "schema" -> "otlptest_bomb",
        "max_buffered_bytes" -> "200000",
        "seal_target_bytes" -> "1073741824",
        "seal_max_age_ms" -> "3600000"))
    val url = OtlpServe.serverList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(11)}").first()
      .getAs[String]("listen_url")
    // ~2000 identical records: tiny on the wire after gzip, ~1 MB of
    // UnsafeRow images resident after decode — far over the 200 KB cap
    val line = """{"resourceLogs":[{"resource":{},"scopeLogs":[{"scope":{},"logRecords":[{"timeUnixNano":"1640000000000000000","severityNumber":9,"severityText":"INFO","body":{"stringValue":"aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"}}]}]}]}"""
    val plain = Array.fill(2000)(line).mkString("\n").getBytes(StandardCharsets.UTF_8)
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(plain); gz.close()
    val gzBody = bos.toByteArray
    assert(gzBody.length < 50000, s"gzip body unexpectedly large: ${gzBody.length}")
    val hdrs = Map("Content-Type" -> "application/x-ndjson",
      "Content-Encoding" -> "gzip", "Authorization" -> s"Bearer $Token")
    // the bomb itself is admitted (its wire reserve passed the check)…
    assert(post(url, "/v1/logs", gzBody, hdrs).statusCode() == 202)
    // …and the decoded-size top-up holds the reservation over the cap:
    // the next request 503s UNLESS the admission-pressure seal already
    // drained the buffers (which releases the reservation) — both are
    // correct; what must never happen is a 202 with nothing drained
    val server = OtlpServe.get(uri).get
    val second = post(url, "/v1/logs", gzBody, hdrs)
    assert(second.statusCode() == 503 || server.committedRowsTotal.get() > 0,
      s"${second.statusCode()} ${second.body()}")
    // sealing releases the decoded-size reservation and ingest resumes
    assert(OtlpServe.otlpFlush(spark, uri).first().getAs[String]("status") == "sealed")
    assert(post(url, "/v1/logs", gzBody, hdrs).statusCode() == 202)
    OtlpServe.otlpStop(spark, uri)
  }

  test("parquet target: partitioned zstd layout + inspection views") {
    val root = java.nio.file.Files.createTempDirectory("otlp_pq").toString
    val uri = s"otlp:127.0.0.1:${ports(13)}"
    val r = OtlpServe.otlpServe(spark, uri,
      Map("token" -> Token, "target" -> "parquet", "parquet_root" -> root)).first()
    val url = r.getAs[String]("listen_url")
    assert(post(url, "/v1/logs", fixture("logs_simple.jsonl"),
      Map("Content-Type" -> "application/x-ndjson",
        "Authorization" -> s"Bearer $Token")).statusCode() == 202)
    assert(post(url, "/v1/traces", fixture("traces_simple.jsonl"),
      Map("Content-Type" -> "application/x-ndjson",
        "Authorization" -> s"Bearer $Token")).statusCode() == 202)
    val fl = OtlpServe.otlpFlush(spark, uri).first()
    assert(fl.getAs[String]("status") == "sealed", fl.toString)

    // layout: root/otlp_logs/year=2021/month=12/day=20/*.parquet
    val day = new java.io.File(s"$root/otlp_logs/year=2021/month=12/day=20")
    assert(day.exists(), s"missing partition dir; tree: ${new java.io.File(root).list().toSeq}")
    val back = spark.read.parquet(s"$root/otlp_logs")
    assert(back.count() == 3)
    // partition columns are directory-only, not in the data files
    val raw = spark.read.parquet(day.listFiles().filter(_.getName.endsWith(".parquet")).head.toString)
    assert(!raw.columns.contains("year"))
    // traces partition on start_time_unix_nano
    assert(new java.io.File(s"$root/otlp_traces/year=2021").exists())

    OtlpServe.get(uri).get // server still registered
    OtlpServe.otlpStop(spark, uri)
  }

  test("attribute promotion: resource key becomes a real column at seal") {
    val uri = s"otlp:127.0.0.1:${ports(14)}"
    OtlpServe.otlpServe(spark, uri,
      Map("token" -> Token, "schema" -> "otlptest_promo",
        "promote_resource_attributes" -> "service.name,host.name",
        "promote_scope_attributes" -> "telemetry.sdk.name"))
    val url = OtlpServe.serverList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(14)}").first()
      .getAs[String]("listen_url")
    assert(post(url, "/v1/logs", fixture("logs_simple.jsonl"),
      Map("Content-Type" -> "application/x-ndjson",
        "Authorization" -> s"Bearer $Token")).statusCode() == 202)
    // one record whose scope carries the promoted attribute
    val scoped = """{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"test-service"}}]},"scopeLogs":[{"scope":{"name":"sdk-logger","attributes":[{"key":"telemetry.sdk.name","value":{"stringValue":"graft-sdk"}}]},"logRecords":[{"timeUnixNano":"1640000000000000000","severityNumber":9,"body":{"stringValue":"scoped"}}]}]}]}"""
    assert(post(url, "/v1/logs", scoped.getBytes(StandardCharsets.UTF_8),
      Map("Content-Type" -> "application/json",
        "Authorization" -> s"Bearer $Token")).statusCode() == 202)
    OtlpServe.otlpFlush(spark, uri)
    val t = spark.table("otlptest_promo.otlp_logs")
    assert(t.columns.contains("resource_attr_service_name"))
    assert(t.where(col("resource_attr_service_name") === "test-service").count() == 4)
    // JSON blob is kept alongside the promoted column
    assert(t.where(get_json_object(col("resource_attributes"),
      "$['service.name']") === "test-service").count() == 4)
    // scope promotion: real column; rows without the key read NULL
    assert(t.columns.contains("scope_attr_telemetry_sdk_name"))
    assert(t.where(col("scope_attr_telemetry_sdk_name") === "graft-sdk").count() == 1)
    assert(t.where(col("scope_attr_telemetry_sdk_name").isNull).count() == 3)
    // the documented cross-era read helper (reference serve.md COALESCE
    // pattern): answers from the promoted column here
    assert(t.where(Otlp.promotedCol("service.name") === "test-service").count() == 4)
    assert(t.where(Otlp.promotedScopeCol("telemetry.sdk.name") === "graft-sdk").count() == 1)
    // legacy-row golden: a row sealed BEFORE promotion has NULL in the
    // column and the key only in the blob — promotedCol still reads it;
    // a post-promotion row answers from the real column (authoritative)
    // so pruning-friendly reads never touch its JSON
    import spark.implicits._
    val legacy = Seq(
      (null.asInstanceOf[String], """{"service.name":"legacy-svc"}"""),
      ("new-svc", """{"service.name":"stale-blob"}"""))
      .toDF("resource_attr_service_name", "resource_attributes")
    assert(legacy.select(Otlp.promotedCol("service.name"))
      .collect().map(_.getString(0)).toSeq == Seq("legacy-svc", "new-svc"))
    OtlpServe.otlpStop(spark, uri)
  }

  test("parquet_export_path is the reference spelling of the parquet target") {
    val root = java.nio.file.Files.createTempDirectory("otlp_pep").toString
    val uri = s"otlp:127.0.0.1:${ports(10)}"
    OtlpServe.otlpServe(spark, uri, Map("token" -> Token,
      "parquet_export_path" -> root, "http_threads" -> "8"))
    val url = OtlpServe.serverList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(10)}").first()
      .getAs[String]("listen_url")
    assert(post(url, "/v1/logs", fixture("logs_simple.jsonl"),
      Map("Content-Type" -> "application/x-ndjson",
        "Authorization" -> s"Bearer $Token")).statusCode() == 202)
    assert(OtlpServe.otlpFlush(spark, uri).first()
      .getAs[String]("status") == "sealed")
    assert(spark.read.parquet(s"$root/otlp_logs").count() == 3)
    OtlpServe.otlpStop(spark, uri)
  }

  test("protobuf ingest over HTTP") {
    val uri = s"otlp:127.0.0.1:${ports(15)}"
    OtlpServe.otlpServe(spark, uri,
      Map("token" -> Token, "schema" -> "otlptest_pb"))
    val url = s"http://127.0.0.1:${ports(15)}"
    // one-log protobuf request built with the test wire writer
    import ProtoW._
    val lr = m().fixed64(1, 1640000000000000000L).vint(2, 9)
      .string(3, "INFO").msg(5, m().string(1, "pb log"))
    val req = m().msg(1, m()
      .msg(1, resource(strAttr("service.name", "pb-svc")))
      .msg(2, m().msg(1, scope("pb-logger")).msg(2, lr))).toBytes
    val ok = post(url, "/v1/logs", req,
      Map("Content-Type" -> "application/x-protobuf",
        "Authorization" -> s"Bearer $Token"))
    assert(ok.statusCode() == 202, ok.body())
    OtlpServe.otlpFlush(spark, uri)
    val t = spark.table("otlptest_pb.otlp_logs")
    assert(t.where(col("service_name") === "pb-svc").count() == 1)
    OtlpServe.otlpStop(spark, uri)
  }

  test("concurrent producers: no lost rows, accepted == sealed (reconciliation)") {
    val uri = s"otlp:127.0.0.1:${ports(16)}"
    val r = OtlpServe.otlpServe(spark, uri,
      Map("token" -> Token, "schema" -> "otlptest_conc",
        "seal_max_age_ms" -> "500")).first()
    val url = r.getAs[String]("listen_url")
    val body = fixture("logs_simple.jsonl") // 3 rows per request
    val threads = 8
    val perThread = 20
    val accepted = new java.util.concurrent.atomic.AtomicLong(0)
    val pool = (0 until threads).map { _ =>
      val t = new Thread(() => {
        val c = HttpClient.newHttpClient()
        (0 until perThread).foreach { _ =>
          val resp = c.send(HttpRequest.newBuilder(URI.create(url + "/v1/logs"))
            .header("Content-Type", "application/x-ndjson")
            .header("Authorization", s"Bearer $Token")
            .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
            HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode() == 202) accepted.addAndGet(3)
        }
      })
      t.start(); t
    }
    pool.foreach(_.join())
    assert(accepted.get() == threads * perThread * 3L)
    // mid-load seals already ran (age 500ms); flush drains the rest
    OtlpServe.otlpFlush(spark, uri)
    val listed = OtlpServe.serverList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(16)}").first()
    assert(listed.getAs[Long]("committed_rows_total") == accepted.get())
    assert(listed.getAs[Long]("buffered_rows") == 0L)
    assert(spark.table("otlptest_conc.otlp_logs").count() == accepted.get())
    OtlpServe.otlpStop(spark, uri)
  }

  test("wide tables: extra trailing columns NULL-fill at seal (schema evolution)") {
    import org.apache.spark.sql.types._
    // pre-create the six tables, one widened with an extra trailing column
    spark.sql("CREATE DATABASE IF NOT EXISTS otlptest_wide")
    graft.otlp.OtlpSchemas.Signals.foreach { s =>
      val base = graft.otlp.OtlpSchemas.forSignal(s)
      val schema =
        if (s == "logs") StructType(base.fields :+ StructField("extra_note", StringType))
        else base
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        .write.mode("overwrite").saveAsTable(s"otlptest_wide.otlp_$s")
    }
    val uri = s"otlp:127.0.0.1:${ports(17)}"
    OtlpServe.otlpServe(spark, uri,
      Map("token" -> Token, "schema" -> "otlptest_wide", "create_tables" -> "false"))
    val url = s"http://127.0.0.1:${ports(17)}"
    assert(post(url, "/v1/logs", fixture("logs_simple.jsonl"),
      Map("Content-Type" -> "application/x-ndjson",
        "Authorization" -> s"Bearer $Token")).statusCode() == 202)
    val fl = OtlpServe.otlpFlush(spark, uri).first()
    assert(fl.getAs[String]("status") == "sealed", fl.toString)
    val t = spark.table("otlptest_wide.otlp_logs")
    assert(t.count() == 3)
    assert(t.where(col("extra_note").isNull).count() == 3)
    assert(t.where(col("severity_text") === "INFO").count() == 1)
    OtlpServe.otlpStop(spark, uri)
  }

  test("create_tables := false fails fast when tables are missing") {
    val e = intercept[Exception](OtlpServe.otlpServe(spark, s"otlp:127.0.0.1:${ports(18)}",
      Map("token" -> Token, "schema" -> "otlptest_missing",
        "create_tables" -> "false")))
    assert(e.getMessage.contains("is not available"), e.getMessage)
    // and the failed server is not left registered
    assert(OtlpServe.serverList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(18)}").count() == 0)
  }
}
