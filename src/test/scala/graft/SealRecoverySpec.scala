package graft

import graft.streaming._
import org.apache.spark.sql.functions._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Failure recovery + maintenance: restore-unsealed semantics on failed
  * seals (reference src/otlp_server.cpp restore contract, SURVEY §7.3 #3)
  * and the cadence-gated post-seal compaction. */
class SealRecoverySpec extends SparkTestBase {

  private val ports = SparkTestBase.freePorts(8)

  private val fx = "src/test/resources/otlp"
  private val client = HttpClient.newHttpClient()
  private val Token = "dev-token-1234567890"

  private def post(port: Int, body: Array[Byte]): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v1/logs"))
      .header("Content-Type", "application/x-ndjson")
      .header("Authorization", s"Bearer $Token")
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$fx/$name"))

  override def beforeAll(): Unit = {
    super.beforeAll()
    // managed-table locations persist across JVMs while the in-memory
    // catalog does not; stale dirs block saveAsTable
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

  test("failed seal restores rows, reports degradation, counts drops on stop") {
    val uri = s"otlp:127.0.0.1:${ports(0)}"
    // /dev/null is not a directory: every parquet write must fail
    OtlpServe.otlpServe(spark, uri, Map(
      "token" -> Token, "target" -> "parquet",
      "parquet_root" -> "/dev/null/otlp_broken",
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824"))
    assert(post(ports(0), fixture("logs_simple.jsonl")).statusCode() == 202)

    val fl = OtlpServe.otlpFlush(spark, uri).first()
    assert(fl.getAs[String]("status") == "error")
    assert(fl.getAs[String]("error") != null)

    // rows restored (order-preserving re-buffer), failure counted
    val listed = OtlpServe.serverList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(0)}").first()
    assert(listed.getAs[Long]("buffered_rows") == 3L)
    assert(listed.getAs[Long]("seal_failures_total") >= 1L)
    assert(listed.getAs[String]("seal_last_error") != null)
    assert(listed.getAs[Long]("committed_rows_total") == 0L)

    // readyz degrades while sealing is failing
    val ready = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${ports(0)}/readyz")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(ready.statusCode() == 503)

    // seal history records the failures
    val seals = OtlpServe.sealList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(0)}" && !col("success"))
    assert(seals.count() >= 1)

    // stop drains with 3 attempts, then reports the undeliverable rows
    val st = OtlpServe.otlpStop(spark, uri).first()
    assert(st.getAs[Long]("dropped_rows") == 3L)
  }

  test("otlp_stop waits for a seal cycle in flight and counts the rows it fails to land") {
    val uri = s"otlp:127.0.0.1:${ports(7)}"
    // a 1-byte seal target: the sealer thread itself swaps the posted rows
    // out, as an age or size seal would be when a shutdown arrives
    OtlpServe.otlpServe(spark, uri, Map(
      "token" -> Token, "schema" -> "otlptest_stopwait",
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1"))
    val server = OtlpServe.get(uri).get
    val inWrite = new java.util.concurrent.CountDownLatch(1)
    val proceed = new java.util.concurrent.CountDownLatch(1)
    // the cycle blocks inside its write; once let go it loses the table
    // and fails, so no retry can land its rows
    server.writer.failAfterCatalogCommit = { s =>
      inWrite.countDown()
      proceed.await(60, java.util.concurrent.TimeUnit.SECONDS)
      spark.sql("DROP TABLE IF EXISTS otlptest_stopwait.otlp_logs")
      throw new RuntimeException(s"injected failure of the in-flight seal ($s)")
    }
    assert(post(ports(7), fixture("logs_simple.jsonl")).statusCode() == 202)
    assert(inWrite.await(60, java.util.concurrent.TimeUnit.SECONDS))
    assert(server.bufferedRows == 0L) // swapped out into the blocked cycle
    import scala.concurrent.ExecutionContext.Implicits.global
    val stop = scala.concurrent.Future(OtlpServe.otlpStop(spark, uri).first())
    Thread.sleep(1000)
    assert(!stop.isCompleted, "otlp_stop returned while a seal cycle was in flight")
    proceed.countDown()
    val st = scala.concurrent.Await.result(stop, scala.concurrent.duration.Duration(120, "s"))
    assert(st.getAs[Long]("dropped_rows") == 3L)
    server.writer.failAfterCatalogCommit = null
  }

  test("cadence-gated post-seal compaction merges small files") {
    val root = java.nio.file.Files.createTempDirectory("otlp_maint").toString
    val uri = s"otlp:127.0.0.1:${ports(1)}"
    OtlpServe.otlpServe(spark, uri, Map(
      "token" -> Token, "target" -> "parquet", "parquet_root" -> root,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824",
      "maintenance_min_seals" -> "5", "maintenance_min_interval_ms" -> "1"))
    val body = fixture("logs_simple.jsonl")
    (1 to 5).foreach { _ =>
      assert(post(ports(1), body).statusCode() == 202)
      val fl = OtlpServe.otlpFlush(spark, uri).first()
      assert(fl.getAs[String]("status") == "sealed", fl.toString)
    }
    val day = new java.io.File(s"$root/otlp_logs/year=2021/month=12/day=20")
    val files = day.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, s"expected compaction to 1 file, got ${files.length}")
    // all 15 rows survive compaction
    assert(spark.read.parquet(s"$root/otlp_logs").count() == 15)
    val listed = OtlpServe.serverList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(1)}").first()
    assert(listed.getAs[Long]("maintenance_runs_total") == 1L)
    assert(listed.isNullAt(listed.fieldIndex("maintenance_last_error")))
    OtlpServe.otlpStop(spark, uri)
  }

  test("inspection views see every later seal without a session restart") {
    val root = java.nio.file.Files.createTempDirectory("otlp_viewfresh").toString
    val uri = s"otlp:127.0.0.1:${ports(2)}"
    OtlpServe.otlpServe(spark, uri, Map(
      "token" -> Token, "target" -> "parquet", "parquet_root" -> root,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824"))
    assert(post(ports(2), fixture("logs_simple.jsonl")).statusCode() == 202)
    assert(OtlpServe.otlpFlush(spark, uri).first()
      .getAs[String]("status") == "sealed")
    assert(spark.table("otlp_logs").count() == 3)
    // a second seal must be visible through the SAME view name — the view
    // is recreated per seal because Spark pins the file listing at creation
    assert(post(ports(2), fixture("logs_simple.jsonl")).statusCode() == 202)
    assert(OtlpServe.otlpFlush(spark, uri).first()
      .getAs[String]("status") == "sealed")
    assert(spark.table("otlp_logs").count() == 6)
    OtlpServe.otlpStop(spark, uri)
  }

  test("retention expiry deletes files past the horizon, keeps newer ones") {
    val root = java.nio.file.Files.createTempDirectory("otlp_retention").toString
    val uri = s"otlp:127.0.0.1:${ports(3)}"
    OtlpServe.otlpServe(spark, uri, Map(
      "token" -> Token, "target" -> "parquet", "parquet_root" -> root,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824",
      "maintenance_retention_ms" -> "1500",
      "maintenance_min_seals" -> "2", "maintenance_min_interval_ms" -> "1"))
    val body = fixture("logs_simple.jsonl")
    // seal 1, then age it past the horizon
    assert(post(ports(3), body).statusCode() == 202)
    assert(OtlpServe.otlpFlush(spark, uri).first().getAs[String]("status") == "sealed")
    assert(spark.read.parquet(s"$root/otlp_logs").count() == 3)
    Thread.sleep(2000)
    // seal 2 trips the maintenance cadence; expiry runs before compaction
    assert(post(ports(3), body).statusCode() == 202)
    assert(OtlpServe.otlpFlush(spark, uri).first().getAs[String]("status") == "sealed")
    // seal 1's files (older than 1500 ms) are gone; seal 2's survive and
    // the inspection view still reads them
    assert(spark.read.parquet(s"$root/otlp_logs").count() == 3)
    assert(spark.table("otlp_logs").count() == 3)
    val listed = OtlpServe.serverList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(3)}").first()
    assert(listed.getAs[Long]("retention_deleted_files_total") >= 1L)
    assert(listed.getAs[Long]("maintenance_runs_total") >= 1L)
    OtlpServe.otlpStop(spark, uri)
  }

  test("catalog retry after post-commit failure inserts zero duplicate rows") {
    val uri = s"otlp:127.0.0.1:${ports(4)}"
    OtlpServe.otlpServe(spark, uri, Map(
      "token" -> Token, "schema" -> "otlptest_idem",
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824"))
    val server = OtlpServe.get(uri).get
    // fail AFTER the insert commits — the crash window where at-least-once
    // retry would duplicate every row of the batch
    server.writer.failAfterCatalogCommit =
      s => throw new RuntimeException(s"injected post-commit failure ($s)")
    assert(post(ports(4), fixture("logs_simple.jsonl")).statusCode() == 202)
    val fl1 = OtlpServe.otlpFlush(spark, uri).first()
    assert(fl1.getAs[String]("status") == "error")
    assert(fl1.getAs[String]("error").contains("injected post-commit failure"))
    // the insert itself landed; the rows were also restored for retry
    assert(spark.table("otlptest_idem.otlp_logs").count() == 3)
    val listed = OtlpServe.serverList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(4)}").first()
    assert(listed.getAs[Long]("buffered_rows") == 3L)
    // retry: the _seal_id probe proves the prior attempt committed and
    // skips re-inserting — effectively-once, not at-least-once
    server.writer.failAfterCatalogCommit = null
    val fl2 = OtlpServe.otlpFlush(spark, uri).first()
    assert(fl2.getAs[String]("status") == "sealed", fl2.toString)
    assert(fl2.getAs[Long]("sealed_rows") == 3L)
    assert(spark.table("otlptest_idem.otlp_logs").count() == 3L)
    assert(spark.table("otlptest_idem.otlp_logs")
      .select("_seal_id").distinct().count() == 1L)
    val after = OtlpServe.serverList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(4)}").first()
    assert(after.getAs[Long]("buffered_rows") == 0L)
    assert(after.getAs[Long]("committed_rows_total") == 3L)
    OtlpServe.otlpStop(spark, uri)
  }

  test("readExport prunes partitions for a time-ranged query") {
    val root = java.nio.file.Files.createTempDirectory("otlp_export").toString
    val uri = s"otlp:127.0.0.1:${ports(5)}"
    OtlpServe.otlpServe(spark, uri, Map(
      "token" -> Token, "target" -> "parquet", "parquet_root" -> root,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824"))
    def rec(ns: Long, body: String) =
      s"""{"resourceLogs":[{"resource":{},"scopeLogs":[{"scope":{},"logRecords":[{"timeUnixNano":"$ns","severityNumber":9,"severityText":"INFO","body":{"stringValue":"$body"}}]}]}]}"""
    // two event DAYS: 2021-12-20T12:00Z and 2021-12-21T12:00Z
    val body = (rec(1640001600000000000L, "day one") + "\n" +
      rec(1640088000000000000L, "day two")).getBytes("UTF-8")
    assert(post(ports(5), body).statusCode() == 202)
    assert(OtlpServe.otlpFlush(spark, uri).first().getAs[String]("status") == "sealed")
    assert(new java.io.File(s"$root/otlp_logs/year=2021/month=12/day=20").isDirectory)
    assert(new java.io.File(s"$root/otlp_logs/year=2021/month=12/day=21").isDirectory)
    // range covering only day two
    val df = Otlp.readExport(spark, root, "logs",
      fromUtc = java.time.Instant.parse("2021-12-21T00:00:00Z"),
      toUtc = java.time.Instant.parse("2021-12-21T23:59:59Z"))
    assert(df.count() == 1)
    assert(df.first().getAs[String]("body") == "day two")
    // the day predicate must reach the scan as a PARTITION filter — only
    // day=21's directory is listed and read
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      !plan.contains("PartitionFilters: []"), plan)
    OtlpServe.otlpStop(spark, uri)
  }

  test("catalog-mode maintenance compacts the managed table's seal files") {
    val uri = s"otlp:127.0.0.1:${ports(6)}"
    OtlpServe.otlpServe(spark, uri, Map(
      "token" -> Token, "schema" -> "otlptest_catmaint",
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824",
      "maintenance_min_seals" -> "5", "maintenance_min_interval_ms" -> "1"))
    val body = fixture("logs_simple.jsonl")
    (1 to 5).foreach { _ =>
      assert(post(ports(6), body).statusCode() == 202)
      val fl = OtlpServe.otlpFlush(spark, uri).first()
      assert(fl.getAs[String]("status") == "sealed", fl.toString)
    }
    // the 5 per-seal files bin-packed into one; rows intact through the table
    val loc = new java.io.File(new java.net.URI(spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser
        .parseTableIdentifier("otlptest_catmaint.otlp_logs")).location.toString))
    val files = loc.listFiles().filter(f => f.getName.endsWith(".parquet") &&
      !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(files.length == 1, s"expected 1 compacted file, got ${files.length}")
    assert(spark.table("otlptest_catmaint.otlp_logs").count() == 15)
    val listed = OtlpServe.serverList(spark)
      .where(col("listen_uri") === s"otlp:127.0.0.1:${ports(6)}").first()
    assert(listed.getAs[Long]("maintenance_runs_total") == 1L)
    OtlpServe.otlpStop(spark, uri)
  }
}
