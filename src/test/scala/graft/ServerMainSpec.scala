package graft

import graft.streaming.OtlpServe

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Lifecycle e2e for the standalone daemon (reference
  * `src/server/main.cpp`): start from env, readiness wait, self-probe
  * healthcheck, graceful drain on a shutdown request with the exit-code
  * contract (0 = listener healthy AND zero dropped rows), dry-run, and
  * arg dispatch. */
class ServerMainSpec extends SparkTestBase {

  private val ports = SparkTestBase.freePorts(5)

  private val client = HttpClient.newHttpClient()
  private val Token = "daemon-token-0123456789abcdef"

  private def env(m: Map[String, String]): String => Option[String] = m.get

  override def afterAll(): Unit = {
    OtlpServe.stopAll(spark)
    ServerMain.reset()
    super.afterAll()
  }

  test("arg dispatch: help exits 0, unknown arg exits 1, no args proceeds") {
    assert(ServerMain.dispatch(Array("help"), env(Map.empty)).contains(0))
    assert(ServerMain.dispatch(Array("--help"), env(Map.empty)).contains(0))
    assert(ServerMain.dispatch(Array("bogus"), env(Map.empty)).contains(1))
    assert(ServerMain.dispatch(Array.empty, env(Map.empty)).isEmpty)
  }

  test("healthcheck exits 1 when nothing is listening") {
    val e = Map("OTEL_HTTP_ADDR" -> s"127.0.0.1:${ports(0)}")
    assert(ServerMain.dispatch(Array("healthcheck"), env(e)).contains(1))
  }

  test("dry run prints the plan and exits 0 without binding") {
    val e = Map(
      "DRY_RUN" -> "1",
      "OTEL_HTTP_ADDR" -> s"127.0.0.1:${ports(1)}",
      "GRAFT_OTLP_TOKEN" -> Token)
    assert(ServerMain.run(env(e)) == 0)
    assert(OtlpServe.get(s"otlp:127.0.0.1:${ports(1)}").isEmpty)
  }

  test("config validation: bad mode and missing parquet root fail") {
    intercept[IllegalArgumentException](
      ServerMain.configFromEnv(env(Map("GRAFT_MODE" -> "iceberg"))))
    intercept[IllegalArgumentException](
      ServerMain.configFromEnv(env(Map("GRAFT_MODE" -> "parquet"))))
    // token unset + auth on -> minted and flagged so run() warns
    val minted = ServerMain.configFromEnv(env(Map.empty))
    assert(minted.tokenMinted && minted.serveParams("token").length >= 16)
    val set = ServerMain.configFromEnv(env(Map("GRAFT_OTLP_TOKEN" -> Token)))
    assert(!set.tokenMinted && set.serveParams("token") == Token)
    // snapshot (lakehouse) mode reaches the target and needs a root
    intercept[IllegalArgumentException](
      ServerMain.configFromEnv(env(Map("GRAFT_MODE" -> "snapshot"))))
    val snap = ServerMain.configFromEnv(env(Map(
      "GRAFT_MODE" -> "snapshot", "GRAFT_PARQUET_ROOT" -> "/tmp/snaproot")))
    assert(snap.serveParams("target") == "snapshot" &&
      snap.serveParams("parquet_root") == "/tmp/snaproot")
    // documented GRAFT_OTLP_HTTP_THREADS=auto = server default (no param)
    val auto = ServerMain.configFromEnv(env(Map(
      "GRAFT_OTLP_HTTP_THREADS" -> "auto")))
    assert(!auto.serveParams.contains("http_threads"))
    // config errors exit with the clean code-2 contract, not a stack trace
    assert(ServerMain.run(env(Map("GRAFT_MODE" -> "iceberg"))) == 2)
    // the listen URI and its wire are config too: a non-otlp/otap scheme
    // and an otap: listener on the HTTP wire fail before any session
    val badUri = Map("GRAFT_OTLP_LISTEN_URI" -> "http://bogus")
    val otapHttp = Map("GRAFT_OTLP_LISTEN_URI" -> "otap:localhost:4317",
      "GRAFT_OTLP_TRANSPORT" -> "http")
    Seq(badUri, otapHttp).foreach { e =>
      intercept[IllegalArgumentException](ServerMain.configFromEnv(env(e)))
      assert(ServerMain.run(env(e)) == 2)
    }
  }

  test("daemon session: master from the injected env, partitions from the master") {
    assert(ServerMain.configFromEnv(env(Map("SPARK_GRAFT_CPUS" -> "3")))
      .sparkMaster == "local[3]")
    assert(ServerMain.configFromEnv(env(Map("SPARK_GRAFT_CPUS" -> "3",
      "GRAFT_SPARK_MASTER" -> "local[4]"))).sparkMaster == "local[4]")
    assert(ServerMain.shufflePartitions("local[4]") == 4)
    assert(ServerMain.shufflePartitions("local[2,3]") == 2)
    assert(ServerMain.shufflePartitions("local") == 1)
    assert(ServerMain.shufflePartitions("local[*]") ==
      Runtime.getRuntime.availableProcessors)
    assert(ServerMain.shufflePartitions("spark://head:7077") == 32)
  }

  test("full lifecycle: start, ready, ingest, drain on shutdown, exit 0") {
    ServerMain.reset()
    val root = java.nio.file.Files.createTempDirectory("daemon_seal").toString
    val port = ports(2)
    val e = Map(
      "GRAFT_MODE" -> "parquet",
      "GRAFT_PARQUET_ROOT" -> root,
      "OTEL_HTTP_ADDR" -> s"127.0.0.1:$port",
      "GRAFT_OTLP_TOKEN" -> Token,
      // long age: the DRAIN must seal the buffered rows, not a timer
      "GRAFT_OTLP_SEAL_MAX_AGE_MS" -> "300000",
      "GRAFT_OTLP_STARTUP_TIMEOUT" -> "30")

    val body = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/otlp/logs_simple.jsonl"))
    @volatile var postedOk = false
    @volatile var healthOk = false
    val exit = new java.util.concurrent.CompletableFuture[Integer]()
    val t = new Thread(() => exit.complete(ServerMain.run(env(e), (_, _) => {
      // readiness contract: by the time onReady fires the wire answers
      healthOk = ServerMain.dispatch(Array("healthcheck"), env(e)).contains(0)
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v1/logs"))
          .header("Content-Type", "application/x-ndjson")
          .header("Authorization", s"Bearer $Token")
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      postedOk = resp.statusCode() == 202
      ServerMain.requestShutdown()
    })))
    t.start()
    val code = exit.get(120, java.util.concurrent.TimeUnit.SECONDS)
    t.join()
    assert(healthOk, "healthcheck should pass once onReady fires")
    assert(postedOk, "ingest POST should be accepted")
    assert(code == 0, "clean drain must exit 0")
    // zero dropped rows = the buffered batch is durable in the export root
    val logs = spark.read.parquet(s"$root/otlp_logs")
    assert(logs.count() > 0)
    assert(OtlpServe.get(s"otlp:127.0.0.1:$port").isEmpty,
      "server must be unregistered after drain")
  }

  test("snapshot-mode lifecycle: drain commits a snapshot and readAt " +
    "serves the sealed rows") {
    ServerMain.reset()
    val root = java.nio.file.Files.createTempDirectory("daemon_snap").toString
    val port = ports(3)
    val e = Map(
      "GRAFT_MODE" -> "snapshot",
      "GRAFT_PARQUET_ROOT" -> root,
      "OTEL_HTTP_ADDR" -> s"127.0.0.1:$port",
      "GRAFT_OTLP_TOKEN" -> Token,
      "GRAFT_OTLP_SEAL_MAX_AGE_MS" -> "300000",
      "GRAFT_OTLP_STARTUP_TIMEOUT" -> "30")
    val body = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/otlp/logs_simple.jsonl"))
    @volatile var postedOk = false
    val exit = new java.util.concurrent.CompletableFuture[Integer]()
    val t = new Thread(() => exit.complete(ServerMain.run(env(e), (_, _) => {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v1/logs"))
          .header("Content-Type", "application/x-ndjson")
          .header("Authorization", s"Bearer $Token")
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      postedOk = resp.statusCode() == 202
      ServerMain.requestShutdown()
    })))
    t.start()
    val code = exit.get(120, java.util.concurrent.TimeUnit.SECONDS)
    t.join()
    assert(postedOk, "ingest POST should be accepted")
    assert(code == 0, "clean drain must exit 0")
    // the drain's seal went through the snapshot commit: a snapshot exists
    // and time-travel-reading its head serves every sealed row
    val target = new graft.streaming.SnapshotTarget(
      graft.streaming.ServerConfig("otlp_serve", s"otlp:127.0.0.1:$port",
        Map("target" -> "snapshot", "parquet_root" -> root,
          "disable_auth" -> "true", "allow_other_hostname" -> "true")),
      spark)
    val snaps = target.snapshots("logs")
    assert(snaps.nonEmpty, "drain must commit a snapshot")
    assert(target.readAt("logs").count() > 0)
  }

  test("shutdown requested before startup exits 0 without serving") {
    ServerMain.requestShutdown()
    try {
      val e = Map(
        "OTEL_HTTP_ADDR" -> s"127.0.0.1:${ports(4)}",
        "GRAFT_OTLP_TOKEN" -> Token)
      assert(ServerMain.run(env(e)) == 0)
      assert(OtlpServe.get(s"otlp:127.0.0.1:${ports(4)}").isEmpty)
    } finally ServerMain.reset()
  }
}
