package graft

import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.TimeUnit

/** The deployment contract: the daemon must run OUTSIDE sbt as a plain
  * `java -cp appjar:sparkjars graft.ServerMain` process — the exact
  * command line `bin/graft-otlp-server` and the Docker image's ENTRYPOINT
  * run (docker/graft-otlp-server/Dockerfile mirrors the reference's
  * distroless daemon image, reference docker/duckdb-otlp-server/
  * Dockerfile). No SparkSession in this suite: every check is an external
  * process of the launcher script itself. */
class PackagingSpec extends AnyFunSuite {

  private val ports = SparkTestBase.freePorts(2)

  private val launcher = new java.io.File("bin/graft-otlp-server").getAbsolutePath
  // pin the launcher to the freshly compiled classes: the sbt-packaged jar
  // (the production default) may be stale relative to this test run
  private val appCp =
    new java.io.File("target/scala-2.13/classes").getAbsolutePath

  private def run(env: Map[String, String], timeoutSec: Long, args: String*)
      : (Int, String) = {
    val pb = new ProcessBuilder((launcher +: args): _*)
    pb.redirectErrorStream(true)
    pb.environment().put("GRAFT_APP_CP", appCp)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor(timeoutSec, TimeUnit.SECONDS), s"launcher timed out:\n$out")
    (p.exitValue(), out)
  }

  test("launcher: --help exits 0 and prints the env contract") {
    val (code, out) = run(Map.empty, 60, "--help")
    assert(code == 0, out)
    assert(out.contains("GRAFT_MODE"), out)
  }

  test("launcher: healthcheck exits 1 when nothing is listening") {
    val (code, _) = run(
      Map("OTEL_HTTP_ADDR" -> s"127.0.0.1:${ports(0)}"), 60, "healthcheck")
    assert(code == 1)
  }

  test("launcher e2e: serve in parquet mode, healthcheck goes green, " +
    "ingest lands, SIGTERM drains to exit 0 with sealed parquet on disk") {
    val root = java.nio.file.Files.createTempDirectory("pkg_daemon").toString
    val token = "packaging-spec-token-0123456789"
    val env = Map(
      "GRAFT_MODE" -> "parquet",
      "GRAFT_PARQUET_ROOT" -> root,
      "OTEL_HTTP_ADDR" -> s"127.0.0.1:${ports(1)}",
      "GRAFT_OTLP_TOKEN" -> token,
      "GRAFT_OTLP_SEAL_MAX_AGE_MS" -> "3600000",
      "GRAFT_SPARK_MASTER" -> "local[4]",
      "GRAFT_JAVA_MEM" -> "3g")
    val pb = new ProcessBuilder(launcher)
    pb.redirectErrorStream(true)
    pb.redirectOutput(ProcessBuilder.Redirect.to(
      java.nio.file.Files.createTempFile("pkg_daemon", ".log").toFile))
    pb.environment().put("GRAFT_APP_CP", appCp)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val daemon = pb.start()
    try {
      // the image HEALTHCHECK: a SECOND process probing /readyz
      val deadline = System.currentTimeMillis() + 120000
      var healthy = false
      while (!healthy && System.currentTimeMillis() < deadline) {
        assert(daemon.isAlive, "daemon died during startup")
        healthy = run(Map("OTEL_HTTP_ADDR" -> s"127.0.0.1:${ports(1)}"),
          60, "healthcheck")._1 == 0
        if (!healthy) Thread.sleep(1000)
      }
      assert(healthy, "healthcheck never went green within 120s")
      val body = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("src/test/resources/otlp/logs_simple.jsonl"))
      val resp: HttpResponse[String] = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${ports(1)}/v1/logs"))
          .header("Content-Type", "application/x-ndjson")
          .header("Authorization", s"Bearer $token")
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 202, s"${resp.statusCode()} ${resp.body()}")
      daemon.destroy() // SIGTERM -> drain buffered rows, then exit 0
      assert(daemon.waitFor(120, TimeUnit.SECONDS), "daemon ignored SIGTERM")
      assert(daemon.exitValue() == 0, s"drain exit ${daemon.exitValue()}")
      // the drained seal is durable parquet under the export root
      def parquets(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(parquets)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      assert(parquets(new java.io.File(root, "otlp_logs")).nonEmpty,
        "no sealed parquet under the export root after drain")
    } finally if (daemon.isAlive) daemon.destroyForcibly()
  }
}
