package graft

import graft.streaming._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Contract tests for the lakehouse seal target (`target := 'snapshot'`,
  * reference `otlp_server.cpp:54-58` expire_older_than / delete_older_than /
  * target_file_size; architecture.md storage layouts): atomic snapshot
  * commits through the live server, snapshot-level retention where CURRENT
  * data survives expiry regardless of age (the semantic the parquet
  * target's file-mtime TTL cannot give), compaction as a new commit with
  * replaced files retained for time travel, and the snapshot-level seal-id
  * idempotence probe. */
class SnapshotTargetSpec extends SparkTestBase {

  private val ports = SparkTestBase.freePorts(7)

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

  override def afterAll(): Unit = {
    OtlpServe.stopAll(spark)
    super.afterAll()
  }

  /** Age every committed snapshot's timestamp and every data file's mtime
    * to `atMs` (the clock crank for retention tests). */
  private def ageEverything(root: String, atMs: Long): Unit = {
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      f.setLastModified(atMs)
    }
    walk(new java.io.File(root))
    // snapshot metadata carries its own commit-time; rewrite it in place
    val snaps = new java.io.File(root)
    def rewrite(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rewrite)
      else if (f.getName.endsWith(".snap")) {
        val lines = java.nio.file.Files.readAllLines(f.toPath)
        val h = lines.get(0).split(" ", 5)
        if (h(0) == "v2") {
          lines.set(0, s"v2 ${h(1)} $atMs ${h(3)} ${h(4)}")
          // the header rewrite invalidates the log's own integrity trailer;
          // recompute it over everything before the trailer line
          val sb = new StringBuilder
          (0 until lines.size - 1).foreach(i => sb.append(lines.get(i)).append('\n'))
          val c = new java.util.zip.CRC32()
          c.update(sb.toString.getBytes("UTF-8"))
          lines.set(lines.size - 1, s"end ${c.getValue.toHexString}")
        } else
          lines.set(0, s"v1 ${h(1)} $atMs ${if (h.length > 3) h(3) else ""}".trim)
        java.nio.file.Files.write(f.toPath, lines)
        // the rewrite invalidates LocalFileSystem's checksum sidecar
        new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
        f.setLastModified(atMs)
      }
    }
    rewrite(snaps)
  }

  test("snapshot lifecycle: seals commit, expiry keeps live data, compaction time-travels") {
    val root = java.nio.file.Files.createTempDirectory("snap_target").toString
    val uri = s"otlp:127.0.0.1:${ports(0)}"
    val params = Map(
      "token" -> Token, "target" -> "snapshot", "parquet_root" -> root,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824",
      // maintenance runs manually below; gate it off during sealing
      "maintenance_min_seals" -> "1000000",
      "maintenance_retention_ms" -> s"${60L * 60 * 1000}")
    OtlpServe.otlpServe(spark, uri, params)

    // five seals -> five snapshots, each appending one file to the live set
    (1 to 5).foreach { i =>
      assert(post(ports(0), fixture("logs_simple.jsonl")).statusCode() == 202)
      val fl = OtlpServe.otlpFlush(spark, uri).first()
      assert(fl.getAs[String]("status") == "sealed", s"seal $i: $fl")
    }

    val target = new SnapshotTarget(
      ServerConfig("otlp_serve", uri, params - "token" + ("disable_auth" -> "true")),
      spark)
    val afterSeals = target.snapshots("logs")
    assert(afterSeals.map(_.seq) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(afterSeals.last.files.size == 5)
    assert(afterSeals.head.files.size == 1)
    // every seal recorded its seal id -> the idempotence probe answers
    assert(afterSeals.forall(_.sealId.nonEmpty))
    assert(target.readAt("logs").count() == 15)

    // a half-published seal is invisible: an orphan parquet file in a live
    // partition dir is NOT part of any snapshot and readers never see it
    val day = new java.io.File(root, "otlp_logs").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("year=")).head
    def leafDir(f: java.io.File): java.io.File =
      Option(f.listFiles()).getOrElse(Array.empty).find(_.isDirectory)
        .map(leafDir).getOrElse(f)
    val leaf = leafDir(day)
    val orphanSrc = leaf.listFiles().filter(_.getName.endsWith(".parquet")).head
    val orphan = new java.io.File(leaf, "orphan-copy.parquet")
    java.nio.file.Files.copy(orphanSrc.toPath, orphan.toPath)
    assert(target.readAt("logs").count() == 15, "orphan must stay invisible")

    // retry-idempotence: a prior segment whose seal id IS committed gets
    // trimmed; an unknown id's rows are kept (at-least-once, never loss)
    val committedId = afterSeals.head.sealId
    val rows = IndexedSeq(Array[Byte](1), Array[Byte](2), Array[Byte](3))
    val trimmed = target.dropCommittedPrefix(SealBatch("logs", rows,
      admittedBytes = 300, wireBytes = 300, firstUnsealedAtMs = 0,
      sealId = "retry", priorSegments = List(committedId -> 2, "unknown-id" -> 1)))
    assert(trimmed.rows.size == 1, "committed prefix must be dropped")

    // stop the server; maintenance continues against the store directly
    OtlpServe.otlpStop(spark, uri)

    // compaction: 5 small files -> 1, committed as snapshot 6; the five
    // originals remain on disk for snapshots 1..5 (time travel)
    assert(target.compact("logs") == 5)
    val afterCompact = target.head("logs").get
    assert(afterCompact.seq == 6L && afterCompact.files.size == 1)
    assert(afterCompact.sealId.startsWith("compaction-"))
    assert(target.readAt("logs").count() == 15)
    assert(target.readAt("logs", Some(3L)).count() == 9, "time travel to seq 3")
    assert(target.expire("logs") == 0L, "nothing is past the horizon yet")

    // age EVERYTHING 10 days past a 1-hour horizon. Snapshot expiry must:
    // drop snapshots 1..5 (metadata), NEVER the current snapshot, delete
    // the 5 unreferenced originals + the orphan, and KEEP the compacted
    // file even though its mtime is ancient — live data survives expiry
    // (the file-mtime TTL would have eaten it).
    ageEverything(root, System.currentTimeMillis() - 10L * 24 * 3600 * 1000)
    val deleted = target.expire("logs")
    assert(deleted == 6L, s"5 replaced + 1 orphan, got $deleted")
    assert(target.snapshots("logs").map(_.seq) == Seq(6L))
    assert(target.readAt("logs").count() == 15, "current data must survive expiry")
    intercept[IllegalArgumentException](target.readAt("logs", Some(3L)))
  }

  test("inspection views resolve the current snapshot after each seal") {
    val root = java.nio.file.Files.createTempDirectory("snap_views").toString
    val uri = s"otlp:127.0.0.1:${ports(1)}"
    OtlpServe.otlpServe(spark, uri, Map(
      "token" -> Token, "target" -> "snapshot", "parquet_root" -> root,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824"))
    assert(post(ports(1), fixture("logs_simple.jsonl")).statusCode() == 202)
    OtlpServe.otlpFlush(spark, uri)
    assert(spark.table("otlp_logs").count() == 3)
    assert(post(ports(1), fixture("logs_simple.jsonl")).statusCode() == 202)
    OtlpServe.otlpFlush(spark, uri)
    assert(spark.table("otlp_logs").count() == 6)
    // the view carries the partition columns of the export layout
    assert(spark.table("otlp_logs").columns.contains("year"))
    OtlpServe.otlpStop(spark, uri)
  }

  test("snapshot retry after post-commit failure republishes zero rows " +
    "(the seal-id probe engages for the snapshot target too)") {
    val root = java.nio.file.Files.createTempDirectory("snap_idem").toString
    val uri = s"otlp:127.0.0.1:${ports(2)}"
    OtlpServe.otlpServe(spark, uri, Map(
      "token" -> Token, "target" -> "snapshot", "parquet_root" -> root,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824"))
    val server = OtlpServe.get(uri).get
    // fail AFTER commitSnapshot succeeds — the crash window where an
    // at-least-once retry would re-publish and re-commit every row
    server.writer.failAfterCatalogCommit =
      s => throw new RuntimeException(s"injected post-commit failure ($s)")
    assert(post(ports(2), fixture("logs_simple.jsonl")).statusCode() == 202)
    val fl1 = OtlpServe.otlpFlush(spark, uri).first()
    assert(fl1.getAs[String]("status") == "error")
    // the snapshot DID commit; the rows were also restored for retry
    val target = server.writer.asInstanceOf[SnapshotTarget]
    assert(target.head("logs").map(_.seq) == Some(1L))
    // retry: sealCommitted finds the prior seal id in the snapshot log and
    // the trim drops every restored row — no second snapshot, no dup rows
    server.writer.failAfterCatalogCommit = null
    val fl2 = OtlpServe.otlpFlush(spark, uri).first()
    assert(fl2.getAs[String]("status") == "sealed", fl2.toString)
    assert(fl2.getAs[Long]("sealed_rows") == 3L)
    assert(target.head("logs").map(_.seq) == Some(1L),
      "retry must not commit a second snapshot")
    assert(target.readAt("logs").count() == 3L)
    val after = OtlpServe.serverList(spark)
      .where(org.apache.spark.sql.functions.col("listen_uri") === uri).first()
    assert(after.getAs[Long]("buffered_rows") == 0L)
    assert(after.getAs[Long]("committed_rows_total") == 3L)
    OtlpServe.otlpStop(spark, uri)
  }

  test("snapshot log integrity: truncation fails loudly, manifest catches " +
    "data-file corruption, v1 logs stay readable") {
    val root = java.nio.file.Files.createTempDirectory("snap_crc").toString
    val uri = s"otlp:127.0.0.1:${ports(3)}"
    val params = Map(
      "token" -> Token, "target" -> "snapshot", "parquet_root" -> root,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824")
    OtlpServe.otlpServe(spark, uri, params)
    (1 to 2).foreach { _ =>
      assert(post(ports(3), fixture("logs_simple.jsonl")).statusCode() == 202)
      assert(OtlpServe.otlpFlush(spark, uri).first()
        .getAs[String]("status") == "sealed")
    }
    OtlpServe.otlpStop(spark, uri)
    val target = new SnapshotTarget(
      ServerConfig("otlp_serve", uri, params - "token" + ("disable_auth" -> "true")),
      spark)
    // v2 manifests carry real per-file length + crc, and the store audits clean
    val snap2 = target.head("logs").get
    assert(snap2.entries.length == 2)
    assert(snap2.entries.forall(e => e.len > 0 && e.crc != 0L))
    assert(target.verifyManifest("logs") == 2L)

    // corrupt ONE byte of a referenced data file: the audit names the file
    val victim = new java.io.File(new java.io.File(root, "otlp_logs"),
      snap2.entries.head.path)
    val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x7f).toByte
    java.nio.file.Files.write(victim.toPath, bytes)
    new java.io.File(victim.getParentFile, s".${victim.getName}.crc").delete()
    val err = intercept[java.io.IOException](target.verifyManifest("logs"))
    assert(err.getMessage.contains("manifest violation"), err.getMessage)
    assert(err.getMessage.contains(snap2.entries.head.path), err.getMessage)

    // truncate the CURRENT snapshot log mid-manifest: reads refuse it
    // loudly instead of serving a partial file list
    val snapFile = new java.io.File(
      new java.io.File(new java.io.File(root, "otlp_logs"), "_snapshots"),
      f"${snap2.seq}%012d.snap")
    val logBytes = java.nio.file.Files.readAllBytes(snapFile.toPath)
    java.nio.file.Files.write(snapFile.toPath,
      java.util.Arrays.copyOf(logBytes, logBytes.length * 2 / 3))
    new java.io.File(snapFile.getParentFile, s".${snapFile.getName}.crc").delete()
    val trunc = intercept[java.io.IOException](target.readAt("logs"))
    assert(trunc.getMessage.contains("corrupted snapshot log"), trunc.getMessage)

    // a legacy v1 log (bare paths, no trailer) still reads: entries carry
    // unknown len/crc and verifyManifest checks existence only
    val v1 = new java.io.File(snapFile.getParentFile, f"${snap2.seq + 1}%012d.snap")
    java.nio.file.Files.write(v1.toPath,
      (s"v1 ${snap2.seq + 1} ${System.currentTimeMillis()} legacy-seal\n" +
        snap2.entries.last.path + "\n").getBytes("UTF-8"))
    val legacy = target.head("logs").get
    assert(legacy.sealId == "legacy-seal")
    assert(legacy.entries == Seq(target.FileEntry(snap2.entries.last.path, -1L, 0L)))
    assert(target.verifyManifest("logs") == 1L)
  }

  test("external reader: DuckDB serves a committed snapshot from its " +
    "manifest.csv — counts match readAt, time travel included") {
    val root = java.nio.file.Files.createTempDirectory("snap_ext").toString
    val uri = s"otlp:127.0.0.1:${ports(4)}"
    val params = Map(
      "token" -> Token, "target" -> "snapshot", "parquet_root" -> root,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824")
    OtlpServe.otlpServe(spark, uri, params)
    (1 to 2).foreach { _ =>
      assert(post(ports(4), fixture("logs_simple.jsonl")).statusCode() == 202)
      assert(OtlpServe.otlpFlush(spark, uri).first()
        .getAs[String]("status") == "sealed")
    }
    OtlpServe.otlpStop(spark, uri)
    val target = new SnapshotTarget(
      ServerConfig("otlp_serve", uri,
        params - "token" + ("disable_auth" -> "true")), spark)
    val snaps = target.snapshots("logs")
    assert(snaps.length == 2)
    val snapDir = new java.io.File(
      new java.io.File(root, "otlp_logs"), "_snapshots")
    // every committed snapshot carries an engine-neutral manifest
    snaps.foreach { s =>
      assert(new java.io.File(snapDir, f"${s.seq}%012d.manifest.csv").exists(),
        s"missing manifest for snapshot ${s.seq}")
    }
    // a non-Spark engine (DuckDB, the oracle's engine) resolves the
    // CURRENT snapshot by max manifest name and serves it; an explicit
    // seq serves the older snapshot (time travel) — counts + a value
    // aggregate must match Spark's readAt
    def duckdb(seq: Long): (Long, Long) = {
      val script =
        s"""
           |import csv, glob, os
           |import duckdb
           |d = r"${snapDir.getAbsolutePath}"
           |root = r"${new java.io.File(root, "otlp_logs").getAbsolutePath}"
           |m = os.path.join(d, "%012d.manifest.csv" % $seq)
           |rows = list(csv.DictReader(open(m)))
           |assert all(int(r["length"]) > 0 for r in rows), rows
           |files = [os.path.join(root, r["path"]) for r in rows]
           |n, sev = duckdb.sql(
           |    "SELECT count(*), sum(severity_number) FROM read_parquet(" +
           |    repr(files) + ")").fetchone()
           |print(int(n), int(sev))
           |""".stripMargin
      val out = new StringBuilder
      val p = new ProcessBuilder("python3", "-c", script)
        .redirectErrorStream(true).start()
      val src = scala.io.Source.fromInputStream(p.getInputStream)
      try out ++= src.mkString finally src.close()
      assert(p.waitFor() == 0, s"duckdb read failed:\n$out")
      val Array(n, sev) = out.toString.trim.split(" ").map(_.toLong)
      (n, sev)
    }
    import org.apache.spark.sql.functions._
    def sparkSide(seq: Option[Long]): (Long, Long) = {
      val r = target.readAt("logs", seq)
        .agg(count(lit(1)), sum(col("severity_number"))).first()
      (r.getLong(0), r.getLong(1))
    }
    assert(duckdb(snaps.last.seq) == sparkSide(None))
    assert(duckdb(snaps.head.seq) == sparkSide(Some(snaps.head.seq)))
    assert(duckdb(snaps.head.seq)._1 < duckdb(snaps.last.seq)._1)
  }

  test("expire quarantines a corrupt non-current snapshot log instead of " +
    "wedging maintenance; the current log stays fail-loud") {
    val root = java.nio.file.Files.createTempDirectory("snap_corrupt").toString
    val uri = s"otlp:127.0.0.1:${ports(5)}"
    val params = Map(
      "token" -> Token, "target" -> "snapshot", "parquet_root" -> root,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824")
    OtlpServe.otlpServe(spark, uri, params)
    (1 to 2).foreach { _ =>
      assert(post(ports(5), fixture("logs_simple.jsonl")).statusCode() == 202)
      assert(OtlpServe.otlpFlush(spark, uri).first()
        .getAs[String]("status") == "sealed")
    }
    OtlpServe.otlpStop(spark, uri)
    val target = new SnapshotTarget(
      ServerConfig("otlp_serve", uri,
        params - "token" + ("disable_auth" -> "true")), spark)
    val snaps = target.snapshots("logs")
    assert(snaps.length == 2)
    val snapDir = new java.io.File(
      new java.io.File(root, "otlp_logs"), "_snapshots")
    val older = new java.io.File(snapDir, f"${snaps.head.seq}%012d.snap")
    java.nio.file.Files.write(older.toPath,
      "v2 garbage not a snapshot".getBytes("UTF-8"))
    new java.io.File(snapDir, s".${older.getName}.crc").delete()
    // the wedge the fix removes: every snapshot-listing read now throws
    intercept[Exception](target.snapshots("logs"))
    // expire: no throw, corrupt log leaves the .snap namespace
    target.expire("logs")
    assert(!older.exists(), "corrupt non-current log must be quarantined")
    assert(new java.io.File(snapDir, older.getName + ".corrupt").exists())
    // the store serves again: current snapshot intact, reads work
    val after = target.snapshots("logs")
    assert(after.map(_.seq) == Seq(snaps.last.seq))
    assert(target.readAt("logs").count() > 0)
    // quarantined corpse is itself retention-managed: a short-horizon
    // expire deletes it (mtime survives the rename, so it is already old)
    Thread.sleep(5)
    new SnapshotTarget(
      ServerConfig("otlp_serve", uri, params - "token" +
        ("disable_auth" -> "true") + ("maintenance_retention_ms" -> "1")),
      spark).expire("logs")
    assert(!new java.io.File(snapDir, older.getName + ".corrupt").exists())
    // a corrupt CURRENT log still fails loudly
    val head = new java.io.File(snapDir, f"${snaps.last.seq}%012d.snap")
    java.nio.file.Files.write(head.toPath, "v2 garbage".getBytes("UTF-8"))
    new java.io.File(snapDir, s".${head.getName}.crc").delete()
    intercept[Exception](target.expire("logs"))
  }

  test("serve validation: snapshot target requires parquet_root") {
    val msg = intercept[IllegalArgumentException](
      OtlpServe.otlpServe(spark, s"otlp:127.0.0.1:${ports(6)}",
        Map("token" -> Token, "target" -> "snapshot"))).getMessage
    assert(msg.contains("parquet_root is required"))
  }
}
