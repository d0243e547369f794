package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** OTAP decode parity (reference test/sql/read_otap.test): decoding the
  * OTAP form must equal transforming the equivalent OTLP protobuf,
  * row-for-row, both directions. Runs against the reference's own OTAP
  * corpus when present (read-only test input). */
class OtapReaderSpec extends SparkTestBase {

  private val corpus = "/root/reference/test/data/otap"
  private def available: Boolean = new java.io.File(corpus).isDirectory

  private def exceptBothWays(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).count() == 0, "otap minus otlp not empty")
    assert(b.exceptAll(a).count() == 0, "otlp minus otap not empty")
  }

  test("otap logs ≡ otlp logs (EXCEPT both ways)") {
    assume(available)
    val otap = Otlp.readOtapLogs(spark, s"$corpus/logs-initial.bar")
    val otlp = Otlp.readLogs(spark, s"$corpus/logs-initial.otlp")
    assert(otap.count() == 3)
    exceptBothWays(otap, otlp)
  }

  test("otap traces ≡ otlp traces (EXCEPT both ways)") {
    assume(available)
    val otap = Otlp.readOtapTraces(spark, s"$corpus/traces-initial.bar")
    val otlp = Otlp.readTraces(spark, s"$corpus/traces-initial.otlp")
    assert(otap.count() == 1)
    exceptBothWays(otap, otlp)
  }

  test("otap metrics: each shape reader extracts its own rows") {
    assume(available)
    val p = s"$corpus/metrics-initial.bar"
    assert(Otlp.readOtapMetricsGauge(spark, p).count() == 1)
    assert(Otlp.readOtapMetricsSum(spark, p).count() == 1)
    assert(Otlp.readOtapMetricsHistogram(spark, p).count() == 1)
    assert(Otlp.readOtapMetricsExpHistogram(spark, p).count() == 1)
  }

  test("otap metrics ≡ otlp metrics for all four shapes (EXCEPT both ways)") {
    assume(available)
    val bar = s"$corpus/metrics-initial.bar"
    val pb = s"$corpus/metrics-initial.otlp"
    exceptBothWays(Otlp.readOtapMetricsGauge(spark, bar),
      Otlp.readMetricsGauge(spark, pb))
    exceptBothWays(Otlp.readOtapMetricsSum(spark, bar),
      Otlp.readMetricsSum(spark, pb))
    exceptBothWays(Otlp.readOtapMetricsHistogram(spark, bar),
      Otlp.readMetricsHistogram(spark, pb))
    exceptBothWays(Otlp.readOtapMetricsExpHistogram(spark, bar),
      Otlp.readMetricsExpHistogram(spark, pb))
  }

  test("zstd-compressed OTAP decodes to the same rows") {
    assume(available)
    val z = Otlp.readOtapLogs(spark, s"$corpus/logs-zstd.bar")
    assert(z.count() == 3)
    exceptBothWays(z, Otlp.readLogs(spark, s"$corpus/logs-initial.otlp"))
  }

  test("otap schema parity with otlp readers") {
    assume(available)
    val otap = Otlp.readOtapLogs(spark, s"$corpus/logs-initial.bar")
    val otlp = Otlp.readLogs(spark, s"$corpus/logs-initial.otlp")
    assert(otap.schema == otlp.schema)
  }

  test("standalone dictionary-reuse file is rejected (one decoder per file)") {
    assume(available && new java.io.File(s"$corpus/logs-reuse.bar").exists())
    // logs-reuse.bar omits its schema/dictionaries and is only decodable in
    // the same decoder session as the initial message; decoded alone it must
    // fail rather than mis-decode (reference test/sql/read_otap.test:140)
    val e = intercept[Exception] {
      Otlp.readOtapLogs(spark, s"$corpus/logs-reuse.bar").count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("OTLP parse error")), msgs(e).mkString("|"))
  }

  private def fileBytes(p: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))

  test("stateful session decodes the dictionary-reuse follow-up message") {
    assume(available && new java.io.File(s"$corpus/logs-reuse.bar").exists())
    // The per-stream decoder holds Arrow schema + dictionary state across
    // BatchArrowRecords messages (reference otlp_server_grpc.cpp and
    // test/manual/otap_serve_arrow_stream.py): the reuse message carries no
    // schema of its own and re-sends only the dictionaries that changed, so
    // every resolved value below proves cross-message dictionary reuse.
    val d = new graft.otlp.OtapStreamDecoder(nsAsLong = false)
    try {
      val first = d.decode(fileBytes(s"$corpus/logs-initial.bar"))
      assert(first.signal("logs").size == 3)
      // the session path is the same engine as the batch reader: decoding
      // the initial message in a session yields exactly the batch rows
      val batch = graft.otlp.OtapDecoder.parse(
        fileBytes(s"$corpus/logs-initial.bar"), nsAsLong = false)
      assert(first.signal("logs").size == batch.signal("logs").size)
      first.signal("logs").zip(batch.signal("logs")).foreach { case (a, b) =>
        assert(java.util.Arrays.deepEquals(
          a.asInstanceOf[Array[AnyRef]], b.asInstanceOf[Array[AnyRef]]))
      }

      val second = d.decode(fileBytes(s"$corpus/logs-reuse.bar"))
      val rows = second.signal("logs")
      assert(rows.size == 3, s"reuse message decoded ${rows.size} rows")
      // columns: 0=time 1=observed 2=trace_id 3=span_id 4=service_name ...
      // 7=severity_number 8=severity_text 9=event_name 10=body 11=res_attrs
      // 12=scope_name 13=scope_version 14=scope_attrs 15=log_attrs
      assert(rows.forall(_(4) == "fixture-service")) // dict held from msg 1
      assert(rows.forall(_(11).asInstanceOf[String]
        .contains("\"service.name\":\"fixture-service\"")))
      assert(rows.forall(_(12) == "fixture-scope"))
      val events = rows.filter(_(9) != null)
      assert(events.size == 2 && events.forall(_(9) == "second-event"))
      assert(events.forall(_(8) == "INFO"))
      // "repeated":"same" resolves through a dictionary NOT re-sent in the
      // reuse message — the sharpest proof state carried over
      assert(events.forall(_(15).asInstanceOf[String]
        .contains("\"repeated\":\"same\"")))
      assert(events.forall(_(15).asInstanceOf[String]
        .contains("\"str\":\"second\"")))
      // reuse rows are NEW records, not replays: distinct trace ids
      val traceIds = rows.map(_(2)).filter(_ != null)
      assert(traceIds.toSet.intersect(
        first.signal("logs").map(_(2)).filter(_ != null).toSet).isEmpty)
    } finally d.close()
  }

  test("multi-segment files decode every self-contained payload") {
    assume(available)
    // protobuf concatenation of two .bar files = one BatchArrowRecords with
    // repeated self-contained (schema + dicts + batch) segments per type;
    // a repeated Schema under the SAME schema_id must start a fresh reader,
    // not be fed into the open stream (which would reject it)
    val one = fileBytes(s"$corpus/logs-initial.bar")
    val doubled = one ++ one
    val tmp = java.nio.file.Files.createTempFile("logs-double", ".bar")
    java.nio.file.Files.write(tmp, doubled)
    try {
      val logs = Otlp.readOtapLogs(spark, tmp.toString)
      assert(logs.count() == 6)
      assert(logs.select("service_name").distinct().first().getString(0)
        == "fixture-service")
      // FULL-ROW parity, not just counts: each segment's ids restart from
      // zero, so attrs must join within their own segment — without
      // per-segment assembly the second segment's log/resource attributes
      // silently attach to the wrong rows (or to none)
      val single = Otlp.readOtapLogs(spark, s"$corpus/logs-initial.bar")
      val twice = single.unionAll(single)
      assert(logs.exceptAll(twice).isEmpty && twice.exceptAll(logs).isEmpty)
    } finally java.nio.file.Files.delete(tmp)
  }

  test("segment rule: schema ids may repeat across segments (A-B-A session mix)") {
    assume(available)
    // three concatenated self-contained segments where the MIDDLE one uses
    // a different schema id and the third REUSES the first's id — a legal
    // concatenation of files from different producer sessions. Each
    // reappearance of the logs type opens a fresh id scope (otel-arrow ids
    // are batch-scoped), so this must decode as 3 full segments.
    val one = fileBytes(s"$corpus/logs-initial.bar")
    val ps = graft.otlp.OtapTestProto.parsePayloads(one)
    assert(ps.nonEmpty && ps.forall(_._1.nonEmpty), "fixture uses string schema ids")
    val relabeled = graft.otlp.OtapTestProto.buildMessage(
      ps.map { case (sid, t, r) => (sid + "-sessB", t, r) })
    val mixed = one ++ relabeled ++ one
    val tmp = java.nio.file.Files.createTempFile("logs-aba", ".bar")
    java.nio.file.Files.write(tmp, mixed)
    try {
      val logs = Otlp.readOtapLogs(spark, tmp.toString)
      assert(logs.count() == 9)
      val single = Otlp.readOtapLogs(spark, s"$corpus/logs-initial.bar")
      val thrice = single.unionAll(single).unionAll(single)
      assert(logs.exceptAll(thrice).isEmpty && thrice.exceptAll(logs).isEmpty,
        "A-B-A segments must each assemble within their own id scope")
    } finally java.nio.file.Files.delete(tmp)
  }

  test("segment rule: an interleaved multi-segment file fails loudly " +
      "instead of joining attrs across id scopes") {
    assume(available)
    // Hand-crafted NON-CONFORMING input: the payloads of two segments
    // interleaved — logs@A, logs@B, then A's child payloads, then B's.
    // No conforming encoder emits two payloads of one type in one batch
    // (ids are batch-scoped), so the decoder cannot know which restarted
    // ids the late children refer to; the decided contract is a parse
    // error (the orphan child-only tail), never silent mis-joins.
    val one = fileBytes(s"$corpus/logs-initial.bar")
    val ps = graft.otlp.OtapTestProto.parsePayloads(one)
    val roots = ps.filter(_._2 == 30)
    val children = ps.filter(_._2 != 30)
    assert(roots.size == 1 && children.nonEmpty, "fixture shape")
    val interleaved = graft.otlp.OtapTestProto.buildMessage(
      roots ++
        roots.map { case (sid, t, r) => (sid + "-evolved", t, r) } ++
        children ++
        children.map { case (sid, t, r) => (sid + "-evolved", t, r) })
    val tmp = java.nio.file.Files.createTempFile("logs-interleaved", ".bar")
    java.nio.file.Files.write(tmp, interleaved)
    try {
      val e = intercept[Exception] {
        Otlp.readOtapLogs(spark, tmp.toString).count()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("child payload types")),
        msgs(e).mkString("|"))
    } finally java.nio.file.Files.delete(tmp)
  }

  test("stateful session poisons cleanly on a bad message") {
    assume(available)
    val d = new graft.otlp.OtapStreamDecoder(nsAsLong = false)
    try {
      d.decode(fileBytes(s"$corpus/logs-initial.bar"))
      intercept[graft.otlp.OtlpParseException] {
        d.decode("not a BatchArrowRecords envelope".getBytes)
      }
    } finally d.close()
  }

  test("OtapEncoder round-trip: initial (schema+batch) then batch-only " +
    "continuations decode through retained reader state") {
    val (logsInit, logsCont, attrsInit, attrsCont) =
      graft.otlp.OtapEncoder.logsRecordSlices(n = 7, service = "enc-service")
    val d = new graft.otlp.OtapStreamDecoder(nsAsLong = true)
    try {
      val first = d.decode(
        graft.otlp.OtapEncoder.batchMessage(1, logsInit, attrsInit))
      assert(first.signal("logs").size == 7)
      // continuation messages carry NO schema — every decoded value below
      // rides the reader state message 1 established
      (2 to 4).foreach { id =>
        val next = d.decode(
          graft.otlp.OtapEncoder.batchMessage(id, logsCont, attrsCont))
        val rows = next.signal("logs")
        assert(rows.size == 7, s"continuation $id decoded ${rows.size} rows")
        // columns: 4=service_name 7=severity_number 10=body
        assert(rows.forall(_(4) == "enc-service"))
        assert(rows.forall(_(7) == 9))
        assert(rows.head(10) ==
          "benchmark log record with a reasonably sized message body")
      }
    } finally d.close()
  }

  test("a truncated ArrowPayload is an OTLP parse error naming the file") {
    // BatchArrowRecords{batch_id=1, arrow_payloads=[08 80]}: the envelope
    // is whole, the payload is cut inside its first varint
    val truncated = graft.streaming.GrpcWire.Pb.msg { o =>
      graft.streaming.GrpcWire.Pb.vint(o, 1, 1L)
      graft.streaming.GrpcWire.Pb.lenDelim(o, 2, Array[Byte](0x08, 0x80.toByte))
    }
    val tmp = java.nio.file.Files.createTempFile("logs-truncated", ".bar")
    java.nio.file.Files.write(tmp, truncated)
    try {
      val e = intercept[Exception] {
        Otlp.readOtapLogs(spark, tmp.toString).count()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(m => m.contains("OTLP parse error on") &&
        m.contains(tmp.getFileName.toString) && m.contains("truncated varint")),
        msgs(e).mkString("|"))
    } finally java.nio.file.Files.delete(tmp)
  }

  test("otap value spot checks") {
    assume(available)
    val logs = Otlp.readOtapLogs(spark, s"$corpus/logs-initial.bar")
    assert(logs.select("service_name").distinct().first().getString(0)
      == "fixture-service")
    assert(logs.where(col("severity_text") === "INFO").count() == 2)
    val spans = Otlp.readOtapTraces(spark, s"$corpus/traces-initial.bar")
    val s = spans.first()
    assert(s.getAs[String]("name") == "first-span")
    assert(s.getAs[Long]("duration_time_unix_nano") == 500L)
    assert(s.getAs[String]("trace_state") == "vendor=value")
    assert(s.getAs[Int]("status_code") == 2)
  }
}
