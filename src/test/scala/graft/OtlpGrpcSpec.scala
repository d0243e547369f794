package graft

import graft.streaming._
import org.apache.spark.sql.functions._

/** gRPC wire-transport e2e (reference serve.md "gRPC transport",
  * `otlp_server_grpc.cpp`): OTLP/gRPC unary Export on
  * `otlp_serve(transport := 'grpc')`, OTAP/Arrow bidirectional streaming
  * on `otap_serve(transport := 'grpc')`, the disjoint-family rule, and
  * the contract's status codes (UNAUTHENTICATED / INVALID_ARGUMENT /
  * RESOURCE_EXHAUSTED / UNIMPLEMENTED). Runs over real HTTP/2 h2c via the
  * netty-based GrpcClient. */
class OtlpGrpcSpec extends SparkTestBase {
  private val ports = SparkTestBase.freePorts(4)

  import ProtoW._

  private val Token = "dev-token-1234567890"
  private val LogsPath = "/opentelemetry.proto.collector.logs.v1.LogsService/Export"
  private val ArrowLogsPath =
    "/opentelemetry.proto.experimental.arrow.v1.ArrowLogsService/ArrowLogs"

  /** logs_simple.jsonl rows 1-3 as an ExportLogsServiceRequest (the same
    * bytes OtlpProtoSpec proves ≡ the JSON fixture). */
  private def logsPb: Array[Byte] = {
    val res = resource(strAttr("service.name", "test-service"),
      strAttr("host.name", "test-host"))
    def rl(lr: Msg): Msg =
      m().msg(1, res).msg(2, m().msg(1, scope("test-logger")).msg(2, lr))
    val r1 = m().fixed64(1, 1640000000000000000L).vint(2, 9)
      .string(3, "INFO").msg(5, m().string(1, "Application started"))
      .msg(6, strAttr("event.name", "startup"))
      .bytes(9, hexBytes("5b8efff798038103d269b633813fc60c"))
      .bytes(10, hexBytes("eee19b7ec3c1b174"))
    val r2 = m().fixed64(1, 1640000010000000000L).vint(2, 13)
      .string(3, "WARN").msg(5, m().string(1, "High memory usage detected"))
      .msg(6, intAttr("memory.used_percent", 85))
    val r3 = m().fixed64(1, 1640000020000000000L).vint(2, 17)
      .string(3, "ERROR").msg(5, m().string(1, "Database connection failed"))
      .msg(6, strAttr("db.system", "postgresql"))
      .msg(6, strAttr("error.type", "ConnectionError"))
      .bytes(9, hexBytes("5b8efff798038103d269b633813fc60c"))
      .bytes(10, hexBytes("eee19b7ec3c1b175"))
    m().msg(1, rl(r1)).msg(1, rl(r2)).msg(1, rl(r3)).toBytes
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    // drop leftover warehouse dirs from prior JVMs (the in-memory catalog
    // is gone but managed-table locations persist and block saveAsTable)
    val wh = new java.io.File("spark-warehouse")
    Option(wh.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("otlptest_grpc"))
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

  test("grpc framing round-trips and BatchStatus encodes/decodes") {
    val fr = GrpcWire.frame(Array[Byte](1, 2, 3))
    assert(fr.length == 8 && fr(0) == 0 && fr(4) == 3)
    val de = new GrpcWire.Deframer(1024)
    // feed in two cuts, across the header boundary
    assert(de.feed(fr.take(3)).isEmpty)
    val got = de.feed(fr.drop(3))
    assert(got.map(_._2.toSeq) == Seq(Seq[Byte](1, 2, 3)))
    assert(de.pendingBytes == 0)
    val st = GrpcWire.batchStatus(7L, 8, "over capacity")
    assert(GrpcWire.parseBatchStatus(st) == ((7L, 8, "over capacity")))
    // a hostile length prefix is rejected, not allocated
    val hostile = new GrpcWire.Deframer(1024)
    hostile.feed(Array[Byte](0, 0x7f.toByte, -1, -1, -1))
    assert(hostile.error.exists(_.contains("cap")))
    // byte-at-a-time reassembly (worst-case fragmentation) and the
    // zero-length message (unary empty response) both come through
    val trickle = new GrpcWire.Deframer(1024)
    val wire = GrpcWire.frame(Array[Byte](9, 8, 7)) ++ GrpcWire.frame(Array.emptyByteArray)
    val seen = wire.toSeq.flatMap(b => trickle.feed(Array(b)))
    assert(seen.map(_._2.toSeq) == Seq(Seq[Byte](9, 8, 7), Seq.empty[Byte]))
    assert(trickle.pendingBytes == 0 && trickle.error.isEmpty)
  }

  test("gRPC unary Export: status codes and rows sealed to catalog") {
    val uri = s"otlp:127.0.0.1:${ports(0)}"
    OtlpServe.otlpServe(spark, uri,
      Map("token" -> Token, "transport" -> "grpc", "schema" -> "otlptest_grpc"))
    val cli = new GrpcClient("127.0.0.1", ports(0))
    try {
      // no token → UNAUTHENTICATED
      assert(cli.unary(LogsPath, logsPb, None)._1 == GrpcWire.Unauthenticated)
      // other service family on this listener → UNIMPLEMENTED
      assert(cli.unary(ArrowLogsPath, Array[Byte](1), Some(Token))._1 ==
        GrpcWire.Unimplemented)
      // unknown method → UNIMPLEMENTED
      assert(cli.unary("/nope.Service/Call", logsPb, Some(Token))._1 ==
        GrpcWire.Unimplemented)
      // malformed protobuf → INVALID_ARGUMENT
      assert(cli.unary(LogsPath, "not a protobuf".getBytes("UTF-8"),
        Some(Token))._1 == GrpcWire.InvalidArgument)
      // the real request → OK with an (empty) ExportLogsServiceResponse
      val (st, msg, replies) = cli.unary(LogsPath, logsPb, Some(Token))
      assert(st == GrpcWire.OK, s"grpc-status $st: $msg")
      assert(replies.size == 1 && replies.head.isEmpty)
      OtlpServe.otlpFlush(spark, uri)
      val logs = spark.table("otlptest_grpc.otlp_logs")
      assert(logs.count() == 3)
      assert(logs.select("service_name").distinct().first().getString(0) ==
        "test-service")
      // the gRPC rows are byte-equivalent to the same fixture over HTTP
      // (OtlpProtoSpec already pins pb ≡ json; this pins the transport)
      assert(logs.where(col("severity_text") === "ERROR").count() == 1)
    } finally {
      cli.close()
      OtlpServe.otlpStop(spark, uri)
    }
  }

  test("gRPC OTAP stream: per-stream dictionary state, nack semantics") {
    val corpus = "/root/reference/test/data/otap"
    assume(new java.io.File(s"$corpus/logs-reuse.bar").exists())
    def bar(name: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$corpus/$name"))
    val uri = s"otap:127.0.0.1:${ports(1)}"
    // no transport param: gRPC is otap_serve's DEFAULT wire (serve.md).
    // max_buffered_bytes is sized so ONE .bar message fits but two do
    // not — the backpressure leg below relies on it
    OtlpServe.otapServe(spark, uri,
      Map("token" -> Token, "schema" -> "otlptest_grpcotap",
        "max_buffered_bytes" -> "25000",
        "seal_target_bytes" -> "1073741824", "seal_max_age_ms" -> "3600000"))
    val cli = new GrpcClient("127.0.0.1", ports(1))
    try {
      // the OTLP unary family is not served here
      assert(cli.unary(LogsPath, logsPb, Some(Token))._1 == GrpcWire.Unimplemented)

      // one stream, two messages: the second decodes ONLY through the
      // dictionaries message 1 established — the state lives on the gRPC
      // stream itself
      val call = cli.open(ArrowLogsPath, Some(Token))
      call.send(bar("logs-initial.bar"))
      val ack1 = GrpcWire.parseBatchStatus(call.nextMessage().get)
      assert(ack1._2 == 0, s"ack1 $ack1")
      assert(ack1._3.contains("rows=3"), ack1._3)

      // message 2 while message 1 is buffered: backpressure nack (8) —
      // the STREAM STAYS OPEN and the decoder never saw the message
      call.send(bar("logs-reuse.bar"))
      val nack8 = GrpcWire.parseBatchStatus(call.nextMessage().get)
      assert(nack8._2 == 8, s"backpressure ack $nack8")
      // drain, then REPLAY on the same stream: the reuse message decodes
      // only through dictionaries message 1 established, so this ack
      // proves the nack left per-stream state intact
      OtlpServe.otlpFlush(spark, uri)
      call.send(bar("logs-reuse.bar"))
      val ack2 = GrpcWire.parseBatchStatus(call.nextMessage().get)
      assert(ack2._2 == 0, s"ack2 $ack2")
      call.halfClose()
      assert(call.awaitStatus()._1 == GrpcWire.OK)

      // a fresh stream has no dictionary state: the reuse message nacks
      // with INVALID_ARGUMENT and the server closes the stream
      val poisoned = cli.open(ArrowLogsPath, Some(Token))
      poisoned.send(bar("logs-reuse.bar"))
      val nack = GrpcWire.parseBatchStatus(poisoned.nextMessage().get)
      assert(nack._2 == 3, s"nack $nack")
      assert(poisoned.awaitStatus()._1 == GrpcWire.OK) // stream completed after conveying the nack

      // auth is enforced on the stream too
      val unauth = cli.open(ArrowLogsPath, None)
      assert(unauth.awaitStatus()._1 == GrpcWire.Unauthenticated)

      // the poisoned stream corrupted nothing
      OtlpServe.otlpFlush(spark, uri)
      val logs = spark.table("otlptest_grpcotap.otlp_logs")
      assert(logs.count() == 6)
      assert(logs.where(col("event_name") === "second-event").count() == 2)
    } finally {
      cli.close()
      OtlpServe.otlpStop(spark, uri)
    }
  }

  test("gRPC OTAP stream from OtapEncoder: acks, backpressure nack, replay, " +
    "fresh-stream nack closes, exactly the acked rows land") {
    // No corpus needed: the engine's own encoder builds a producer session
    // whose later batches are larger than its first. Message 1 is an
    // initial message (schema + a 1-row batch); message 2 is a batch-only
    // continuation of 200 rows, decodable only through the reader state
    // message 1 left on the stream.
    val (logsInit, _, attrsInit, _) =
      graft.otlp.OtapEncoder.logsRecordSlices(n = 1, service = "enc-service")
    val (_, logsCont, _, attrsCont) =
      graft.otlp.OtapEncoder.logsRecordSlices(n = 200, service = "enc-service")
    val initial = graft.otlp.OtapEncoder.batchMessage(1L, logsInit, attrsInit)
    val continuation = graft.otlp.OtapEncoder.batchMessage(2L, logsCont, attrsCont)
    // admission reserves max(wire bytes, 1024) per message: the budget
    // holds the continuation alone but not on top of the buffered initial
    // message, which stays under half of it (no pressure-triggered seal)
    val reserveInitial = math.max(initial.length, 1024)
    val budget = math.max(continuation.length, 1024) + 512
    assert(reserveInitial > 512 && 2 * reserveInitial < budget,
      s"initial ${initial.length} B, continuation ${continuation.length} B")
    val uri = s"otap:127.0.0.1:${ports(2)}"
    OtlpServe.otapServe(spark, uri,
      Map("token" -> Token, "schema" -> "otlptest_grpcotapenc",
        "max_buffered_bytes" -> budget.toString,
        "seal_target_bytes" -> "1073741824", "seal_max_age_ms" -> "3600000"))
    val cli = new GrpcClient("127.0.0.1", ports(2))
    try {
      val call = cli.open(ArrowLogsPath, Some(Token))
      call.send(initial)
      assert(GrpcWire.parseBatchStatus(call.nextMessage().get) == ((1L, 0, "rows=1")))

      // the continuation does not fit next to message 1: backpressure
      // nack (8) with its batch id, and the stream stays open
      call.send(continuation)
      assert(GrpcWire.parseBatchStatus(call.nextMessage().get) ==
        ((2L, 8, "ingest buffer over capacity")))

      // drain, then replay on the same stream: it decodes, so the nack
      // left the decoder untouched
      OtlpServe.otlpFlush(spark, uri)
      call.send(continuation)
      assert(GrpcWire.parseBatchStatus(call.nextMessage().get) == ((2L, 0, "rows=200")))
      call.halfClose()
      assert(call.awaitStatus()._1 == GrpcWire.OK)

      // the continuation on a fresh stream has no schema to decode
      // through: nack 3, and the server closes the stream
      OtlpServe.otlpFlush(spark, uri)
      val fresh = cli.open(ArrowLogsPath, Some(Token))
      fresh.send(continuation)
      val nack = GrpcWire.parseBatchStatus(fresh.nextMessage().get)
      assert(nack._1 == 2L && nack._2 == 3, s"nack $nack")
      assert(fresh.awaitStatus()._1 == GrpcWire.OK)
      assert(OtlpServe.get(uri).get.otapStreamsOpen == 0)
      // the stream needs the token too
      assert(cli.open(ArrowLogsPath, None).awaitStatus()._1 == GrpcWire.Unauthenticated)

      // exactly the acked rows: 1 + 200, none of the nacked messages
      OtlpServe.otlpFlush(spark, uri)
      val logs = spark.table("otlptest_grpcotapenc.otlp_logs")
      assert(logs.count() == 201)
      assert(logs.where(col("service_name") === "enc-service").count() == 201)
    } finally {
      cli.close()
      OtlpServe.otlpStop(spark, uri)
    }
  }

  test("gRPC OTAP stream: a truncated ArrowPayload nacks 3 and closes the stream") {
    // BatchArrowRecords{batch_id=7, arrow_payloads=[08 80]}: the payload
    // is cut inside its first varint
    val truncated = GrpcWire.Pb.msg { o =>
      GrpcWire.Pb.vint(o, 1, 7L)
      GrpcWire.Pb.lenDelim(o, 2, Array[Byte](0x08, 0x80.toByte))
    }
    val uri = s"otap:127.0.0.1:${ports(3)}"
    OtlpServe.otapServe(spark, uri,
      Map("token" -> Token, "schema" -> "otlptest_grpcotaptrunc"))
    val cli = new GrpcClient("127.0.0.1", ports(3))
    try {
      val call = cli.open(ArrowLogsPath, Some(Token))
      call.send(truncated)
      val nack = call.nextMessage(5000).map(GrpcWire.parseBatchStatus)
      assert(nack == Some((7L, 3, "truncated varint")), s"nack $nack")
      assert(call.awaitStatus()._1 == GrpcWire.OK)
      assert(OtlpServe.get(uri).get.otapStreamsOpen == 0)
    } finally {
      cli.close()
      OtlpServe.otlpStop(spark, uri)
    }
  }
}
