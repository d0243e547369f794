package graft.streaming

import java.io.ByteArrayOutputStream

/** gRPC wire-level helpers shared by the netty transport and its test
  * client: the 5-byte length-prefixed message framing, the grpc-status
  * codes the serve contract uses, the service-path routing table for the
  * two disjoint service families (reference `serve.md` "gRPC transport":
  * OTLP/gRPC unary `Export` for `otlp_serve(transport := 'grpc')`,
  * OTAP/Arrow bidirectional streaming for `otap_serve` —
  * `otlp_server_grpc.cpp:95-122`), and a hand-rolled protobuf writer for
  * the two tiny response messages (`BatchStatus`, empty `Export*Response`)
  * — three varint fields do not justify a protobuf runtime, and none
  * ships in this environment. */
object GrpcWire {

  // grpc-status codes used by the serve contract
  val OK = 0
  val InvalidArgument = 3
  val ResourceExhausted = 8
  val Internal = 13
  val Unavailable = 14
  val Unauthenticated = 16
  val Unimplemented = 12

  /** Signal family for a unary OTLP Export path, if it is one. */
  def unaryFamily(path: String): Option[String] = path match {
    case "/opentelemetry.proto.collector.logs.v1.LogsService/Export" => Some("logs")
    case "/opentelemetry.proto.collector.trace.v1.TraceService/Export" => Some("traces")
    case "/opentelemetry.proto.collector.metrics.v1.MetricsService/Export" => Some("metrics")
    case _ => None
  }

  /** True for an OTAP/Arrow streaming path. The three Arrow*Service RPCs
    * share one wire shape (`stream BatchArrowRecords` → `stream
    * BatchStatus`) and one decoder — a BatchArrowRecords message carries
    * whatever payload types it carries regardless of which service name
    * the stream was opened on, so they route to the same handler. */
  def otapPath(path: String): Boolean = path match {
    case "/opentelemetry.proto.experimental.arrow.v1.ArrowLogsService/ArrowLogs" => true
    case "/opentelemetry.proto.experimental.arrow.v1.ArrowTracesService/ArrowTraces" => true
    case "/opentelemetry.proto.experimental.arrow.v1.ArrowMetricsService/ArrowMetrics" => true
    case _ => false
  }

  /** Frame one gRPC message: 1-byte compressed flag (always 0 — responses
    * are never compressed) + 4-byte big-endian length + payload. */
  def frame(msg: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](5 + msg.length)
    out(0) = 0
    out(1) = ((msg.length >>> 24) & 0xff).toByte
    out(2) = ((msg.length >>> 16) & 0xff).toByte
    out(3) = ((msg.length >>> 8) & 0xff).toByte
    out(4) = (msg.length & 0xff).toByte
    System.arraycopy(msg, 0, out, 5, msg.length)
    out
  }

  /** Incremental gRPC message de-framer: feed wire bytes in arbitrary
    * chunks, take complete (compressedFlag, message) pairs out. Bounds the
    * declared message length so a hostile 4 GiB length prefix cannot
    * reserve a buffer (`maxMessageBytes` mirrors the HTTP body cap —
    * reference caps a single gRPC message at `max_body_bytes` too).
    * Each wire byte is copied exactly once (the message buffer is sized
    * from the length prefix after the cap check) — reassembly of a large
    * message from many small DATA frames is linear, never quadratic, and
    * this runs on the netty event loop. */
  final class Deframer(maxMessageBytes: Long) {
    private val header = new Array[Byte](5)
    private var headerFill = 0
    private var message: Array[Byte] = null
    private var messageFill = 0
    private var compressed = false
    private var err: String = null

    def error: Option[String] = Option(err)

    /** Append wire bytes; returns every message completed by this chunk. */
    def feed(chunk: Array[Byte]): Seq[(Boolean, Array[Byte])] = {
      if (err != null) return Nil
      val out = Seq.newBuilder[(Boolean, Array[Byte])]
      var off = 0
      while (off < chunk.length && err == null) {
        if (message == null) {
          val take = math.min(5 - headerFill, chunk.length - off)
          System.arraycopy(chunk, off, header, headerFill, take)
          headerFill += take; off += take
          if (headerFill == 5) {
            val len = ((header(1) & 0xffL) << 24) | ((header(2) & 0xffL) << 16) |
              ((header(3) & 0xffL) << 8) | (header(4) & 0xffL)
            if (len > maxMessageBytes) {
              err = s"gRPC message of $len bytes exceeds the $maxMessageBytes-byte cap"
            } else {
              compressed = header(0) != 0
              headerFill = 0
              if (len == 0) out += ((compressed, Array.emptyByteArray))
              else { message = new Array[Byte](len.toInt); messageFill = 0 }
            }
          }
        } else {
          val take = math.min(message.length - messageFill, chunk.length - off)
          System.arraycopy(chunk, off, message, messageFill, take)
          messageFill += take; off += take
          if (messageFill == message.length) {
            out += ((compressed, message)); message = null
          }
        }
      }
      out.result()
    }

    /** Bytes buffered but not yet forming a complete message. */
    def pendingBytes: Int =
      headerFill + (if (message == null) 0 else messageFill)
  }

  // ---- minimal protobuf writing -------------------------------------------

  /** Minimal protobuf wire writer — enough fields for the transport's
    * response messages and the bench's generated Export bodies, kept in
    * ONE place so the wire encodings cannot drift apart. (The richer
    * test-side builder in OtlpProtoSpec exists to construct adversarial
    * fixtures and stays test-scoped.) */
  object Pb {
    def varint(out: ByteArrayOutputStream, value: Long): Unit = {
      var v = value
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def tag(out: ByteArrayOutputStream, field: Int, wire: Int): Unit =
      varint(out, (field.toLong << 3) | wire)
    def vint(out: ByteArrayOutputStream, field: Int, v: Long): Unit = {
      tag(out, field, 0); varint(out, v)
    }
    def fixed64(out: ByteArrayOutputStream, field: Int, v: Long): Unit = {
      tag(out, field, 1)
      (0 until 8).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    }
    def lenDelim(out: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
      tag(out, field, 2); varint(out, b.length.toLong); out.write(b, 0, b.length)
    }
    def string(out: ByteArrayOutputStream, field: Int, s: String): Unit =
      lenDelim(out, field, s.getBytes("UTF-8"))
    /** Build a nested message's bytes. */
    def msg(build: ByteArrayOutputStream => Unit): Array[Byte] = {
      val o = new ByteArrayOutputStream(); build(o); o.toByteArray
    }
  }

  /** OTel-Arrow `BatchStatus{int64 batch_id=1, StatusCode status_code=2,
    * string status_message=3}` — the per-message ack of the OTAP stream. */
  def batchStatus(batchId: Long, statusCode: Int, statusMessage: String): Array[Byte] =
    Pb.msg { out =>
      if (batchId != 0L) Pb.vint(out, 1, batchId)
      if (statusCode != 0) Pb.vint(out, 2, statusCode.toLong)
      if (statusMessage.nonEmpty) Pb.string(out, 3, statusMessage)
    }

  /** `Export{Logs,Trace,Metrics}ServiceResponse` with no partial_success:
    * the canonical empty message. */
  val emptyResponse: Array[Byte] = Array.emptyByteArray

  // ---- minimal protobuf reading (test client needs BatchStatus back) ------

  /** Parse a BatchStatus message: (batch_id, status_code, status_message). */
  def parseBatchStatus(msg: Array[Byte]): (Long, Int, String) = {
    val r = new graft.otlp.ProtoReader(msg)
    var id = 0L; var code = 0; var text = ""
    while (r.hasMore) r.readTag() match {
      case (1, 0) => id = r.readVarint()
      case (2, 0) => code = r.readVarint().toInt
      case (3, 2) => text = r.readString()
      case (_, w) => r.skip(w)
    }
    (id, code, text)
  }
}
