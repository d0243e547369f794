package graft.streaming

import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler, Http2StreamChannel}
import io.netty.util.ReferenceCountUtil

/** The gRPC wire transport: HTTP/2 cleartext (h2c, prior-knowledge) on
  * Spark's own netty (`netty-codec-http2`, already on every executor
  * classpath — no new dependency), serving the two disjoint gRPC service
  * families of the reference's serve contract (serve.md "gRPC transport",
  * `otlp_server_grpc.cpp:95-122`):
  *
  *   - `otlp_serve(transport := 'grpc')` — OTLP/gRPC unary `Export` for
  *     logs/traces/metrics (`opentelemetry.proto.collector.*.v1`).
  *   - `otap_serve` — OTAP/Arrow bidirectional streaming
  *     (`Arrow{Logs,Traces,Metrics}Service`: `stream BatchArrowRecords` →
  *     `stream BatchStatus`), one stateful decoder per gRPC stream so
  *     later messages reuse Arrow dictionaries/schemas from earlier ones.
  *
  * Both families run the HTTP transport's admission pipeline and seal core
  * byte for byte — `OtlpServer.ingestBody` / `OtlpServer.otapMessage`,
  * both over `OtlpServer.admit` — so auth, admission backpressure, group
  * commit, and the lifecycle functions
  * (flush/stop/server_list/seal_list) behave identically across
  * transports, exactly the reference's "three wire protocols feed the
  * same buffering/seal core" architecture.
  *
  * Status mapping (the contract's table): bad token → UNAUTHENTICATED;
  * admission full → RESOURCE_EXHAUSTED; malformed body → INVALID_ARGUMENT;
  * the other service family on this listener → UNIMPLEMENTED; OTAP decode
  * failure nacks the message with a status-3 `BatchStatus` and closes the
  * stream (decoder poisoned), backpressure nacks with status 8 and leaves
  * it open. */
final class GrpcTransport(server: OtlpServer, cfg: ServerConfig) {

  private var group: MultiThreadIoEventLoopGroup = _
  private var bound: Channel = _

  def start(): Unit = {
    group = new MultiThreadIoEventLoopGroup(NioIoHandler.newFactory())
    val b = new ServerBootstrap()
    b.group(group)
      .channel(classOf[NioServerSocketChannel])
      .childHandler(new ChannelInitializer[Channel] {
        override def initChannel(conn: Channel): Unit = {
          conn.pipeline().addLast(Http2FrameCodecBuilder.forServer().build())
          conn.pipeline().addLast(new Http2MultiplexHandler(
            new ChannelInitializer[Channel] {
              override def initChannel(stream: Channel): Unit =
                stream.pipeline().addLast(
                  new GrpcStreamHandler(stream.asInstanceOf[Http2StreamChannel]))
            }))
        }
      })
    bound = b.bind(cfg.uri.host, cfg.uri.port).sync().channel()
  }

  def stop(): Unit = {
    if (bound != null) try bound.close().sync() catch { case _: Exception => () }
    if (group != null)
      group.shutdownGracefully(0, 2, java.util.concurrent.TimeUnit.SECONDS)
  }

  /** One handler per HTTP/2 stream = one gRPC call. */
  private final class GrpcStreamHandler(streamCh: Http2StreamChannel)
      extends ChannelInboundHandlerAdapter {

    private val Unary = 1; private val Otap = 2
    private var mode = 0 // 0 = headers not seen / rejected
    private var family: String = _
    private var deframer: GrpcWire.Deframer = _
    private var gzipRequest = false
    // unary Export is exactly one request message
    private var unaryMessage: Array[Byte] = _
    private var unaryCompressed = false
    private var headersSent = false
    private var finished = false
    private var counted = false
    /** OTAP session key: connection + stream, unique for the server's
      * lifetime, so dictionary state is scoped to exactly this stream. */
    private lazy val sid =
      s"grpc-${streamCh.parent().id().asShortText()}-${streamCh.stream().id()}"

    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit =
      msg match {
        case h: Http2HeadersFrame => onHeaders(ctx, h)
        case d: Http2DataFrame =>
          try onData(ctx, d) finally d.release()
        case other => ReferenceCountUtil.release(other)
      }

    private def onHeaders(ctx: ChannelHandlerContext, h: Http2HeadersFrame): Unit = {
      if (finished) return
      if (mode != 0) {
        // a second HEADERS frame on an accepted stream is the client's
        // trailers (a legal way to half-close); it must not re-enter
        // routing or double-count the call
        if (h.isEndStream) onEndStream(ctx)
        return
      }
      server.totalRequests.incrementAndGet()
      server.activeRequests.incrementAndGet()
      counted = true
      val hd = h.headers()
      val path = Option(hd.path()).map(_.toString).getOrElse("")
      val method = Option(hd.method()).map(_.toString).getOrElse("")
      val contentType = Option(hd.get("content-type")).map(_.toString).getOrElse("")
      if (method != "POST" || !contentType.startsWith("application/grpc")) {
        trailersOnly(ctx, GrpcWire.InvalidArgument,
          "expected a POST with content-type application/grpc")
        return
      }
      val wantOtap = cfg.uri.scheme == "otap"
      val unary = GrpcWire.unaryFamily(path)
      val otap = GrpcWire.otapPath(path)
      if (!(unary.isDefined || otap)) {
        trailersOnly(ctx, GrpcWire.Unimplemented, s"unknown method $path")
        return
      }
      // disjoint service families: "calling the other family on a
      // listener returns UNIMPLEMENTED" (serve.md)
      if (wantOtap != otap) {
        trailersOnly(ctx, GrpcWire.Unimplemented,
          if (wantOtap) "this listener serves OTAP/Arrow streaming only"
          else "this listener serves OTLP unary Export only")
        return
      }
      if (!server.authorizedToken(
          Option(hd.get("authorization")).map(_.toString), None)) {
        trailersOnly(ctx, GrpcWire.Unauthenticated, "bad or missing token")
        return
      }
      val enc = Option(hd.get("grpc-encoding")).map(_.toString).getOrElse("identity")
      if (enc != "identity" && enc != "gzip") {
        trailersOnly(ctx, GrpcWire.Unimplemented, s"grpc-encoding $enc not supported")
        return
      }
      gzipRequest = enc == "gzip"
      mode = if (otap) Otap else Unary
      family = unary.orNull
      deframer = new GrpcWire.Deframer(cfg.maxBodyBytes)
      if (h.isEndStream) onEndStream(ctx)
    }

    private def onData(ctx: ChannelHandlerContext, d: Http2DataFrame): Unit = {
      if (finished || mode == 0) return
      val chunk = new Array[Byte](d.content().readableBytes())
      d.content().readBytes(chunk)
      val messages = deframer.feed(chunk)
      deframer.error match {
        case Some(err) =>
          trailersOnly(ctx, GrpcWire.ResourceExhausted, err)
          return
        case None =>
      }
      messages.foreach { case (compressed, msg) =>
        if (!finished) {
          if (compressed && !gzipRequest) {
            trailersOnly(ctx, GrpcWire.Internal,
              "compressed message without grpc-encoding")
          } else if (mode == Unary) {
            if (unaryMessage != null) {
              trailersOnly(ctx, GrpcWire.InvalidArgument,
                "unary Export received more than one message")
            } else { unaryMessage = msg; unaryCompressed = compressed }
          } else otapOne(ctx, msg, compressed)
        }
      }
      if (!finished && d.isEndStream) onEndStream(ctx)
    }

    /** Process one OTAP BatchArrowRecords and ack it with a BatchStatus
      * DATA frame — the `stream BatchStatus` response leg. */
    private def otapOne(ctx: ChannelHandlerContext, msg: Array[Byte],
                        compressed: Boolean): Unit = {
      val enc = if (compressed) "gzip" else "identity"
      server.otapMessage(sid, msg, enc) match {
        case OtapOutcome.Ok(batchId, rows) =>
          sendMessage(ctx, GrpcWire.batchStatus(batchId, 0, s"rows=$rows"))
        case OtapOutcome.Nack(code, batchId, m, streamDead) =>
          sendMessage(ctx, GrpcWire.batchStatus(batchId, code, m))
          if (streamDead) { server.closeOtapSession(sid); sendTrailers(ctx, GrpcWire.OK, "") }
        case OtapOutcome.AlreadyClosed =>
          sendMessage(ctx, GrpcWire.batchStatus(-1L, 3,
            "stream closed by an earlier decode failure"))
          sendTrailers(ctx, GrpcWire.OK, "")
        case OtapOutcome.Stopping =>
          sendTrailers(ctx, GrpcWire.Unavailable, "server stopping")
        case OtapOutcome.TooManyStreams =>
          sendTrailers(ctx, GrpcWire.ResourceExhausted, "too many open OTAP streams")
        case OtapOutcome.Refused(r) => refuse(ctx, r)
      }
    }

    private def onEndStream(ctx: ChannelHandlerContext): Unit = {
      if (finished) return
      if (mode == Otap) {
        // client half-closed: every message is acked, complete the call
        server.closeOtapSession(sid)
        sendTrailers(ctx, GrpcWire.OK, "")
        return
      }
      if (deframer != null && deframer.pendingBytes > 0) {
        trailersOnly(ctx, GrpcWire.InvalidArgument, "truncated gRPC message")
        return
      }
      // unary Export: an absent message is the canonical empty request
      val msg = if (unaryMessage != null) unaryMessage else Array.emptyByteArray
      val enc = if (unaryCompressed) "gzip" else "identity"
      server.ingestBody(family, "protobuf", msg, enc) match {
        case _: IngestOutcome.Buffered =>
          sendMessage(ctx, GrpcWire.emptyResponse)
          sendTrailers(ctx, GrpcWire.OK, "")
        case r: IngestOutcome.Refused => refuse(ctx, r)
      }
    }

    /** End the call with the status of a refused admission. */
    private def refuse(ctx: ChannelHandlerContext, r: IngestOutcome.Refused): Unit =
      r match {
        case IngestOutcome.Overloaded =>
          trailersOnly(ctx, GrpcWire.ResourceExhausted, "ingest buffer over capacity")
        case IngestOutcome.BodyTooLarge =>
          trailersOnly(ctx, GrpcWire.ResourceExhausted, "decompressed message too large")
        case IngestOutcome.DecompressFailed(m) =>
          trailersOnly(ctx, GrpcWire.InvalidArgument, s"decompress failed: $m")
        case IngestOutcome.Malformed(m) =>
          trailersOnly(ctx, GrpcWire.InvalidArgument, m)
        case IngestOutcome.EncodeFailed(m) =>
          trailersOnly(ctx, GrpcWire.Internal, s"row encode failed: $m")
      }

    // ---- response plumbing -------------------------------------------------

    private def ensureHeaders(ctx: ChannelHandlerContext): Unit =
      if (!headersSent) {
        val h = new DefaultHttp2Headers().status("200")
        h.set("content-type", "application/grpc")
        ctx.write(new DefaultHttp2HeadersFrame(h, false))
        headersSent = true
      }

    private def sendMessage(ctx: ChannelHandlerContext, msg: Array[Byte]): Unit = {
      ensureHeaders(ctx)
      ctx.write(new DefaultHttp2DataFrame(
        Unpooled.wrappedBuffer(GrpcWire.frame(msg)), false))
      ctx.flush()
    }

    /** grpc-message is ASCII with percent-encoding; non-conforming bytes
      * are replaced rather than encoded — the text is diagnostic only. */
    private def asciiSafe(s: String): String =
      s.map(c => if (c >= ' ' && c <= '~' && c != '%') c else '_')

    private def sendTrailers(ctx: ChannelHandlerContext, status: Int,
                             message: String): Unit = {
      ensureHeaders(ctx)
      val t = new DefaultHttp2Headers()
      t.set("grpc-status", status.toString)
      if (message.nonEmpty) t.set("grpc-message", asciiSafe(message))
      ctx.writeAndFlush(new DefaultHttp2HeadersFrame(t, true))
      finish()
    }

    /** Error before any response content: a single trailers-only HEADERS
      * frame carrying the grpc-status, per the gRPC over-HTTP/2 spec.
      * Once response HEADERS have gone out, a frame with `:status` would
      * be malformed trailers (pseudo-headers are forbidden there — RFC
      * 9113 §8.1; grpc-java resets the stream on sight), so mid-stream
      * errors degrade to plain trailers. */
    private def trailersOnly(ctx: ChannelHandlerContext, status: Int,
                             message: String): Unit = {
      if (headersSent) { sendTrailers(ctx, status, message); return }
      val h = new DefaultHttp2Headers().status("200")
      h.set("content-type", "application/grpc")
      h.set("grpc-status", status.toString)
      if (message.nonEmpty) h.set("grpc-message", asciiSafe(message))
      ctx.writeAndFlush(new DefaultHttp2HeadersFrame(h, true))
      finish()
    }

    private def finish(): Unit = {
      if (!finished) {
        finished = true
        if (counted) server.activeRequests.decrementAndGet()
      }
    }

    override def channelInactive(ctx: ChannelHandlerContext): Unit = {
      // connection/stream died without a clean half-close: free the
      // session's decoder now instead of waiting for the idle sweep
      if (mode == Otap) server.closeOtapSession(sid)
      finish()
      ctx.fireChannelInactive()
    }

    override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit = {
      server.lastError = cause.getMessage
      if (!finished)
        try trailersOnly(ctx, GrpcWire.Internal,
          Option(cause.getMessage).getOrElse(cause.getClass.getSimpleName))
        catch { case _: Exception => () }
      ctx.close()
    }
  }
}
