package graft.streaming

import io.netty.bootstrap.Bootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler, Http2StreamChannel, Http2StreamChannelBootstrap}
import io.netty.util.ReferenceCountUtil

import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, TimeUnit}

/** Minimal gRPC h2c client on the same netty the transport uses: enough
  * wire to drive the two service families end-to-end (unary OTLP Export,
  * OTAP bidirectional streaming) and to assert the serve contract's
  * status codes in tests. One client = one HTTP/2 connection; each call
  * opens a stream. */
final class GrpcClient(host: String, port: Int) {

  private val group = new MultiThreadIoEventLoopGroup(NioIoHandler.newFactory())
  private val conn: Channel = {
    val b = new Bootstrap()
    b.group(group)
      .channel(classOf[NioSocketChannel])
      .handler(new ChannelInitializer[Channel] {
        override def initChannel(ch: Channel): Unit = {
          ch.pipeline().addLast(Http2FrameCodecBuilder.forClient().build())
          // inbound (server-initiated) streams do not occur in gRPC
          ch.pipeline().addLast(new Http2MultiplexHandler(
            new ChannelInitializer[Channel] {
              override def initChannel(c: Channel): Unit = ()
            }))
        }
      })
    b.connect(host, port).sync().channel()
  }

  /** One in-flight gRPC call (an HTTP/2 stream). */
  final class Call private[GrpcClient] (ch: Http2StreamChannel,
                                        handler: StreamHandler) {
    def send(msg: Array[Byte]): Unit =
      ch.writeAndFlush(new DefaultHttp2DataFrame(
        Unpooled.wrappedBuffer(GrpcWire.frame(msg)), false)).sync()

    def halfClose(): Unit =
      ch.writeAndFlush(new DefaultHttp2DataFrame(Unpooled.EMPTY_BUFFER, true)).sync()

    /** Next response message (a BatchStatus, or the legitimately-EMPTY
      * unary Export*Response), or None on timeout / call end. */
    def nextMessage(timeoutMs: Long = 15000): Option[Array[Byte]] =
      Option(handler.messages.poll(timeoutMs, TimeUnit.MILLISECONDS))

    /** Waits for the trailers; returns (grpc-status, grpc-message). */
    def awaitStatus(timeoutMs: Long = 15000): (Int, String) = {
      if (!handler.done.await(timeoutMs, TimeUnit.MILLISECONDS))
        throw new RuntimeException("gRPC call did not complete in time")
      (handler.status, handler.statusMessage)
    }
  }

  private final class StreamHandler extends ChannelInboundHandlerAdapter {
    val messages = new LinkedBlockingQueue[Array[Byte]]()
    val done = new CountDownLatch(1)
    @volatile var status: Int = -1
    @volatile var statusMessage: String = ""
    private val deframer = new GrpcWire.Deframer(64L * 1024 * 1024)

    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit =
      msg match {
        case h: Http2HeadersFrame =>
          val st = h.headers().get("grpc-status")
          if (st != null) {
            status = st.toString.toInt
            val m = h.headers().get("grpc-message")
            statusMessage = if (m == null) "" else m.toString
          }
          if (h.isEndStream) done.countDown()
        case d: Http2DataFrame =>
          try {
            val chunk = new Array[Byte](d.content().readableBytes())
            d.content().readBytes(chunk)
            deframer.feed(chunk).foreach { case (_, m) =>
              // empty messages (unary Export*Response) still signal
              // completion of the response leg; queue a marker
              messages.put(if (m.isEmpty) Array.emptyByteArray else m)
            }
            if (d.isEndStream) done.countDown()
          } finally d.release()
        case other => ReferenceCountUtil.release(other)
      }

    override def channelInactive(ctx: ChannelHandlerContext): Unit = {
      done.countDown()
      ctx.fireChannelInactive()
    }
  }

  /** Open a gRPC call on `path` (starts the stream with its HEADERS). */
  def open(path: String, token: Option[String]): Call = {
    val handler = new StreamHandler
    val sb = new Http2StreamChannelBootstrap(conn)
    sb.handler(new ChannelInitializer[Channel] {
      override def initChannel(c: Channel): Unit = c.pipeline().addLast(handler)
    })
    val stream = sb.open().sync().getNow
    val h = new DefaultHttp2Headers()
    h.method("POST").scheme("http").path(path).authority(s"$host:$port")
    h.set("content-type", "application/grpc")
    h.set("te", "trailers")
    token.foreach(t => h.set("authorization", s"Bearer $t"))
    stream.writeAndFlush(new DefaultHttp2HeadersFrame(h, false)).sync()
    new Call(stream, handler)
  }

  /** Unary convenience: send one message, half-close, await the reply.
    * Returns (grpc-status, grpc-message, response messages). */
  def unary(path: String, message: Array[Byte], token: Option[String],
            timeoutMs: Long = 15000): (Int, String, Seq[Array[Byte]]) = {
    val call = open(path, token)
    call.send(message)
    call.halfClose()
    val (st, m) = call.awaitStatus(timeoutMs)
    val out = Seq.newBuilder[Array[Byte]]
    var more = true
    while (more) call.nextMessage(1) match {
      case Some(b) => out += b
      case None => more = false
    }
    (st, m, out.result())
  }

  def close(): Unit = {
    try conn.close().sync() catch { case _: Exception => () }
    group.shutdownGracefully(0, 2, TimeUnit.SECONDS)
  }
}
