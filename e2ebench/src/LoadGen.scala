package e2ebench

import java.io.{BufferedReader, File, InputStream, InputStreamReader, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** The ingest load generator, run as its own process. It loads pre-built
  * gzip'd protobuf request bodies, then obeys commands on stdin:
  *   open RATE SECONDS OUT     fixed offered rate, at most 4 connections
  *   closed CONNS SECONDS OUT  closed loop: each connection waits for its reply
  *   quit
  * Each command writes one line per request to OUT (body index, scheduled,
  * sent and acked System.nanoTime, HTTP status) and answers "done CPU_NS". */
object LoadGen {
  final class Conn(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val out = sock.getOutputStream
    private val in = new java.io.BufferedInputStream(sock.getInputStream, 8192)

    private def line(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\n' && c >= 0) { if (c != '\r') sb.append(c.toChar); c = in.read() }
      if (c < 0) throw new java.io.EOFException("connection closed")
      sb.toString
    }

    def post(path: String, body: Array[Byte], port: Int): Int = {
      val head = s"POST $path HTTP/1.1\r\nHost: localhost:$port\r\n" +
        "Content-Type: application/x-protobuf\r\nContent-Encoding: gzip\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n"
      out.write(head.getBytes(US_ASCII)); out.write(body); out.flush()
      val status = line().split(' ')(1).toInt
      var len = 0
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length")) len = h.substring(i + 1).trim.toInt
        h = line()
      }
      var left = len
      while (left > 0) { val n = in.skip(left.toLong).toInt; if (n <= 0) { in.read(); left -= 1 } else left -= n }
      status
    }
    def close(): Unit = sock.close()
  }

  final case class Req(body: Int, sched: Long, sent: Long, acked: Long, status: Int)

  def main(args: Array[String]): Unit = {
    val port = args(0).toInt
    val bodies = Gen.readBodies(new File(args(1)))
    val paths = bodies.map(b => s"/v1/${b._1}")
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val conns = Array.fill(4)(new Conn(port))
    val next = new AtomicLong(0)
    def send(c: Conn, sched: Long): Req = {
      val i = (next.getAndIncrement() % bodies.size).toInt
      val sent = System.nanoTime()
      val st = try c.post(paths(i), bodies(i)._2, port) catch { case _: java.io.IOException => -1 }
      Req(i, sched, sent, System.nanoTime(), st)
    }

    def runWorkers(n: Int)(work: (Conn, ArrayBuffer[Req]) => Unit): Seq[Req] = {
      val bufs = Array.fill(n)(ArrayBuffer[Req]())
      val ts = (0 until n).map(w => new Thread(() => work(conns(w), bufs(w))))
      ts.foreach(_.start()); ts.foreach(_.join())
      bufs.toSeq.flatten
    }

    val stdin = new BufferedReader(new InputStreamReader(System.in))
    val stdout = new PrintWriter(System.out, true)
    stdout.println("ready")
    var cmd = stdin.readLine()
    while (cmd != null && cmd != "quit") {
      val p = cmd.split(' ')
      val reqs: Seq[Req] = p(0) match {
        case "open" =>
          // request k is due at start + k/rate; a free connection takes the
          // next due request, so a stall shows up as lateness, not as a gap
          val interval = (1e9 / p(1).toDouble).toLong
          val seconds = p(2).toDouble
          val start = System.nanoTime() + 20000000L
          val total = (seconds * p(1).toDouble).toLong
          val ticket = new AtomicLong(0)
          runWorkers(4) { (c, buf) =>
            var k = ticket.getAndIncrement()
            while (k < total) {
              val due = start + k * interval
              var now = System.nanoTime()
              while (now < due) {
                val left = due - now
                if (left > 2000000L) Thread.sleep((left - 1000000L) / 1000000L) else Thread.onSpinWait()
                now = System.nanoTime()
              }
              buf += send(c, due)
              k = ticket.getAndIncrement()
            }
          }
        case "closed" =>
          val end = System.nanoTime() + (p(2).toDouble * 1e9).toLong
          runWorkers(p(1).toInt) { (c, buf) =>
            while (System.nanoTime() < end) buf += send(c, System.nanoTime())
          }
      }
      val w = new PrintWriter(new File(p(3)))
      try reqs.sortBy(_.sched).foreach(r => w.println(s"${r.body} ${r.sched} ${r.sent} ${r.acked} ${r.status}"))
      finally w.close()
      stdout.println(s"done ${os.getProcessCpuTime}")
      cmd = stdin.readLine()
    }
    conns.foreach(_.close())
  }
}
