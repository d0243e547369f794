package e2ebench

import java.io.{ByteArrayOutputStream, DataOutputStream, File, FileOutputStream, BufferedOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Minimal protobuf writer: just the wire types OTLP uses. Written here so
  * the inputs do not depend on the engine's own encoders. */
final class PbOut {
  private val b = new ByteArrayOutputStream(256)
  def varint(v: Long): Unit = {
    var x = v
    while ((x & ~0x7FL) != 0) { b.write(((x & 0x7F) | 0x80).toInt); x >>>= 7 }
    b.write(x.toInt)
  }
  private def tag(f: Int, wt: Int): Unit = varint(((f << 3) | wt).toLong)
  def u64(f: Int, v: Long): Unit = { tag(f, 0); varint(v) }
  def sint(f: Int, v: Int): Unit = { tag(f, 0); varint(((v << 1) ^ (v >> 31)).toLong & 0xFFFFFFFFL) }
  private def le64(v: Long): Unit = { var i = 0; while (i < 8) { b.write(((v >>> (8 * i)) & 0xFF).toInt); i += 1 } }
  def fixed64(f: Int, v: Long): Unit = { tag(f, 1); le64(v) }
  def double(f: Int, d: Double): Unit = fixed64(f, java.lang.Double.doubleToRawLongBits(d))
  def bytes(f: Int, a: Array[Byte]): Unit = { tag(f, 2); varint(a.length.toLong); b.write(a) }
  def str(f: Int, s: String): Unit = bytes(f, s.getBytes(UTF_8))
  def msg(f: Int)(body: PbOut => Unit): Unit = { val o = new PbOut; body(o); bytes(f, o.toBytes) }
  def packedFixed64(f: Int, vs: Array[Long]): Unit = {
    val o = new PbOut; vs.foreach(o.le64); bytes(f, o.toBytes)
  }
  def packedDouble(f: Int, vs: Array[Double]): Unit =
    packedFixed64(f, vs.map(java.lang.Double.doubleToRawLongBits))
  def packedVarint(f: Int, vs: Array[Long]): Unit = {
    val o = new PbOut; vs.foreach(o.varint); bytes(f, o.toBytes)
  }
  def toBytes: Array[Byte] = b.toByteArray
}

/** Per-signal truth: row count and an additive checksum over columns every
  * reader must reproduce exactly. [[Check.sql]] is the Spark-side formula. */
final class Truth {
  val rows = new Array[Long](Check.Signals.size)
  val sums = new Array[Long](Check.Signals.size)
  def add(sig: Int, key: Long): Unit = { rows(sig) += 1; sums(sig) += key }
  def addAll(o: Truth): Unit = {
    var i = 0
    while (i < rows.length) { rows(i) += o.rows(i); sums(i) += o.sums(i); i += 1 }
  }
}

object Check {
  val Signals: IndexedSeq[String] = IndexedSeq("logs", "traces", "metrics_gauge",
    "metrics_sum", "metrics_histogram", "metrics_exp_histogram")
  /** Every generated timestamp is BaseNs + a µs-aligned offset under an hour. */
  val BaseUs: Long = 1700000000000000L
  val BaseNs: Long = BaseUs * 1000L

  /** Spark SQL for one row's checksum key; mirrors the generator's keys. */
  def sql(signal: String): String = signal match {
    case "logs" => s"unix_micros(time_unix_nano) - $BaseUs + severity_number + length(body)"
    case "traces" => s"unix_micros(start_time_unix_nano) - $BaseUs + duration_time_unix_nano + kind + length(name)"
    case "metrics_gauge" | "metrics_sum" => s"unix_micros(time_unix_nano) - $BaseUs + int_value + length(name)"
    case "metrics_histogram" => s"unix_micros(time_unix_nano) - $BaseUs + count + size(bucket_counts)"
    case "metrics_exp_histogram" => s"unix_micros(time_unix_nano) - $BaseUs + count + scale + zero_count"
  }
}

/** One OTLP export request, protobuf-encoded, plus its truth. */
final case class Batch(family: String, pb: Array[Byte], truth: Truth)

/** Seeded OTLP telemetry: one resource + one scope per request, `n` records.
  * Every value derives from the caller's SplittableRandom. */
object Gen {
  private val Words = Array("request", "served", "cache", "miss", "hit", "retry",
    "timeout", "user", "order", "payment", "queue", "flush", "commit", "scan",
    "shard", "replica", "leader", "epoch", "batch", "window", "token", "session")
  private val Methods = Array("GET", "POST", "PUT", "DELETE")
  private val Sev = Array(5 -> "DEBUG", 9 -> "INFO", 13 -> "WARN", 17 -> "ERROR")

  private def hex(r: SplittableRandom, bytes: Int): String = {
    val sb = new StringBuilder(bytes * 2)
    var i = 0
    while (i < bytes) {
      val v = r.nextInt(256)
      sb.append(Character.forDigit(v >> 4, 16)).append(Character.forDigit(v & 15, 16))
      i += 1
    }
    sb.toString
  }
  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  private def words(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => Words(r.nextInt(Words.length))).mkString(" ")
  private val B64 = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
  private def b64(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(B64.charAt(r.nextInt(64))); i += 1 }
    sb.toString
  }
  /** Mean length of a log record's random payload attribute, chosen so a
    * gzip'd logs request carries about 786 bytes per record: the record
    * size the reference's capacity harness is calibrated to. */
  val LogPayloadChars = 830

  private final case class Attr(key: String, s: String, i: Long, isInt: Boolean)
  private def attrs(r: SplittableRandom): Seq[Attr] = Seq(
    Attr("http.method", Methods(r.nextInt(Methods.length)), 0, isInt = false),
    Attr("shard", null, r.nextInt(64).toLong, isInt = true))
  private def attrsPb(o: PbOut, field: Int, as: Seq[Attr]): Unit = as.foreach { a =>
    o.msg(field) { kv =>
      kv.str(1, a.key)
      kv.msg(2) { v => if (a.isInt) v.u64(3, a.i) else v.str(1, a.s) }
    }
  }

  /** The request envelope: one resource, one scope, the records. */
  private def wrap(service: String, host: String, recs: PbOut => Unit): Array[Byte] = {
    val res = Seq(Attr("service.name", service, 0, isInt = false),
      Attr("host.name", host, 0, isInt = false))
    val top = new PbOut
    top.msg(1) { rl =>
      rl.msg(1)(r => attrsPb(r, 1, res))
      rl.msg(2) { sl =>
        sl.msg(1) { sc => sc.str(1, "e2ebench"); sc.str(2, "1.0") }
        recs(sl)
      }
    }
    top.toBytes
  }

  private def svc(r: SplittableRandom) = s"svc-${r.nextInt(12)}"
  private def host(r: SplittableRandom) = s"host-${r.nextInt(8)}"
  /** µs-aligned offset in [0, 1h): exact under the readers' µs truncation. */
  private def tsOffsetUs(r: SplittableRandom): Long = r.nextLong(3600L * 1000000L)

  def logs(r: SplittableRandom, n: Int): Batch = {
    val t = new Truth
    val recs = new Array[PbOut => Unit](n)
    var i = 0
    while (i < n) {
      val off = tsOffsetUs(r)
      val (sn, st) = Sev(r.nextInt(Sev.length))
      val body = s"${words(r, 8 + r.nextInt(16))} user=${hex(r, 8)} latency_ms=${r.nextInt(5000)}"
      val as = attrs(r) ++ Seq(
        Attr("http.route", s"/api/v1/${Words(r.nextInt(Words.length))}/${r.nextInt(100000)}", 0, isInt = false),
        Attr("client.address", s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}", 0, isInt = false),
        Attr("payload", b64(r, LogPayloadChars * 4 / 5 + r.nextInt(LogPayloadChars * 2 / 5)), 0, isInt = false))
      val (tid, sid) = (hex(r, 16), hex(r, 8))
      val ns = Check.BaseNs + off * 1000
      recs(i) = o => o.msg(2) { lr =>
        lr.fixed64(1, ns); lr.u64(2, sn); lr.str(3, st)
        lr.msg(5)(_.str(1, body)); attrsPb(lr, 6, as)
        lr.bytes(9, unhex(tid)); lr.bytes(10, unhex(sid)); lr.fixed64(11, ns)
      }
      t.add(0, off + sn + body.length)
      i += 1
    }
    Batch("logs", wrap(svc(r), host(r), o => recs.foreach(_(o))), t)
  }

  def traces(r: SplittableRandom, n: Int): Batch = {
    val t = new Truth
    val recs = new Array[PbOut => Unit](n)
    val tid = hex(r, 16)
    var parent: String = null
    var i = 0
    while (i < n) {
      val off = tsOffsetUs(r)
      val dur = 1000L * (1 + r.nextInt(500000))
      val kind = 1 + r.nextInt(5)
      val code = if (r.nextInt(20) == 0) 2 else 1
      val name = s"op-${Words(r.nextInt(Words.length))}"
      val sid = hex(r, 8)
      val ns = Check.BaseNs + off * 1000
      val as = attrs(r)
      val par = parent
      recs(i) = o => o.msg(2) { sp =>
        sp.bytes(1, unhex(tid)); sp.bytes(2, unhex(sid))
        if (par != null) sp.bytes(4, unhex(par))
        sp.str(5, name); sp.u64(6, kind); sp.fixed64(7, ns); sp.fixed64(8, ns + dur)
        attrsPb(sp, 9, as); sp.msg(15)(_.u64(3, code))
      }
      t.add(1, off + dur + kind + name.length)
      if (r.nextInt(3) > 0) parent = sid
      i += 1
    }
    Batch("traces", wrap(svc(r), host(r), o => recs.foreach(_(o))), t)
  }

  /** `kinds` picks the metric shapes (indices into Check.Signals, 2..5);
    * each metric carries `n` points. */
  def metrics(r: SplittableRandom, n: Int, kinds: Seq[Int]): Batch = {
    val t = new Truth
    val mp = kinds.map { k =>
      val name = s"m.${Words(r.nextInt(Words.length))}.$k"
      val pps = Array.fill[PbOut => Unit](n) {
        val off = tsOffsetUs(r)
        val ns = Check.BaseNs + off * 1000
        val start = ns - 60000000000L
        val as = attrs(r)
        k match {
          case 2 | 3 =>
            val v = r.nextLong(1000000L)
            t.add(k, off + v + name.length)
            o => o.msg(1) { dp => attrsPb(dp, 7, as); dp.fixed64(2, start); dp.fixed64(3, ns); dp.fixed64(6, v) }
          case 4 =>
            val buckets = Array.fill(4 + r.nextInt(4))(r.nextLong(100L))
            val bounds = Array.tabulate(buckets.length - 1)(j => (j + 1) * 10.0)
            val cnt = buckets.sum
            t.add(k, off + cnt + buckets.length)
            o => o.msg(1) { dp =>
              attrsPb(dp, 9, as); dp.fixed64(2, start); dp.fixed64(3, ns); dp.fixed64(4, cnt)
              dp.double(5, cnt * 7.5); dp.packedFixed64(6, buckets); dp.packedDouble(7, bounds)
              dp.double(11, 0.5); dp.double(12, 99.5)
            }
          case 5 =>
            val pos = Array.fill(3 + r.nextInt(4))(r.nextLong(50L))
            val zero = r.nextLong(5L)
            val scale = r.nextInt(4)
            val cnt = pos.sum + zero
            t.add(k, off + cnt + scale + zero)
            o => o.msg(1) { dp =>
              attrsPb(dp, 1, as); dp.fixed64(2, start); dp.fixed64(3, ns); dp.fixed64(4, cnt)
              dp.double(5, cnt * 2.0); dp.sint(6, scale); dp.fixed64(7, zero)
              dp.msg(8) { b => b.sint(1, 1); b.packedVarint(2, pos) }
              dp.double(12, 0.25); dp.double(13, 64.0)
            }
        }
      }
      // Metric oneof: gauge 5, sum 7, histogram 9, exponential_histogram 10
      val shapeField = Map(2 -> 5, 3 -> 7, 4 -> 9, 5 -> 10)(k)
      (o: PbOut) => o.msg(2) { m =>
        m.str(1, name); m.str(2, "generated"); m.str(3, "1")
        m.msg(shapeField) { s =>
          pps.foreach(_(s))
          if (k >= 3) s.u64(2, 2) // aggregation_temporality CUMULATIVE
          if (k == 3) s.u64(3, 1) // is_monotonic
        }
      }
    }
    Batch("metrics", wrap(svc(r), host(r), o => mp.foreach(_(o))), t)
  }

  def writeFile(f: File, bytes: Array[Byte]): Unit = {
    f.getParentFile.mkdirs()
    val o = new FileOutputStream(f)
    try o.write(bytes) finally o.close()
  }

  def gzip(a: Array[Byte]): Array[Byte] = {
    val bo = new ByteArrayOutputStream(a.length / 4)
    val z = new java.util.zip.GZIPOutputStream(bo)
    z.write(a); z.close()
    bo.toByteArray
  }

  def gunzip(a: Array[Byte]): Array[Byte] = {
    val z = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(a))
    try z.readAllBytes() finally z.close()
  }

  def writeText(f: File, s: String): Unit = writeFile(f, s.getBytes(UTF_8))

  /** Length-prefixed record file: the ingest generator's request bodies,
    * each with its family and per-signal truth. */
  def writeBodies(f: File, bodies: Seq[(String, Array[Byte], Truth)]): Unit = {
    f.getParentFile.mkdirs()
    val o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f)))
    try {
      o.writeInt(bodies.size)
      bodies.foreach { case (family, body, t) =>
        o.writeUTF(family)
        t.rows.foreach(o.writeLong); t.sums.foreach(o.writeLong)
        o.writeInt(body.length); o.write(body)
      }
    } finally o.close()
  }

  def readBodies(f: File): IndexedSeq[(String, Array[Byte], Truth)] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(new java.io.FileInputStream(f)))
    try {
      val n = in.readInt()
      (0 until n).map { _ =>
        val fam = in.readUTF()
        val t = new Truth
        t.rows.indices.foreach(i => t.rows(i) = in.readLong())
        t.sums.indices.foreach(i => t.sums(i) = in.readLong())
        val a = new Array[Byte](in.readInt()); in.readFully(a)
        (fam, a, t)
      }
    } finally in.close()
  }
}
