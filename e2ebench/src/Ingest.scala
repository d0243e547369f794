package e2ebench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

object Ingest {
  /** The fixed offered rate in requests/s (400 rows each): about half of
    * the closed-loop saturation measured on a 4-core host (README.md). */
  val Rate = 20
  /** Length of the live-heap probe: short of the 5 s age trigger, so no
    * seal runs while the buffers fill. */
  val ProbeSeconds = 2
}

/** ingest_http_pb: OTLP/HTTP protobuf+gzip into the parquet target with
  * the daemon's default seal triggers. A generator process drives a
  * fixed-rate open loop, then a 4-connection closed loop to saturation. */
final class Ingest(ctx: Ctx) extends Workload {
  import ctx.{a, tracer}
  import Ingest._
  import graft.streaming.OtlpServe
  private val bodiesFile = new File(a.inputs, "bodies.bin")
  /** The request bodies are loaded only while needed, so the heap the run
    * measures holds the program's state, not the benchmark's inputs. */
  private def bodies = Gen.readBodies(bodiesFile)
  private lazy val truths = bodies.map(_._3)
  private val root = new File(a.work, "export")
  private var uri = ""

  def setup(spark: SparkSession): Unit = {
    val s = new java.net.ServerSocket(0)
    val port = try s.getLocalPort finally s.close()
    uri = s"otlp:localhost:$port"
    OtlpServe.otlpServe(spark, uri, Map("disable_auth" -> "true",
      "parquet_export_path" -> root.getAbsolutePath))
  }

  override def teardown(spark: SparkSession): Unit = if (uri.nonEmpty) {
    OtlpServe.otlpStop(spark, uri); uri = ""
  }

  private def port = uri.split(':').last.toInt
  private def server(spark: SparkSession) = OtlpServe.serverList(spark).head()
  /** Committed rows, read from the running server's counter: cheap enough
    * to poll while waiting, unlike a serverList query. */
  private def committed: Long =
    OtlpServe.get(uri).map(_.committedRowsTotal.get()).getOrElse(0L)

  /** The generator process, driven over its stdin. */
  private final class Generator {
    private val java = new File(System.getProperty("java.home"), "bin/java").getPath
    private val p = new ProcessBuilder(java, "-Xms256m", "-Xmx256m", "-XX:-UsePerfData",
      s"-Djava.io.tmpdir=${new File(a.work, "tmp").getAbsolutePath}",
      "-cp", System.getProperty("java.class.path"), "e2ebench.Main", "loadgen",
      port.toString, bodiesFile.getAbsolutePath)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    private val out = new BufferedReader(new InputStreamReader(p.getInputStream))
    private val in = new PrintWriter(p.getOutputStream, true)
    require(out.readLine() == "ready", "load generator failed to start")
    var cpuNs = 0L
    private var n = 0

    /** Run one command; returns its requests (body, sched, sent, acked, status). */
    def apply(cmd: String): IndexedSeq[Array[Long]] = {
      n += 1
      val f = new File(a.work, s"gen-$n.txt")
      in.println(s"$cmd ${f.getAbsolutePath}")
      val done = out.readLine()
      require(done != null && done.startsWith("done"), s"load generator died during '$cmd'")
      cpuNs = done.split(' ')(1).toLong
      val src = Source.fromFile(f)
      try src.getLines().map(_.split(' ').map(_.toLong)).toIndexedSeq finally src.close()
    }
    def quit(): Unit = { in.println("quit"); p.waitFor(); out.close() }
    def kill(): Unit = if (p.isAlive) { p.destroyForcibly(); p.waitFor() }
  }

  private val acked = new Truth
  private def ok(q: Array[Long]) = q(4) >= 200 && q(4) < 300
  private def ackAll(reqs: Seq[Array[Long]]): Long = {
    var rows = 0L
    reqs.filter(ok).foreach { q => val t = truths(q(0).toInt); acked.addAll(t); rows += t.rows.sum }
    rows
  }

  def run(spark: SparkSession, r: Report): Unit = {
    val gen = new Generator
    Log("generator ready")
    try measure(spark, r, gen) finally gen.kill()
  }

  private def measure(spark: SparkSession, r: Report, gen: Generator): Unit = {
    val p1s = a.seconds; val p2s = a.seconds * 0.4
    // warm-up: the first seal cycle (the cold parquet write path) runs
    // while the decoders warm in-process and the HTTP path warms under a
    // closed loop; then a short fixed-rate run and a flush empty the buffers
    def sealing(body: => Unit): Unit = {
      val t = new Thread(() => OtlpServe.otlpFlush(spark, uri).collect())
      t.start(); body; t.join()
    }
    ackAll(gen("closed 4 0.5"))
    sealing { warmDecoders(3.0); ackAll(gen("closed 4 4")) }
    sealing(ackAll(gen(s"open $Rate 5")))
    OtlpServe.otlpFlush(spark, uri).collect()
    Log("warm-up flushed")
    val seq0 = OtlpServe.sealList(spark).agg(coalesce(max("seq"), lit(0L))).head().getLong(0)

    val m = new ctx.Meter
    val gen0 = gen.cpuNs
    val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    // phase 1: fixed offered rate, then a flush makes every acked row durable
    val c0 = committed
    val buffered = ArrayBuffer[(Long, Long)]()
    val poll = if (!a.trace) None else Some(new Thread(() => {
      try while (true) {
        val b = tracer.span("streaming", "server_list")(server(spark).getAs[Long]("buffered_rows"))
        buffered.synchronized(buffered += (System.nanoTime() -> b))
        Thread.sleep(200)
      } catch { case _: InterruptedException => () }
    }))
    poll.foreach(_.start())
    val (fixed, rows1) = tracer.span("bench", "fixed_rate") {
      val q = tracer.span("gen", "open_loop")(gen(s"open $Rate $p1s"))
      (q, ackAll(q))
    }
    val phase1End = System.nanoTime()
    Log(s"fixed-rate phase: ${fixed.size} requests")
    poll.foreach { t => t.interrupt(); t.join() }
    val flush1 = tracer.span("streaming", "flush")(OtlpServe.otlpFlush(spark, uri).head())
    r.check(flush1.getAs[String]("error") == null && committed == c0 + rows1,
      s"fixed-rate phase: ${committed - c0} of $rows1 acked rows durable after the flush")
    val cpu1 = m.cpuS

    // live heap: the buffers hold a fixed-rate burst that no seal has taken;
    // the heap with them empty is its per-layer baseline
    r.layer("streaming.heap_flushed_mb") = (Jvm.liveHeapMb(), "MB")
    val (probe, rowsP) = { val q = gen(s"open $Rate $ProbeSeconds"); (q, ackAll(q)) }
    r.e2e("live_heap_mb") = (Jvm.liveHeapMb(), "MB")
    val held = server(spark).getAs[Long]("buffered_rows")
    r.check(held == rowsP, s"live-heap probe: $held rows buffered, $rowsP acked")
    r.check(OtlpServe.otlpFlush(spark, uri).head().getAs[String]("error") == null, "live-heap probe: flush failed")

    // phase 3: closed loop to saturation, ended by a flush
    val c1 = committed
    val t2 = System.nanoTime()
    val (closed, rows2) = tracer.span("bench", "closed_loop") {
      val q = tracer.span("gen", "closed_loop")(gen(s"closed 4 $p2s"))
      (q, ackAll(q))
    }
    val f0 = System.nanoTime()
    val flushRow = tracer.span("streaming", "flush")(OtlpServe.otlpFlush(spark, uri).head())
    val flushNs = System.nanoTime() - f0
    val phase2S = (System.nanoTime() - t2) / 1e9
    Log(s"closed loop: ${closed.size} requests, flushed")
    val durable2 = committed - c1
    val genCpu = (gen.cpuNs - gen0) / 1e9
    gen.quit()
    m.stop(r, 1)

    // correctness: every acked row durable, none lost, readable back
    r.check(flushRow.getAs[String]("error") == null, s"flush failed: ${flushRow.getAs[String]("error")}")
    r.check(durable2 == rows2, s"closed loop: $rows2 rows acked, $durable2 committed")
    val srv = server(spark)
    r.check(srv.getAs[Long]("seal_failures_total") == 0, s"${srv.getAs[Long]("seal_failures_total")} seal failures")
    r.check(srv.getAs[Long]("committed_rows_total") == acked.rows.sum,
      s"committed ${srv.getAs[Long]("committed_rows_total")} rows, acked ${acked.rows.sum}")
    Check.Signals.indices.foreach { i =>
      val s = Check.Signals(i)
      val (n, cs) = if (acked.rows(i) == 0) (0L, 0L) else {
        val row = graft.Otlp.readExport(spark, root.getAbsolutePath, s)
          .agg(count(lit(1)), coalesce(sum(expr(Check.sql(s))), lit(0L))).head()
        (row.getLong(0), row.getLong(1))
      }
      r.check(n == acked.rows(i) && cs == acked.sums(i),
        s"export $s: read back $n rows / checksum $cs, acked ${acked.rows(i)} / ${acked.sums(i)}")
    }

    Log("export read back")
    // end-to-end
    val measured = fixed ++ probe ++ closed
    r.attempted += measured.size
    r.failed += measured.count(q => !ok(q))
    val lat = fixed.map(q => if (ok(q)) (q(3) - q(1)) / 1e6 else Double.PositiveInfinity)
    r.layer("rows_per_s") = (durable2 / phase2S, "rows/s")
    r.e2e("cpu_s_per_mrow") = (cpu1 / (rows1 / 1e6), "s/Mrow")
    r.layer("streaming.ack_p50_ms") = (Stat.median(lat), "ms")
    r.layer("streaming.ack_p95_ms") = (Stat.quantile(lat, 0.95), "ms")

    // durable lag: a request is durable when the first seal whose
    // cumulative committed rows cover it has committed
    val seals = OtlpServe.sealList(spark).where(col("seq") > seq0).orderBy("seq").collect().toSeq
    val now = System.currentTimeMillis()
    val sealAt = seals.map(s => (s.getAs[Long]("sealed_rows_total"),
      (now - s.getAs[Long]("age_ms") - epochOffsetMs) * 1000000L))
    var cum = c0
    val lags = fixed.filter(ok).sortBy(_(3)).flatMap { q =>
      cum += truths(q(0).toInt).rows.sum
      sealAt.find(_._1 >= cum).map(s => math.max(0L, s._2 - q(3)) / 1e6)
    }
    r.layer("streaming.durable_lag_p50_ms") = (Stat.median(lags), "ms")
    r.layer("streaming.durable_lag_p99_ms") = (Stat.quantile(lags, 0.99), "ms")
    r.layer("streaming.ack_p99_ms") = (Stat.quantile(lat, 0.99), "ms")
    r.layer("streaming.refused_share_fixed") = (fixed.count(_(4) == 503).toDouble / fixed.size, "ratio")
    r.layer("streaming.refused_share_closed") = (closed.count(_(4) == 503).toDouble / math.max(closed.size, 1), "ratio")
    r.layer("streaming.flush_ms") = (flushNs / 1e6, "ms")
    r.layer("gen.late_p99_ms") = (Stat.quantile(fixed.map(q => (q(2) - q(1)) / 1e6), 0.99), "ms")
    r.layer("gen.cpu_s") = (genCpu, "s")
    r.layer("gen.requests") = (measured.size.toDouble, "count")
    val inPhase = seals.filter(s => s.getAs[Long]("sealed_rows_total") > c0)
    r.layer("streaming.seals") = (inPhase.size.toDouble, "count")
    def med(c: String) = Stat.median(inPhase.map(_.getAs[Long](c).toDouble))
    r.layer("streaming.seal_rows_p50") = (med("rows"), "rows")
    r.layer("streaming.seal_append_ms_p50") = (med("append_ms"), "ms")
    r.layer("streaming.seal_commit_ms_p50") = (med("commit_ms"), "ms")
    r.layer("streaming.seal_commit_ms_max") =
      (if (inPhase.isEmpty) 0.0 else inPhase.map(_.getAs[Long]("commit_ms")).max.toDouble, "ms")
    if (a.trace) {
      val b = buffered.toSeq.filter(_._1 <= phase1End)
      r.layer("streaming.buffered_rows_max") = (if (b.isEmpty) 0.0 else b.map(_._2).max.toDouble, "rows")
      measured.foreach(q => tracer.record("gen", "request", q(2), q(3)))
      sealAt.zip(seals).foreach { case ((_, at), s) =>
        tracer.record("streaming", "seal", at - (s.getAs[Long]("append_ms") + s.getAs[Long]("commit_ms")) * 1000000L, at)
      }
      layers(spark, r, Stat.median(lat))
    }
  }

  /** Gunzip, parse and RowBin-encode every body on 4 threads for `seconds`:
    * the per-request code paths reach their compiled form before any
    * request is timed. */
  private def warmDecoders(seconds: Double): Unit = {
    val bodies = this.bodies
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val ts = (0 until 4).map(w => new Thread(() => {
      var i = w
      while (System.nanoTime() < end) {
        val (fam, gz, _) = bodies(i % bodies.size)
        val p = graft.otlp.OtlpProtoParser.parse(Gen.gunzip(gz), fam, nsAsLong = false)
        Check.Signals.foreach(s => p.signal(s).foreach(graft.streaming.RowBin.forSignal(s).toBytes))
        i += 4
      }
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
  }

  /** Single-threaded costs of the steps a request pays, on these bodies. */
  private def layers(spark: SparkSession, r: Report, ackP50: Double): Unit = {
    val raw = bodies.map { case (fam, gz, t) =>
      (fam, Gen.gunzip(gz), gz, t.rows.sum)
    }
    val rows = raw.map(_._4).sum.toDouble
    val gunzipNs = tracer.span("streaming", "gunzip")(ParseTimer.nsPerRow() {
      raw.foreach(b => Gen.gunzip(b._3)); rows.toInt
    })
    def fam(f: String) = raw.filter(_._1 == f)
    val parse = Seq("logs", "traces", "metrics").map { f =>
      f -> tracer.span("otlp", s"pb_$f")(ParseTimer.nsPerRow() {
        fam(f).map(b => ParseTimer.pb(b._2, f)).sum
      })
    }.toMap
    val parsed = raw.map(b => graft.otlp.OtlpProtoParser.parse(b._2, b._1, nsAsLong = false))
    val rowbin = tracer.span("streaming", "rowbin")(ParseTimer.nsPerRow() {
      var n = 0
      parsed.foreach(p => Check.Signals.foreach { s =>
        val bin = graft.streaming.RowBin.forSignal(s)
        p.signal(s).foreach { row => bin.toBytes(row); n += 1 }
      })
      n
    })
    parse.foreach { case (f, v) => r.layer(s"otlp.pb_parse_ns_per_row.$f") = (v, "ns/row") }
    r.layer("gen.gzip_bytes_per_row.logs") =
      (fam("logs").map(_._3.length.toDouble).sum / fam("logs").map(_._4).sum, "B/row")
    r.layer("streaming.gunzip_ns_per_row") = (gunzipNs, "ns/row")
    r.layer("streaming.rowbin_ns_per_row") = (rowbin, "ns/row")
    // per-request compute, weighted by the request mix
    val perReqMs = raw.map(b => b._4 * (gunzipNs + parse(b._1) + rowbin)).sum / raw.size / 1e6
    r.layer("streaming.ack_residual_ms_p50") = (ackP50 - perReqMs, "ms")
    ctx.spanReport(spark, r, 1)
  }
}
