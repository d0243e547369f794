package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.otlp.{OtlpJsonParser, OtlpParseException, OtlpProtoParser, ProtoReader}
import org.apache.spark.sql.SparkSession

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.zip.{GZIPInputStream, InflaterInputStream}
import scala.collection.mutable.ArrayBuffer

/** One sealed batch of a single signal; rows are UnsafeRow byte images
  * (encoded by RowBin on the transport threads at admission).
  *
  * `admittedBytes` is the admission-reservation share (max of wire and
  * resident heap bytes — what `release` must return); `wireBytes` is the
  * raw request-body share (what the seal size trigger fires on, matching
  * the reference's admitted-request-bytes semantics). `sealId` names this
  * write attempt; `priorSegments` lists consecutive head row ranges
  * (sealId, rowCount) that earlier FAILED attempts may have committed —
  * the catalog write checks each id and skips rows a prior attempt proved
  * durable (effectively-once retry). */
final case class SealBatch(signal: String, rows: IndexedSeq[Array[Byte]],
                           admittedBytes: Long, wireBytes: Long,
                           firstUnsealedAtMs: Long,
                           sealId: String,
                           priorSegments: List[(String, Int)])

/** Per-seal telemetry event (otlp_seal_list). */
final case class SealEvent(listenUri: String, seq: Long, success: Boolean,
                           error: String, rows: Long, bytes: Long,
                           appendMs: Long, commitMs: Long, trigger: String,
                           signalsSealed: Int, sealedRowsTotal: Long,
                           sealsTotal: Long, sealFailuresTotal: Long,
                           atMs: Long)

/** Outcome of one admission (`OtlpServer.admit`). Every ingest request —
  * an HTTP POST, a gRPC unary Export, one OTAP stream message — ends in
  * one of these; each transport maps them onto its own status space (HTTP
  * 202/400/413/503, gRPC OK/INVALID_ARGUMENT/RESOURCE_EXHAUSTED, OTAP
  * BatchStatus codes). */
private[streaming] sealed trait IngestOutcome
private[streaming] object IngestOutcome {
  final case class Buffered(rows: Long, batches: Int,
                            skipped: OtlpJsonParser.Skipped)
      extends IngestOutcome
  /** Refused before any row reached a buffer; the reservation is released. */
  sealed trait Refused extends IngestOutcome
  case object Overloaded extends Refused
  case object BodyTooLarge extends Refused
  final case class DecompressFailed(msg: String) extends Refused
  final case class Malformed(msg: String) extends Refused
  final case class EncodeFailed(msg: String) extends Refused
}

/** Outcome of one OTAP streaming-session message
  * (`OtlpServer.otapMessage`). `Nack.streamDead` tells the transport
  * whether the decoder was poisoned (decode/encode failure — the stream
  * must close) or the message merely bounced (backpressure — the stream
  * stays open and the client may replay). */
private[streaming] sealed trait OtapOutcome
private[streaming] object OtapOutcome {
  final case class Ok(batchId: Long, rows: Long) extends OtapOutcome
  final case class Nack(statusCode: Int, batchId: Long, msg: String,
                        streamDead: Boolean) extends OtapOutcome
  /** A message arrived for a stream an earlier failure already closed. */
  case object AlreadyClosed extends OtapOutcome
  case object Stopping extends OtapOutcome
  case object TooManyStreams extends OtapOutcome
  /** Refused before decode (the body did not decompress within the cap);
    * the call ends with the unary Export's status for the same refusal. */
  final case class Refused(outcome: IngestOutcome.Refused) extends OtapOutcome
}

/** The live ingest server (OTLP/HTTP, OTLP/gRPC or OTAP/gRPC): admission
  * → parse → stage → commit-to-buffer → (async) seal. The Spark-native
  * re-expression of the reference's otlp_serve pipeline
  * (src/otlp_server.cpp; SURVEY.md §2.3):
  * per-signal in-memory columnar buffers group-commit ("seal") into catalog
  * tables or hive-partitioned Parquet through a single serialized writer on
  * size (seal_target_bytes) or age (seal_max_age_ms) triggers.
  *
  * Concurrency model (mirrors the reference):
  *   - transport threads run one admission pipeline (`admit`: CAS byte
  *     reservation against max_buffered_bytes — refused over budget,
  *     reservation released on any failure), parse the whole request,
  *     then commit all staged signals under per-signal locks only after
  *     every signal converted
  *     (all-or-nothing per request; a metrics request fans out to ≤4
  *     buffers with admitted bytes split by rows, remainder to last).
  *   - a single sealer thread waits on a condition (≤1 s poll) for a flush
  *     request, the size trigger, or the oldest-row age trigger, swaps all
  *     six buffers for fresh ones while holding every lock, and writes
  *     outside the locks; a failed signal write restores its rows AT THE
  *     HEAD of the live buffer (order, admitted bytes, and true row age
  *     preserved) for retry — at-least-once, like the reference's parquet
  *     path.
  *
  * Scale: the buffer/seal pipeline is driver-hosted control plane; the seal
  * write itself is a distributed Spark write (partitioned parquet / catalog
  * append). At 100 TB one runs many ingest endpoints, each sealing into the
  * same partitioned layout — the layout, not the listener, is the scale unit.
  */
final class OtlpServer(val cfg: ServerConfig, spark: SparkSession) {
  import ServerConfig.Signals

  // ---- state --------------------------------------------------------------

  private final class Buffer(val signal: String) {
    val lock = new Object
    var rows = new ArrayBuffer[Array[Byte]]()
    var admittedBytes = 0L
    var wireBytes = 0L
    var firstUnsealedAtMs = -1L
    // consecutive head row ranges (sealId, rowCount) restored by failed
    // write attempts — see SealBatch.priorSegments
    var priorSegments: List[(String, Int)] = Nil
  }
  private val buffers: Map[String, Buffer] =
    Signals.map(s => s -> new Buffer(s)).toMap

  private val reservedBytes = new AtomicLong(0)
  val totalRequests = new AtomicLong(0)
  val activeRequests = new AtomicLong(0)
  val totalRowsBuffered = new AtomicLong(0)
  val committedRowsTotal = new AtomicLong(0)
  val sealsTotal = new AtomicLong(0)
  val sealFailuresTotal = new AtomicLong(0)
  val skippedSummary = new AtomicLong(0)
  val skippedInvalid = new AtomicLong(0)
  @volatile var lastSealAtMs: Long = -1L
  @volatile var sealLastError: String = _
  @volatile var lastError: String = _
  @volatile var isListening = false
  val maintenanceRuns = new AtomicLong(0)
  val maintenanceFailures = new AtomicLong(0)
  @volatile var lastMaintenanceAtMs: Long = -1L
  @volatile var maintenanceLastError: String = _

  private val sealEvents = new java.util.ArrayDeque[SealEvent]()
  private val SealHistoryCap = 4096
  private val sealSeq = new AtomicLong(0)

  // ---- MicroBatchStream seal retention (sources/OtlpSealStream) -----------
  // Committed seals retained in driver memory, keyed by a per-signal
  // monotonic sequence: the streaming source's offsets ARE these sequence
  // numbers. Spark's checkpoint WAL may replay a planned range after a
  // query restart, so a seal stays retained until the query COMMITS past
  // it (streamCommit); the cap bounds a slow consumer — evicting past an
  // uncommitted offset surfaces as a loud gap error on the next plan, the
  // Kafka-retention contract, never silent loss.
  private final class RetainedSeals {
    val lock = new Object
    var lastSeq = 0L  // highest assigned
    var floor = 0L    // everything <= floor has been evicted
    val seals = new java.util.TreeMap[Long, IndexedSeq[Array[Byte]]]()
  }
  private val retained: Map[String, RetainedSeals] =
    Signals.map(s => s -> new RetainedSeals).toMap

  private def retainForStreams(signal: String, rows: IndexedSeq[Array[Byte]]): Unit =
    if (cfg.streamRetainSeals > 0 && rows.nonEmpty) {
      val r = retained(signal)
      r.lock.synchronized {
        r.lastSeq += 1
        r.seals.put(r.lastSeq, rows)
        while (r.seals.size > cfg.streamRetainSeals) {
          val evicted = r.seals.pollFirstEntry().getKey
          r.floor = math.max(r.floor, evicted)
        }
      }
    }

  /** Highest retained-seal sequence assigned so far (stream latestOffset). */
  def streamLatest(signal: String): Long =
    retained(signal).lock.synchronized(retained(signal).lastSeq)

  /** Highest evicted sequence — the stream's earliest usable start offset. */
  def streamFloor(signal: String): Long =
    retained(signal).lock.synchronized(retained(signal).floor)

  /** Row chunks of the seals in (fromExclusive, toInclusive]. Throws when
    * part of the range was already evicted (consumer fell behind the
    * retention cap) — the stream fails loudly instead of skipping rows. */
  def streamRange(signal: String, fromExclusive: Long,
                  toInclusive: Long): Seq[IndexedSeq[Array[Byte]]] = {
    val r = retained(signal)
    r.lock.synchronized {
      if (fromExclusive < r.floor)
        throw new IllegalStateException(
          s"otlp-seals stream fell behind retention: offsets " +
            s"($fromExclusive, ${r.floor}] were evicted (stream_retain_seals=" +
            s"${cfg.streamRetainSeals}); restart the query from a fresh " +
            "checkpoint or raise stream_retain_seals")
      import scala.collection.JavaConverters._
      r.seals.subMap(fromExclusive, false, toInclusive, true)
        .values.asScala.toSeq
    }
  }

  /** The streaming query durably completed everything <= upTo: evict. */
  def streamCommit(signal: String, upTo: Long): Unit = {
    val r = retained(signal)
    r.lock.synchronized {
      val it = r.seals.headMap(upTo, true).keySet.iterator()
      while (it.hasNext) { it.next(); it.remove() }
      r.floor = math.max(r.floor, upTo)
    }
  }

  private[graft] val writer: SealTarget =
    if (cfg.target == "snapshot") new SnapshotTarget(cfg, spark)
    else new SealWriter(cfg, spark)
  /** Targets whose sealCommitted can answer "did a prior attempt land?" —
    * the retry-idempotence trim only makes sense for them (plain parquet
    * publish is documented at-least-once, no marker to probe). */
  private val idempotentTarget =
    cfg.target == "catalog" || cfg.target == "snapshot"
  private val sealMonitor = new Object
  private var flushRequested = false
  private var sealRequested = false
  private val stopping = new AtomicBoolean(false)

  private var http: HttpServer = _
  private var grpc: GrpcTransport = _
  private var sealerThread: Thread = _

  // ---- lifecycle ----------------------------------------------------------

  def start(): Unit = {
    writer.prepareTables()
    if (cfg.transport == "grpc") {
      // a gRPC listener serves ONLY its gRPC service family — no HTTP
      // endpoints, matching the reference ("an otap: server exposes no
      // HTTP endpoints", serve.md); the control plane (flush/stop/list)
      // is the in-process OtlpServe API either way
      grpc = new GrpcTransport(this, cfg)
      grpc.start()
    } else {
      http = HttpServer.create(new InetSocketAddress(cfg.uri.host, cfg.uri.port), 64)
      http.createContext("/", (ex: HttpExchange) => handle(ex))
      http.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
        if (cfg.httpThreads > 0) cfg.httpThreads
        else math.min(32, math.max(4, 4 * Runtime.getRuntime.availableProcessors()))))
      http.start()
    }
    isListening = true
    sealerThread = new Thread(() => sealerLoop(), s"otlp-sealer-${cfg.uri.canonical}")
    sealerThread.setDaemon(true)
    sealerThread.start()
  }

  /** Stop listening, drain with up to 3 final seals, report dropped rows. */
  def stop(): Long = {
    stopping.set(true)
    isListening = false
    if (http != null) http.stop(0)
    if (grpc != null) grpc.stop()
    // the sealer starts no cycle once it has seen `stopping`; then wait for
    // the cycles it already swapped out. Checking the buffers first would
    // miss their rows, and the caller's session stop would cancel their
    // writes, with the rows neither sealed nor counted as dropped.
    sealMonitor.synchronized { sealMonitor.notifyAll() }
    if (sealerThread != null) sealerThread.join()
    awaitInflight()
    var attempts = 0
    while (attempts < 3 && bufferedRows > 0) {
      sealOnce("stop")
      // a failed concurrent cycle may restore rows after our check; wait
      // for quiescence so the drop count below is accurate
      awaitInflight()
      attempts += 1
    }
    // close every streaming-session decoder (frees Arrow buffers)
    val it = otapSessions.values().iterator()
    while (it.hasNext) {
      val s = it.next()
      s.lock.lock()
      try { s.closed = true; try s.decoder.close() catch { case _: Exception => () } }
      finally s.lock.unlock()
    }
    otapSessions.clear()
    bufferedRows
  }

  /** Synchronous seal-now; returns rows sealed by this call's cycle. Also
    * waits for every cycle already in flight, so rows accepted before the
    * flush call are durable when it returns — and surfaces a concurrent
    * in-flight cycle's failure (its rows were restored to the buffers, so
    * returning success would falsely promise durability for them). */
  def flush(): (Long, String) = {
    val cycle = startSealCycle("flush")
    val inflightErr = awaitInflight()
    cycle.latch.await()
    val err = if (cycle.error.get() != null) cycle.error.get() else inflightErr
    (cycle.rowsSealed.get(), err)
  }

  // ---- telemetry snapshots -------------------------------------------------

  def bufferedRows: Long =
    buffers.valuesIterator.map(b => b.lock.synchronized(b.rows.size.toLong)).sum
  def bufferedBytes: Long =
    buffers.valuesIterator.map(b => b.lock.synchronized(b.admittedBytes)).sum
  def bufferedWireBytes: Long =
    buffers.valuesIterator.map(b => b.lock.synchronized(b.wireBytes)).sum
  def admittedBytes: Long = reservedBytes.get()
  /** resident-heap / wire admission ratio — how much the decoded-size
    * secondary bound is inflating reservations (1.0 = wire binds). */
  def admittedInflationRatio: Option[Double] = {
    val wire = admittedWireBytesTotal.get()
    if (wire <= 0) None else Some(admittedBytesTotal.get().toDouble / wire)
  }
  def retentionDeletedFilesTotal: Long = retentionDeletedTotal.get()
  def oldestBufferedAgeMs: Option[Long] = {
    val now = System.currentTimeMillis()
    val ages = buffers.valuesIterator
      .map(b => b.lock.synchronized(b.firstUnsealedAtMs))
      .filter(_ >= 0).toSeq
    if (ages.isEmpty) None else Some(now - ages.min)
  }
  def sealHistory: Seq[SealEvent] =
    sealEvents.synchronized {
      import scala.collection.JavaConverters._
      sealEvents.iterator().asScala.toSeq
    }
  def promotedColumnsTotal: Int =
    cfg.promoteResourceAttributes.size + cfg.promoteScopeAttributes.size

  // ---- HTTP ---------------------------------------------------------------

  private def handle(ex: HttpExchange): Unit = {
    totalRequests.incrementAndGet()
    activeRequests.incrementAndGet()
    try route(ex)
    catch {
      case e: Exception =>
        lastError = e.getMessage
        respond(ex, 500, s"""{"error":"${esc(e.getMessage)}"}""")
    } finally {
      activeRequests.decrementAndGet()
      ex.close()
    }
  }

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    (ex.getRequestMethod, path) match {
      case ("GET", "/healthz") => respond(ex, 200, """{"status":"ok"}""")
      case ("GET", "/readyz") =>
        if (sealLastError == null) respond(ex, 200, """{"status":"ready"}""")
        else respond(ex, 503, s"""{"status":"degraded","error":"${esc(sealLastError)}"}""")
      case ("POST", "/v1/logs")    => ingest(ex, "logs")
      case ("POST", "/v1/traces")  => ingest(ex, "traces")
      case ("POST", "/v1/metrics") => ingest(ex, "metrics")
      case _ => respond(ex, 404, """{"error":"not found"}""")
    }
  }

  private def authorized(ex: HttpExchange): Boolean = {
    val h = ex.getRequestHeaders
    authorizedToken(Option(h.getFirst("Authorization")),
      Option(h.getFirst("x-api-key")))
  }

  /** Transport-agnostic auth: `authorization` carries `Bearer <token>` on
    * both HTTP and gRPC (gRPC metadata — reference `CheckGrpcAuth`,
    * `otlp_server_grpc.cpp:49-53`); x-api-key is HTTP-only, so the gRPC
    * caller passes None. */
  private[streaming] def authorizedToken(authorization: Option[String],
                                         apiKey: Option[String]): Boolean = {
    if (!cfg.authEnabled) return true
    val bearer = authorization
      .filter(_.startsWith("Bearer ")).map(_.substring(7))
    def eq(a: String): Boolean = MessageDigest.isEqual(
      a.getBytes(StandardCharsets.UTF_8), cfg.token.getBytes(StandardCharsets.UTF_8))
    bearer.exists(eq) || apiKey.exists(eq)
  }

  private def ingest(ex: HttpExchange, family: String): Unit = {
    if (!authorized(ex)) { respond(ex, 401, """{"error":"unauthorized"}"""); return }

    val headers = ex.getRequestHeaders
    val contentType = Option(headers.getFirst("Content-Type")).getOrElse("")
      .split(";").head.trim.toLowerCase
    val encoding = Option(headers.getFirst("Content-Encoding"))
      .getOrElse("identity").trim.toLowerCase

    val fmt = contentType match {
      case "application/json" | "application/x-ndjson" => "json"
      case "application/x-protobuf"                    => "protobuf"
      case _ => respond(ex, 415,
        s"""{"error":"unsupported content type: $contentType"}"""); return
    }
    if (!Seq("identity", "gzip", "deflate").contains(encoding)) {
      respond(ex, 415, s"""{"error":"unsupported content encoding: $encoding"}""")
      return
    }

    readCapped(ex.getRequestBody, cfg.maxBodyBytes) match {
      case None =>
        respond(ex, 413, """{"error":"request body too large"}""")
      case Some(rawBytes) => ingestBody(family, fmt, rawBytes, encoding) match {
        case IngestOutcome.Overloaded =>
          respond(ex, 503, """{"error":"ingest buffer over capacity"}""")
        case IngestOutcome.BodyTooLarge =>
          respond(ex, 413, """{"error":"decompressed body too large"}""")
        case IngestOutcome.DecompressFailed(m) =>
          respond(ex, 400, s"""{"error":"decompress failed: ${esc(m)}"}""")
        case IngestOutcome.Malformed(m) =>
          respond(ex, 400, s"""{"error":"${esc(m)}"}""")
        case IngestOutcome.EncodeFailed(m) =>
          respond(ex, 400, s"""{"error":"row encode failed: ${esc(m)}"}""")
        case IngestOutcome.Buffered(rows, batches, skipped) =>
          val (sk, si) = (skipped.summaryPoints, skipped.invalidPoints)
          val skippedJson =
            if (sk + si > 0) s""","skipped":{"summary":$sk,"invalid":$si}"""
            else ""
          respond(ex, 202,
            s"""{"status":"buffered","rows":$rows,"batches":$batches$skippedJson}""")
      }
    }
  }

  /** One OTLP request body: an HTTP POST or a gRPC unary Export message
    * (the reference routes both through the same buffering helpers,
    * `otlp_server_grpc.cpp:16-46`). `batches` is the envelope count the
    * HTTP ack reports: non-blank NDJSON lines, 1 for protobuf. */
  private[streaming] def ingestBody(family: String, fmt: String,
                                    rawBytes: Array[Byte],
                                    encoding: String): IngestOutcome = {
    var batches = 1
    admit(rawBytes, encoding) { body =>
      if (fmt == "protobuf") OtlpProtoParser.parse(body, family, nsAsLong = false)
      else { batches = countBatches(body); OtlpJsonParser.parse(body) }
    } match {
      case b: IngestOutcome.Buffered => b.copy(batches = batches)
      case refused => refused
    }
  }

  /** The one admission pipeline every request runs, in the reference's
    * order (`IngestDecodedArrowBatch`, `otlp_server_grpc.cpp:15-44`):
    * reserve the wire size against max_buffered_bytes BEFORE anything
    * else, decompress under the 8× cap, `decode`, encode to UnsafeRow
    * images on the calling (transport worker) thread, commit to the
    * buffers. Only an [[OtlpParseException]] from `decode` is a malformed
    * body; anything else propagates. */
  private def admit(rawBytes: Array[Byte], encoding: String)
                   (decode: Array[Byte] => OtlpJsonParser.ParsedFile): IngestOutcome = {
    val reserve = math.max(rawBytes.length.toLong, 1024L)
    if (!tryReserve(reserve)) return IngestOutcome.Overloaded
    // exactly-once release: each refusal releases and returns, a throw
    // releases unless commitStaged already handed the reservation to the
    // buffers — a double release would drift reservedBytes negative and
    // silently inflate admission capacity
    def refuse(outcome: IngestOutcome.Refused): IngestOutcome = {
      release(reserve); outcome
    }
    var committed = false
    try {
      val body =
        try decompress(rawBytes, encoding)
        catch {
          case _: DecompressedTooLarge => return refuse(IngestOutcome.BodyTooLarge)
          case e: Exception => return refuse(IngestOutcome.DecompressFailed(e.getMessage))
        }
      val parsed =
        try decode(body)
        catch { case e: OtlpParseException => return refuse(IngestOutcome.Malformed(e.getMessage)) }
      // encode HERE, on the (many) worker threads, so the single sealer
      // thread ships ready bytes — this is where the seal pipeline's
      // per-row conversion cost is paid, 32-wide
      val encoded =
        try Signals.map(s => s -> {
          val bin = RowBin.forSignal(s)
          parsed.signal(s).map(bin.toBytes)
        }).filter(_._2.nonEmpty)
        catch { case e: Exception => return refuse(IngestOutcome.EncodeFailed(e.getMessage)) }
      val rows = commitStaged(encoded, reserve)
      committed = true
      skippedSummary.addAndGet(parsed.skipped.summaryPoints)
      skippedInvalid.addAndGet(parsed.skipped.invalidPoints)
      IngestOutcome.Buffered(rows, 1, parsed.skipped)
    } catch {
      case e: Throwable =>
        if (!committed) release(reserve)
        throw e
    }
  }

  // ---- OTAP streaming sessions ---------------------------------------------
  //
  // The reference's OTAP/Arrow bidirectional stream (serve.md "gRPC
  // transport"; src/otlp_server_grpc.cpp), on the gRPC wire only: the
  // server keeps one stateful decoder per stream (dictionary/schema reuse
  // across messages) and answers each BatchArrowRecords with a BatchStatus
  // — 0 OK, 3 INVALID_ARGUMENT (decode failure; poisons and closes the
  // stream), 8 RESOURCE_EXHAUSTED (backpressure; stream stays open),
  // 13 INTERNAL (encode failure after decode; poisons). Unlike the
  // reference, admission is reserved BEFORE decode, so a backpressure nack
  // leaves the decoder untouched and the client can replay the same
  // message with no dictionary double-apply.

  private final class OtapSession {
    val decoder = new graft.otlp.OtapStreamDecoder(nsAsLong = false)
    // an explicit lock (not a monitor) so the idle sweep can tryLock and
    // skip busy sessions instead of blocking the sealer thread behind an
    // in-flight decode+commit
    val lock = new java.util.concurrent.locks.ReentrantLock()
    var poisoned = false
    var closed = false // set by the sweep under the lock; holders revalidate
    @volatile var lastUsedMs = System.currentTimeMillis()
  }
  private val otapSessions =
    new java.util.concurrent.ConcurrentHashMap[String, OtapSession]()
  private val OtapSessionCap = 256
  private val OtapSessionIdleMs = 5L * 60 * 1000

  def otapStreamsOpen: Int = otapSessions.size()

  /** BatchArrowRecords.batch_id (field 1 varint) for the ack; -1 unknown
    * (absent, or the bytes before it do not parse). */
  private def otapBatchId(body: Array[Byte]): Long =
    try {
      val r = new ProtoReader(body)
      while (r.hasMore) r.readTag() match {
        case (1, 0) => return r.readVarint()
        case (_, w) => r.skip(w)
      }
      -1L
    } catch { case _: OtlpParseException => -1L }

  /** batch_id from a possibly-compressed body WITHOUT materializing it:
    * decompress at most 128 bytes (BatchArrowRecords.batch_id is field 1,
    * written first by standard serializers) and scan those. -1 unknown. */
  private def peekBatchId(rawBytes: Array[Byte], encoding: String): Long =
    if (encoding == "identity") otapBatchId(rawBytes)
    else try {
      val in = inflate(rawBytes, encoding)
      try otapBatchId(in.readNBytes(128)) finally in.close()
    } catch { case _: Exception => -1L }

  private def poisonSession(sess: OtapSession): Unit = {
    sess.poisoned = true
    try sess.decoder.close() catch { case _: Exception => () }
  }

  /** One OTAP streaming-session message (the gRPC `Arrow*Service` stream;
    * sid = connection+stream id): one stateful decoder per stream id, one
    * message at a time per stream, admitted through [[admit]]. A decode
    * failure nacks with INVALID_ARGUMENT and poisons the stream;
    * backpressure nacks with RESOURCE_EXHAUSTED and leaves it open. */
  private[streaming] def otapMessage(sid: String, rawBytes: Array[Byte],
                                     encoding: String): OtapOutcome = {
    // acquire a live session: the idle sweep may close one between lookup
    // and lock, so revalidate `closed` under the lock and retry
    var sess: OtapSession = null
    var acquired = false
    while (!acquired) {
      if (stopping.get()) return OtapOutcome.Stopping
      val found = otapSessions.get(sid)
      val candidate =
        if (found != null) found
        else if (otapSessions.size() >= OtapSessionCap) {
          return OtapOutcome.TooManyStreams
        } else otapSessions.computeIfAbsent(sid, _ => new OtapSession)
      candidate.lock.lock()
      if (candidate.closed) {
        candidate.lock.unlock()
        otapSessions.remove(sid, candidate)
      } else { sess = candidate; acquired = true }
    }
    // one message at a time per stream: decoder state is strictly ordered
    try {
      // stop() may have landed between the stopping check and our create:
      // a session resurrected after the shutdown sweep would leak its
      // decoder and buffer rows no sealer will ever write — tear it down
      if (stopping.get()) {
        sess.closed = true
        otapSessions.remove(sid, sess)
        try sess.decoder.close() catch { case _: Exception => () }
        return OtapOutcome.Stopping
      }
      // poisoned check FIRST, without refreshing lastUsedMs — retries on a
      // dead stream id must not keep it alive past the idle sweep
      if (sess.poisoned) return OtapOutcome.AlreadyClosed
      sess.lastUsedMs = System.currentTimeMillis()
      var batchId = -1L
      admit(rawBytes, encoding) { body =>
        batchId = otapBatchId(body)
        sess.decoder.decode(body)
      } match {
        case IngestOutcome.Buffered(rows, _, _) => OtapOutcome.Ok(batchId, rows)
        // a nacked message never touched the decoder, so a retry replays
        // it cleanly; the nack still carries the real batch_id from a
        // bounded peek that does not materialize the body
        case IngestOutcome.Overloaded =>
          OtapOutcome.Nack(8, peekBatchId(rawBytes, encoding),
            "ingest buffer over capacity", streamDead = false)
        // decoder state may be partially advanced and cannot be trusted
        // for later messages
        case IngestOutcome.Malformed(m) =>
          poisonSession(sess)
          OtapOutcome.Nack(3, batchId, m, streamDead = true)
        // the decoder consumed the message; a replay would double-apply
        // dictionary deltas — poison, like the reference
        case IngestOutcome.EncodeFailed(m) =>
          poisonSession(sess)
          OtapOutcome.Nack(13, batchId, s"row encode failed: $m", streamDead = true)
        case refused: IngestOutcome.Refused => OtapOutcome.Refused(refused)
      }
    } finally sess.lock.unlock()
  }

  /** Explicitly close an OTAP session (gRPC stream teardown: the client
    * half-closed, the connection dropped, or an earlier nack poisoned the
    * stream). Frees the decoder's Arrow buffers without waiting for the
    * idle sweep. */
  private[streaming] def closeOtapSession(sid: String): Unit = {
    val sess = otapSessions.get(sid)
    if (sess != null) {
      sess.lock.lock()
      try {
        sess.closed = true
        otapSessions.remove(sid, sess)
        try sess.decoder.close() catch { case _: Exception => () }
      } finally sess.lock.unlock()
    }
  }

  /** Close idle streams (sealer thread). tryLock skips sessions with an
    * in-flight message so the sweep never stalls the seal-trigger loop
    * behind a long decode; skipped sessions are re-checked next pass. */
  private def sweepOtapSessions(): Unit = {
    val now = System.currentTimeMillis()
    val it = otapSessions.entrySet().iterator()
    while (it.hasNext) {
      val s = it.next().getValue
      if (now - s.lastUsedMs > OtapSessionIdleMs && s.lock.tryLock()) {
        try {
          if (now - s.lastUsedMs > OtapSessionIdleMs) {
            s.closed = true
            it.remove()
            try s.decoder.close() catch { case _: Exception => () }
          }
        } finally s.lock.unlock()
      }
    }
  }

  /** Copy `in` into memory; None once more than `cap` bytes arrive. */
  private def readCapped(in: InputStream, cap: Long): Option[Array[Byte]] = {
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      if (out.size() > cap) return None
      n = in.read(buf)
    }
    Some(out.toByteArray)
  }

  /** The decompressing stream over a gzip or deflate body. */
  private def inflate(body: Array[Byte], encoding: String): InputStream = {
    val in = new ByteArrayInputStream(body)
    if (encoding == "gzip") new GZIPInputStream(in) else new InflaterInputStream(in)
  }

  private final class DecompressedTooLarge extends RuntimeException

  /** Decompress with a hard cap (8× the body cap): max_body_bytes limits
    * only the wire size, so an unbounded inflate would be a decompression
    * bomb against the driver. */
  private def decompress(body: Array[Byte], encoding: String): Array[Byte] =
    if (encoding == "identity") body
    else {
      val in = inflate(body, encoding)
      try readCapped(in, 8L * cfg.maxBodyBytes).getOrElse(throw new DecompressedTooLarge)
      finally in.close()
    }

  /** NDJSON envelope count for the response JSON: non-blank lines, counted
    * at the byte level — decoding the (≤16 MiB) body to a String on the hot
    * ingest path just to split it was measurable overhead. */
  private def countBatches(body: Array[Byte]): Int = {
    var count = 0
    var lineHasInk = false
    var i = 0
    while (i < body.length) {
      val b = body(i)
      if (b == '\n') { if (lineHasInk) count += 1; lineHasInk = false }
      else if (b != ' ' && b != '\t' && b != '\r') lineHasInk = true
      i += 1
    }
    if (lineHasInk) count += 1
    math.max(1, count)
  }

  // ---- admission + buffers -------------------------------------------------

  private def tryReserve(n: Long): Boolean = {
    var cur = reservedBytes.get()
    while (cur + n <= cfg.maxBufferedBytes) {
      if (reservedBytes.compareAndSet(cur, cur + n)) return true
      cur = reservedBytes.get()
    }
    false
  }
  private def release(n: Long): Unit = reservedBytes.addAndGet(-n)

  /** Move all staged signals into the live buffers; admitted bytes split by
    * rows with the remainder on the last non-empty signal. Returns rows. */
  private def commitStaged(nonEmpty: Seq[(String, IndexedSeq[Array[Byte]])],
                           wireBytes: Long): Long = {
    val totalRows = nonEmpty.map(_._2.size.toLong).sum
    if (totalRows == 0) { release(wireBytes); return 0 }
    // secondary admission bound: a gzip body can expand ~8x on decode and
    // the UnsafeRow heap images differ from the wire size again, so account
    // the LARGER of wire bytes and resident row-image bytes (+16/row array
    // overhead). The top-up is reserved unconditionally — this request
    // already paid the decode, so admit it and let the inflated reservation
    // 503 the NEXT request; without it a high-ratio stream could hold ~8x
    // max_buffered_bytes of heap before the cap ever tripped. The top-up
    // binds ADMISSION only: the seal size trigger fires on wire bytes
    // (below), matching the reference's admitted-request-bytes trigger —
    // an inflated trigger would fire seals at a fraction of the configured
    // target and multiply per-seal Spark job overhead.
    val heapBytes = nonEmpty.iterator
      .map(_._2.iterator.map(_.length.toLong + 16L).sum).sum
    val bytes = math.max(wireBytes, heapBytes)
    if (bytes > wireBytes) reservedBytes.addAndGet(bytes - wireBytes)
    admittedBytesTotal.addAndGet(bytes)
    admittedWireBytesTotal.addAndGet(wireBytes)
    val now = System.currentTimeMillis()
    var remaining = bytes
    var remainingWire = wireBytes
    nonEmpty.zipWithIndex.foreach { case ((signal, rows), i) =>
      val last = i == nonEmpty.size - 1
      val share = if (last) remaining else bytes * rows.size / totalRows
      val wireShare = if (last) remainingWire else wireBytes * rows.size / totalRows
      remaining -= share
      remainingWire -= wireShare
      val b = buffers(signal)
      b.lock.synchronized {
        b.rows ++= rows
        b.admittedBytes += share
        b.wireBytes += wireShare
        if (b.firstUnsealedAtMs < 0) b.firstUnsealedAtMs = now
      }
    }
    totalRowsBuffered.addAndGet(totalRows)
    maybeRequestSeal()
    totalRows
  }

  /** Size trigger fires on wire bytes (the configured target's semantics);
    * the admission-pressure clause covers high-inflation streams — a ~8x
    * gzip stream can exhaust the heap-based admission budget at a fraction
    * of the wire target, and without this clause nothing would drain until
    * the age trigger (a raised seal_max_age_ms would mean a full ingest
    * stall at 503). */
  private def sealPressure: Boolean =
    bufferedWireBytes >= cfg.sealTargetBytes ||
      bufferedBytes >= cfg.maxBufferedBytes / 2

  private def maybeRequestSeal(): Unit = {
    if (sealPressure)
      sealMonitor.synchronized { sealRequested = true; sealMonitor.notifyAll() }
  }

  // ---- sealing ------------------------------------------------------------

  private def sealerLoop(): Unit = {
    while (!stopping.get()) {
      val due = sealMonitor.synchronized {
        if (!sealRequested && !flushRequested && !stopping.get()) sealMonitor.wait(1000)
        val d = sealRequested || flushRequested
        sealRequested = false; flushRequested = false
        d
      }
      val ageDue = oldestBufferedAgeMs.exists(_ >= cfg.sealMaxAgeMs)
      // a size request can go stale when a concurrent cycle drained the
      // buffers between the signal and this wakeup — a near-empty seal
      // still pays full Spark job overhead, so require a quarter-target
      // floor unless the age trigger or admission pressure binds
      val worthSealing = ageDue ||
        bufferedWireBytes >= cfg.sealTargetBytes / 4 ||
        bufferedBytes >= cfg.maxBufferedBytes / 2
      if (!stopping.get() && (due || ageDue) && worthSealing)
        // async: the cycle's writes run on their own threads; the sealer
        // immediately returns to watching triggers, so the NEXT seal can
        // swap and start while this one is still committing. The sealer
        // thread must survive any single seal failure — an uncaught throw
        // here would stop all future seals and wedge ingest.
        try startSealCycle(if (ageDue && !due) "age" else "size")
        catch {
          case e: Throwable =>
            sealFailuresTotal.incrementAndGet()
            sealLastError = s"seal cycle failed: ${e.getMessage}"
        }
      sweepOtapSessions()
    }
  }

  private val writerMutex = new Object
  private val maintenanceMutex = new Object
  /** Bound on overlapping seal cycles: cycle N's distributed write runs
    * while cycle N+1 swaps and starts its own, hiding job-launch and
    * output-commit latency between seals (the measured durable-throughput
    * bottleneck was the serial write tail). Two in flight bounds memory at
    * ~2× seal_target_bytes of row images. */
  private val sealSlots = new java.util.concurrent.Semaphore(2)
  private val inflight = new java.util.concurrent.ConcurrentLinkedQueue[SealCycle]()

  private final class SealCycle(val trigger: String) {
    val latch = new java.util.concurrent.CountDownLatch(1)
    val error = new java.util.concurrent.atomic.AtomicReference[String](null)
    val rowsSealed = new AtomicLong(0)
    val bytesSealed = new AtomicLong(0)
    var toSeal: Seq[SealBatch] = Nil
    var t0 = 0L
    var tAppend = 0L
  }

  /** Block until every cycle in flight at call time has finalized; returns
    * the first error observed among them (null = all succeeded). */
  private def awaitInflight(): String = {
    var err: String = null
    val it = inflight.iterator()
    while (it.hasNext) {
      val c = it.next()
      c.latch.await()
      if (err == null) err = c.error.get()
    }
    err
  }

  /** Synchronous seal (flush/stop): waits for THIS cycle and returns its
    * error (null on success). */
  private def sealOnce(trigger: String): String = {
    val c = startSealCycle(trigger)
    c.latch.await()
    c.error.get()
  }

  /** Swap all buffers into a new seal cycle and start one write thread per
    * non-empty signal; finalization (events, counters, views, maintenance)
    * runs on the last writer thread to finish. */
  private def startSealCycle(trigger: String): SealCycle = {
    sealSlots.acquire()
    val cycle = new SealCycle(trigger)
    // once any writer thread has started it owns finalization — the catch
    // below must not finalize a cycle twice (an over-released sealSlots
    // permit would permanently break the 2-cycle memory bound)
    var ownedByWriters = false
    try {
      // swaps are serialized so cycles carry disjoint, ordered row ranges
      writerMutex.synchronized {
        cycle.t0 = System.currentTimeMillis()
        val fresh = Signals.map(_ => new ArrayBuffer[Array[Byte]]()).toArray
        val batches: Seq[SealBatch] =
          Signals.zipWithIndex.map { case (s, i) =>
            val b = buffers(s)
            b.lock.synchronized {
              val batch = SealBatch(s, b.rows.toIndexedSeq, b.admittedBytes,
                b.wireBytes, b.firstUnsealedAtMs,
                sealId = java.util.UUID.randomUUID().toString,
                priorSegments = b.priorSegments)
              b.rows = fresh(i)
              b.admittedBytes = 0L
              b.wireBytes = 0L
              b.firstUnsealedAtMs = -1L
              b.priorSegments = Nil
              batch
            }
          }
        cycle.toSeal = batches.filter(_.rows.nonEmpty)
        cycle.tAppend = System.currentTimeMillis()
        inflight.add(cycle)
      }
      if (cycle.toSeal.isEmpty) finalizeCycle(cycle)
      else {
        val remaining =
          new java.util.concurrent.atomic.AtomicInteger(cycle.toSeal.size)
        ownedByWriters = true
        var started = 0
        try {
          cycle.toSeal.foreach { batch =>
            val t = new Thread(() => runSealWrite(cycle, batch, remaining),
              s"otlp-seal-write-${batch.signal}")
            t.setDaemon(true)
            t.start()
            started += 1
          }
        } catch {
          // Thread.start failed partway (e.g. OOM): restore the batches
          // whose thread never ran and remove their finalization slots;
          // the already-started threads (if any) finish and finalize.
          case e: Throwable =>
            cycle.error.compareAndSet(null, s"seal cycle failed: ${e.getMessage}")
            val unstarted = cycle.toSeal.drop(started)
            unstarted.foreach(restoreBatch)
            if (remaining.addAndGet(-unstarted.size) == 0) finalizeCycle(cycle)
        }
      }
    } catch {
      case e: Throwable if !ownedByWriters =>
        cycle.error.compareAndSet(null, s"seal cycle failed: ${e.getMessage}")
        finalizeCycle(cycle)
    }
    cycle
  }

  /** One writer thread's work: trim rows a prior failed attempt already
    * committed (catalog idempotence), write, account, and restore on any
    * failure. The finally ALWAYS finalizes when this is the last writer. */
  private def runSealWrite(cycle: SealCycle, batch: SealBatch,
                           remaining: java.util.concurrent.atomic.AtomicInteger): Unit = {
    var b = batch
    var settled = false
    try {
      if (idempotentTarget && b.priorSegments.nonEmpty) {
        // a prior attempt on these head rows failed AFTER its commit may
        // have landed — ask the store (catalog _seal_id column / snapshot
        // seal-id record) and drop proven rows
        val trimmed = writer.dropCommittedPrefix(b)
        val droppedRows = b.rows.size - trimmed.rows.size
        if (droppedRows > 0) {
          val droppedBytes = b.admittedBytes - trimmed.admittedBytes
          cycle.rowsSealed.addAndGet(droppedRows)
          cycle.bytesSealed.addAndGet(droppedBytes)
          release(droppedBytes)
          committedRowsTotal.addAndGet(droppedRows)
          // these head rows DID commit (during the failed earlier attempt,
          // which never retains) — retain them here or the stream loses them
          retainForStreams(b.signal, b.rows.take(droppedRows))
        }
        b = trimmed
      }
      if (b.rows.isEmpty) settled = true
      else writeOne(b) match {
        case None =>
          settled = true
          cycle.rowsSealed.addAndGet(b.rows.size)
          cycle.bytesSealed.addAndGet(b.admittedBytes)
          release(b.admittedBytes)
          committedRowsTotal.addAndGet(b.rows.size)
          retainForStreams(b.signal, b.rows)
        case Some(msg) =>
          cycle.error.compareAndSet(null, msg)
          restoreBatch(b)
          settled = true
      }
    } catch {
      // writeOne catches Throwable itself; this guards the trim/accounting
      // above so rows are never silently lost and the cycle ALWAYS finalizes
      case e: Throwable =>
        cycle.error.compareAndSet(null, s"${b.signal}: ${e.getMessage}")
        if (!settled) try restoreBatch(b) catch { case _: Throwable => () }
    } finally {
      if (remaining.decrementAndGet() == 0) finalizeCycle(cycle)
    }
  }

  /** Restore a failed batch AT THE HEAD of the live buffer: order, bytes,
    * and true row age preserved for retry (at-least-once; catalog mode
    * records the attempt id so the retry can skip rows that DID commit). */
  private def restoreBatch(batch: SealBatch): Unit = {
    val b = buffers(batch.signal)
    b.lock.synchronized {
      b.rows.prependAll(batch.rows)
      b.admittedBytes += batch.admittedBytes
      b.wireBytes += batch.wireBytes
      if (idempotentTarget)
        b.priorSegments = (batch.sealId, batch.rows.size) :: b.priorSegments
      b.firstUnsealedAtMs =
        if (b.firstUnsealedAtMs < 0) batch.firstUnsealedAtMs
        else math.min(b.firstUnsealedAtMs, batch.firstUnsealedAtMs)
    }
  }

  private def finalizeCycle(cycle: SealCycle): Unit = {
    try {
      val tCommit = System.currentTimeMillis()
      val error = cycle.error.get()
      val rowsSealed = cycle.rowsSealed.get()
      maintenanceMutex.synchronized { updateIngressEwma() }
      sealsTotal.incrementAndGet()
      if (error != null) { sealFailuresTotal.incrementAndGet(); sealLastError = error }
      else sealLastError = null
      lastSealAtMs = tCommit
      val ev = SealEvent(cfg.uri.canonical, sealSeq.incrementAndGet(),
        success = error == null, error = error, rows = rowsSealed,
        bytes = cycle.bytesSealed.get(), appendMs = cycle.tAppend - cycle.t0,
        commitMs = tCommit - cycle.tAppend, trigger = cycle.trigger,
        signalsSealed = cycle.toSeal.size,
        sealedRowsTotal = committedRowsTotal.get(), sealsTotal = sealsTotal.get(),
        sealFailuresTotal = sealFailuresTotal.get(), atMs = tCommit)
      sealEvents.synchronized {
        sealEvents.addLast(ev)
        while (sealEvents.size() > SealHistoryCap) sealEvents.removeFirst()
      }
      // maintenance runs BEFORE the latch drops so a synchronous flush
      // observes completed compaction on return. The inspection views are
      // SQL-text temp views that re-resolve their file listing per query
      // (reference re-globs per query, otlp_server.cpp:1047-1056), so they
      // are created ONCE when a signal's data first exists — no O(files)
      // listing on the seal critical path.
      if (error == null && rowsSealed > 0) {
        try maintenanceMutex.synchronized { maybeMaintain() }
        catch { case e: Throwable =>
          maintenanceFailures.incrementAndGet()
          maintenanceLastError = e.getMessage
        }
        if (cfg.target != "catalog") {
          try writer.createInspectionViews()
          catch { case _: Throwable => () }
        }
      }
    } finally {
      // the cycle MUST release its slot and latch whatever happens above —
      // a leaked slot halves seal concurrency forever; a second leak stops
      // sealing entirely and wedges flush()/stop() on latch.await()
      inflight.remove(cycle)
      sealSlots.release()
      cycle.latch.countDown()
    }
  }

  /** One Spark-job write of a sealed batch; returns the error (None = ok).
    * Catches Throwable, not just Exception: a write thread dying from an
    * Error (OOM during a large seal) must still produce a failure outcome,
    * or the batch would be neither committed nor restored and its admission
    * reservation would leak. */
  private def writeOne(batch: SealBatch): Option[String] =
    try { writer.write(batch); None }
    catch { case e: Throwable => Some(s"${batch.signal}: ${e.getMessage}") }

  // ---- maintenance gates ---------------------------------------------------

  private var sealsSinceMaintenance = 0L
  val maintenanceDeferrals = new AtomicLong(0)

  /** Monotone admitted-byte counters (heap-adjusted and raw wire) + EWMA
    * sample state (sealer thread). */
  private val admittedBytesTotal = new AtomicLong(0)
  private val admittedWireBytesTotal = new AtomicLong(0)
  private val retentionDeletedTotal = new AtomicLong(0)
  @volatile private[streaming] var ingressEwmaBytesPerSec: Double = 0.0
  private var lastIngressSampleAtMs = -1L
  private var admittedBytesAtLastSample = 0L

  /** Refresh the ingress EWMA once per seal cycle (α = 0.5, mirroring the
    * reference's maintenance-admission estimator). */
  private def updateIngressEwma(): Unit = {
    val now = System.currentTimeMillis()
    val total = admittedBytesTotal.get()
    if (lastIngressSampleAtMs < 0) {
      // first call establishes the sample origin; no rate yet
      lastIngressSampleAtMs = now
      admittedBytesAtLastSample = total
      return
    }
    if (now == lastIngressSampleAtMs) return
    // same-millisecond seals fall through to the next sample (counters
    // untouched) so their bytes are not dropped from the measured rate
    val rate = (total - admittedBytesAtLastSample) * 1000.0 /
      (now - lastIngressSampleAtMs)
    // seed with the first observed rate (not a half-weighted blend from 0)
    ingressEwmaBytesPerSec =
      if (ingressEwmaBytesPerSec == 0.0) rate
      else 0.5 * ingressEwmaBytesPerSec + 0.5 * rate
    lastIngressSampleAtMs = now
    admittedBytesAtLastSample = total
  }

  /** Ingress-headroom gate: run maintenance only when the projected next
    * 60 s of ingress fits in HALF the remaining admission budget — heavy
    * sustained load defers compaction so it never steals ingest headroom
    * (reference otlp_server.cpp:54-58,1296-1306). */
  private[streaming] def ingressGateOpen: Boolean = {
    val headroom = math.max(0L, cfg.maxBufferedBytes - reservedBytes.get())
    ingressEwmaBytesPerSec * 60.0 <= 0.5 * headroom
  }

  /** Post-seal maintenance, gated by cadence like the reference's
    * post-seal CHECKPOINT (≥N row-seals AND ≥interval since last run),
    * plus the ingress-headroom gate above. Retention expiry runs FIRST
    * (files about to age out should not be compacted), then small-file
    * compaction. Catches Throwable: an Error inside a maintenance Spark
    * job must not escape into finalizeCycle. */
  private[streaming] def maybeMaintain(): Unit = {
    sealsSinceMaintenance += 1
    val now = System.currentTimeMillis()
    val due = sealsSinceMaintenance >= cfg.maintenanceMinSeals &&
      (lastMaintenanceAtMs < 0 || now - lastMaintenanceAtMs >= cfg.maintenanceMinIntervalMs)
    if (!due) return
    if (!ingressGateOpen) {
      // deferral, not reset: the cadence stays due and retries next seal
      maintenanceDeferrals.incrementAndGet()
      return
    }
    sealsSinceMaintenance = 0
    try {
      Signals.foreach { s =>
        retentionDeletedTotal.addAndGet(writer.expire(s))
        writer.compact(s)
      }
      maintenanceRuns.incrementAndGet()
      maintenanceLastError = null
    } catch {
      case e: Throwable =>
        maintenanceFailures.incrementAndGet()
        maintenanceLastError = e.getMessage
    } finally lastMaintenanceAtMs = System.currentTimeMillis()
  }

  // ---- misc ---------------------------------------------------------------

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }

  private def esc(s: String): String =
    if (s == null) "" else s.replace("\\", "\\\\").replace("\"", "\\\"")
}
