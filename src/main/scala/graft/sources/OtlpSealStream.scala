package graft.sources

import graft.otlp.OtlpSchemas
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.readStream.format("otlp-seals").option("uri", ...)` — a true
  * Structured-Streaming `MicroBatchStream` over a running in-process ingest
  * server: **offsets are seal sequence numbers**, so a streaming query gets
  * checkpointed exactly-once recovery over exactly the unit the server
  * already group-commits. This is the Spark-native closure of the
  * reference's restore-unsealed contract (SURVEY §2.3): the reference
  * replays unsealed rows after a failure inside the server; here the
  * CONSUMER replays uncommitted seal ranges from its own checkpoint, and
  * the server retains committed seals until the query commits past them.
  *
  * Options:
  *   - `uri` (required): the serve URI the server was started with
  *     (`OtlpServe.otlpServe(spark, uri, ...)`); the server must have
  *     `stream_retain_seals` > 0.
  *   - `signal` (default "logs"): which per-signal seal stream to follow.
  *
  * Semantics:
  *   - Each micro-batch reads the retained seals in `(start, end]`; rows
  *     are the server's ingest-time UnsafeRow images (RowBin), shipped
  *     inside `InputPartition`s and emitted with zero conversion — the
  *     same zero-copy partitions and reader the catalog seal's
  *     `SealRowTable` scans.
  *   - `commit(end)` evicts seals `<= end`; until then a kill + restart of
  *     the query replans the same range from the checkpoint WAL — no loss,
  *     no dups (TelemetryStreamsSpec e2e).
  *   - The retention cap (`stream_retain_seals`) bounds driver memory; a
  *     consumer that falls behind it gets a loud gap error, never silent
  *     skips. One streaming query per (server, signal): commits share the
  *     retention domain.
  *
  * Scale: seal row images already exist on the driver (they are the ingest
  * buffer); retention adds references, not copies. At 100 TB/day one runs
  * many ingest endpoints, each with its own stream — the consumer side
  * shards exactly like the server side. */
class OtlpSealStream extends TableProvider with DataSourceRegister {
  override def shortName(): String = "otlp-seals"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OtlpSchemas.forSignal(options.getOrDefault("signal", "logs"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new OtlpSealStreamTable(schema, new CaseInsensitiveStringMap(properties))
}

class OtlpSealStreamTable(schema0: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val signal = options.getOrDefault("signal", "logs")
  override def name(): String = s"otlp_seals(${options.get("uri")}/$signal)"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = schema0
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new SealMicroBatchStream(options.get("uri"), signal, schema0)
    }
}

/** Offset = the highest seal sequence number included. */
case class SealSeqOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

class SealMicroBatchStream(uri: String, signal: String, schema: StructType)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def server: graft.streaming.OtlpServer =
    graft.streaming.OtlpServe.get(uri).getOrElse(
      throw new IllegalStateException(
        s"no running otlp server at '$uri' — start it with OtlpServe.otlpServe " +
          "before the streaming query"))

  { // fail at stream construction, not first batch, on a misconfigured server
    val s = server
    if (s.cfg.streamRetainSeals <= 0)
      throw new IllegalStateException(
        "the server must be started with stream_retain_seals > 0 to serve " +
          "an otlp-seals stream")
  }

  // Trigger.AvailableNow: pin the target offset once, then report it as
  // latest until the query drains to it and stops
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(server.streamLatest(signal))

  override def initialOffset(): Offset =
    SealSeqOffset(server.streamFloor(signal))
  override def latestOffset(): Offset =
    SealSeqOffset(availableNowTarget.getOrElse(server.streamLatest(signal)))
  // SupportsAdmissionControl entry point (read limits don't apply — seals
  // are already the server's bounded unit of work)
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()
  override def deserializeOffset(json: String): Offset =
    SealSeqOffset(json.trim.toLong)
  override def reportLatestOffset(): Offset =
    SealSeqOffset(server.streamLatest(signal))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[SealSeqOffset].seq
    val to = end.asInstanceOf[SealSeqOffset].seq
    val numFields = schema.fields.length
    // one partition per retained seal: the seal is the write-side unit of
    // work and seals are bounded by seal_target_bytes — no re-chunking
    server.streamRange(signal, from, to)
      .map(rows => SealRowPartition(rows.toArray, numFields): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SealRowReaderFactory

  override def commit(end: Offset): Unit =
    server.streamCommit(signal, end.asInstanceOf[SealSeqOffset].seq)

  override def stop(): Unit = ()
}
