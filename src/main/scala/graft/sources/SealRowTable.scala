package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** In-memory DSv2 batch table over rows already encoded as UnsafeRow byte
  * images (graft.streaming.RowBin), chunked one chunk per partition.
  *
  * This is the seal pipeline's bridge from the driver-resident ingest
  * buffers into a distributed Spark write with ZERO per-row work on the
  * driver: `planInputPartitions` hands each task a chunk of byte arrays
  * (fast to serialize — no boxed objects), and the partition reader emits
  * each image as an `InternalRow` via `UnsafeRow.pointTo` — no conversion,
  * no copy. On a real cluster the chunks ride inside the InputPartition
  * exactly as any first-party in-memory source would.
  *
  * The rows are a field of the table: the seal writer scans a table value
  * it built for one batch (`graft.streaming.SealFrames.withBatch`), so
  * nothing is looked up by name and nothing outlives the batch's plan. */
class SealRowTable(schema0: StructType, chunks: Array[Array[Array[Byte]]])
    extends Table with SupportsRead {
  override def name(): String = "graft_seal"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new SealRowScan(schema0, chunks)
}

class SealRowScan(schema: StructType, chunks: Array[Array[Array[Byte]]])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = s"GraftSealRows(chunks=${chunks.length})"
  override def planInputPartitions(): Array[InputPartition] =
    chunks.map(c => SealRowPartition(c, schema.fields.length): InputPartition)
  override def createReaderFactory(): PartitionReaderFactory =
    new SealRowReaderFactory
}

/** One chunk of UnsafeRow images; also the unit of [[OtlpSealStream]]'s
  * micro-batches (one retained seal per partition). */
case class SealRowPartition(rows: Array[Array[Byte]], numFields: Int)
    extends InputPartition

class SealRowReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SealRowPartition]
    new PartitionReader[InternalRow] {
      private val row = new UnsafeRow(p.numFields)
      private var i = -1
      override def next(): Boolean = { i += 1; i < p.rows.length }
      override def get(): InternalRow = {
        val b = p.rows(i); row.pointTo(b, b.length); row
      }
      override def close(): Unit = ()
    }
  }
}
