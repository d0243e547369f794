package graft.streaming

import graft.otlp.OtlpSchemas
import graft.sources.OtlpPartitionReader
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.types.StructType

/** Encodes parser rows (JVM values) into self-contained UnsafeRow byte
  * images at INGEST time, on the concurrent HTTP worker threads.
  *
  * Why: the seal path used to re-convert every buffered row on the single
  * sealer thread (driver-heap Array[Any] → external Row → Catalyst), and
  * `sparkContext.parallelize` Java-serialized the boxed rows into each task
  * — the measured durable-ingest bottleneck. An UnsafeRow image is built
  * once per row while requests are being handled 32-wide, and is ~2-4×
  * smaller on the heap than the boxed array it replaces. A parquet or
  * snapshot seal's writer reads the images in place (`UnsafeRow.pointTo`,
  * `graft.streaming.SealFrames.publishBatch`); the catalog seal's scan and
  * the `otlp-seals` stream emit them without any further conversion
  * (`graft.sources.SealRowTable`).
  *
  * UnsafeProjection instances are codegen'd and NOT thread-safe → one per
  * thread via ThreadLocal; the projection's output buffer is reused across
  * calls → `.copy()` before keeping the bytes. */
final class RowBin(schema: StructType) {
  private val arity = schema.fields.length
  private val types = schema.fields.map(_.dataType)
  private val proj = ThreadLocal.withInitial[UnsafeProjection](() =>
    UnsafeProjection.create(schema))

  def toBytes(row: Array[Any]): Array[Byte] = {
    val vals = new Array[Any](arity)
    var i = 0
    while (i < arity) {
      vals(i) = OtlpPartitionReader.toCatalyst(row(i), types(i))
      i += 1
    }
    proj.get()(new GenericInternalRow(vals)).copy().getBytes
  }
}

/** One shared RowBin per OTLP signal (schemas are fixed at class-load). */
object RowBin {
  val forSignal: Map[String, RowBin] =
    OtlpSchemas.Signals.map(s => s -> new RowBin(OtlpSchemas.forSignal(s))).toMap
}
