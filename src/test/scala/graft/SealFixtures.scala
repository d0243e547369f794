package graft

import graft.otlp.OtlpSchemas
import graft.streaming.{SealBatch, SealFrames}
import org.apache.spark.sql.{GraftAccess, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seal batches of every OTLP signal, as the ingest path buffers them:
  * one UnsafeRow image per row under the signal's schema.
  *
  * Row `i` of a batch: its time walks from 23:00 UTC on 2024-03-01 across
  * midnight into 2024-03-02 (one seal, two day partitions); every 97th
  * time (from row 3) and every 13th service_name (from row 5) is null;
  * trace ids are unique; resource attributes carry `host.name` and scope
  * attributes `lib.tier` (absent from every 4th row) for promotion. */
object SealFixtures {

  private val baseMicros = 1709334000000000L // 2024-03-01T23:00:00Z

  def batch(spark: SparkSession, signal: String, n: Int): SealBatch =
    SealBatch(signal, rows(spark, signal, n), 0L, 0L, 0L, s"fixture-$signal", Nil)

  def rows(spark: SparkSession, signal: String, n: Int): IndexedSeq[Array[Byte]] = {
    val schema = OtlpSchemas.forSignal(signal)
    val ts = SealFrames.timeColumn(signal)
    val id = col("id")
    val stepMicros = 2L * 3600 * 1000000 / n // two hours across the batch
    val cols = schema.fields.toIndexedSeq.map { f =>
      val c = (f.name, f.dataType) match {
        case (`ts`, _) => when(id % 97 === 3, lit(null))
          .otherwise(timestamp_micros(lit(baseMicros) + id * stepMicros))
        case (_, TimestampType) => timestamp_micros(lit(baseMicros) + id)
        case ("service_name", _) => when(id % 13 === 5, lit(null))
          .otherwise(format_string("svc%d", id % 5))
        case ("trace_id", _) => md5(concat(lit("t"), id))
        case ("resource_attributes", _) =>
          format_string("{\"host.name\":\"h%d\",\"region\":\"r1\"}", id % 3)
        case ("scope_attributes", _) => when(id % 4 === 0, lit("{}"))
          .otherwise(format_string("{\"lib.tier\":\"t%d\"}", id % 2))
        case (_, StringType) => when(id % 7 === 1, lit(null))
          .otherwise(concat(lit(s"${f.name}-"), id))
        case (_, IntegerType) => id % 100
        case (_, LongType) => id
        case (_, DoubleType) => id * 0.5
        case (_, BooleanType) => id % 2 === 0
        case (_, ArrayType(_, _)) => array(id, id + 1)
        case (name, t) => throw new IllegalArgumentException(s"no fixture for $name: $t")
      }
      c.cast(f.dataType).as(f.name)
    }
    GraftAccess.collectInternal(spark.range(n).select(cols: _*)).toIndexedSeq
      .map(_.asInstanceOf[UnsafeRow].getBytes)
  }
}
