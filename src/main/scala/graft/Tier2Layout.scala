package graft

import graft.streaming.SealFrames

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameReader, GraftAccess, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Shared harness for MEASURING the tier-2 physical layout's read path —
  * one definition of the span generator, the seal write, and the
  * byte-counting read, used by both the correctness gate
  * (TierTwoReadSpec) and the scale probe (Tier2Probe) so the spec's
  * assertions and SCALE.md's numbers can never measure different things. */
private[graft] object Tier2Layout {

  /** Synthetic spans shaped like the sealed traces table: `services`
    * distinct services, unique 32-hex trace ids, timestamps walking
    * seconds from `baseMicros`. */
  def spans(spark: SparkSession, from: Long, n: Long, services: Int,
            baseMicros: Long = 1699920000000000L): DataFrame =
    spark.range(from, from + n).select(
      timestamp_micros(lit(baseMicros) + (col("id") % 86400L) * 1000000L)
        .as("start_time_unix_nano"),
      (col("id") % 1000 + 1).as("duration_time_unix_nano"),
      md5(concat(lit("t"), col("id"))).as("trace_id"),
      col("id").cast("string").as("span_id"),
      format_string("svc%02d", col("id") % services).as("service_name"))

  /** One seal of `df`'s collected rows through the production write path
    * (clustering + adaptive trace_id blooms — SealFrames.stageAndPublish),
    * as one slice: one file per day, the shape of a large seal's file. */
  def seal(spark: SparkSession, df: DataFrame, root: String): Unit =
    SealFrames.stageAndPublish(spark, df.schema,
      Seq(GraftAccess.collectInternal(df).toIndexedSeq),
      SealFrames.timeColumn("traces"), Nil, new Path(root))

  /** Bytes fetched from the FS while running `fn` (all reads are in-JVM
    * under local[*], so scheme-level FS statistics see every executor
    * thread — the same counters feeding Spark's task inputMetrics). */
  def bytesRead[A](fn: => A): (A, Long) = {
    FileSystem.clearStatistics()
    val r = fn
    (r, FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum)
  }

  /** Measured parquet reads disable Hadoop vectored IO: parquet-mr
    * 1.16's readVectored path on the local FS bypasses the FileSystem
    * statistics counters (task inputMetrics show the same gap), silently
    * dropping the data-page bytes from the measurement. Turning it off
    * changes only the fetch mechanism — the set of byte ranges a query
    * NEEDS, which is what gets graded, is identical. */
  def measuredRead(spark: SparkSession,
                   options: (String, String)*): DataFrameReader = {
    var r = spark.read.option("parquet.hadoop.vectored.io.enabled", "false")
    options.foreach { case (k, v) => r = r.option(k, v) }
    r
  }

  def parquetFiles(root: String): Seq[Path] = {
    val p = new Path(root)
    val fs = p.getFileSystem(new Configuration())
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[Path]
    while (it.hasNext) {
      val st = it.next()
      if (SealFrames.isParquetFile(st)) out += st.getPath
    }
    out.result()
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
