package graft

import graft.Tier2Layout._
import org.apache.spark.sql.functions._

/** Scale probe for the tier-2 physical-layout read path — the same
  * measurements as TierTwoReadSpec (generator, seal write, and
  * byte-counting read shared via [[Tier2Layout]]) at multi-million-span
  * scale:
  *
  *   - trace_id point lookup, bloom filtering on vs off (reference
  *     measured ~8x bytes: benchmark/otlp-compaction-probe/README.md)
  *   - single-service scan, clustered layout vs the identical rows
  *     written unclustered (reference measured ~3.2x scan cost:
  *     benchmark/otlp-query-probe/README.md)
  *
  * Usage: runMain graft.Tier2Probe [spansInMillions] (default 2)
  * Prints one [tier2] line per measurement; ratios land in SCALE.md. */
object Tier2Probe {
  def main(args: Array[String]): Unit = {
    val millions = if (args.nonEmpty) args(0).toDouble else 2.0
    val n = (millions * 1e6).toLong
    val spark = Sessions.local()

    val base = new java.io.File("/tmp/graft_tier2_probe")
    org.apache.commons.io.FileUtils.deleteDirectory(base)
    val clustered = s"${base.getAbsolutePath}/clustered"
    val unclustered = s"${base.getAbsolutePath}/unclustered"

    // Moderate row groups (8 MB) so each multi-hundred-MB-equivalent file
    // has the many-row-group shape a production 128 MB-group seal has.
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("parquet.block.size", (8 * 1024 * 1024).toString)

    // One file per seal (coalesce(1)): a production seal file is hundreds
    // of MB with many row groups; at probe scale the equivalent shape is a
    // ~500k-row file with ~4 row groups of the 8 MB size set above. A
    // many-tiny-files shape (16 files x 15k rows per seal) has one row
    // group per file spanning all 20 services — nothing for clustering to
    // prune, and not what a large deployment's layout looks like.
    val seals = 4
    val per = n / seals
    val t0 = System.nanoTime()
    (0 until seals).foreach { i =>
      seal(spark, spans(spark, i * per, per, services = 20).coalesce(1),
        clustered, s"t2-$i")
    }
    val sealSec = (System.nanoTime() - t0) / 1e9
    spans(spark, 0L, n, services = 20)
      .withColumn("year", date_format(col("start_time_unix_nano"), "yyyy"))
      .withColumn("month", date_format(col("start_time_unix_nano"), "MM"))
      .withColumn("day", date_format(col("start_time_unix_nano"), "dd"))
      .repartition(seals, col("trace_id"))
      .write.mode("overwrite").partitionBy("year", "month", "day")
      .option("compression", "zstd").parquet(unclustered)
    println(f"[tier2] sealed n=$n in $sealSec%.1f s")

    def timedBytes[A](fn: => A): (Long, Double) = {
      val s = System.nanoTime()
      val (_, bytes) = bytesRead(fn)
      (bytes, (System.nanoTime() - s) / 1e9)
    }

    val target = md5Hex(s"t${n / 2}")
    def lookup(on: Boolean): (Long, Double) = timedBytes {
      val rows = measuredRead(spark,
          "parquet.filter.bloom.enabled" -> on.toString)
        .parquet(clustered).where(col("trace_id") === target)
        .select("span_id").collect()
      require(rows.length == 1, s"expected 1 span, got ${rows.length}")
    }
    lookup(on = true) // warmup (codegen + file listing)
    val (bOn, tOn) = lookup(on = true)
    val (bOff, tOff) = lookup(on = false)
    println(f"[tier2] bloom point lookup: on=${bOn / 1024}KB/$tOn%.2fs " +
      f"off=${bOff / 1024}KB/$tOff%.2fs bytes_ratio=${bOff.toDouble / bOn}%.1fx")

    def svcScan(root: String): (Long, Double) = timedBytes {
      val c = measuredRead(spark).parquet(root)
        .where(col("service_name") === "svc07")
        .select("trace_id").collect().length
      require(c == n / 20, s"expected ${n / 20} rows, got $c")
    }
    svcScan(clustered) // warmup
    val (bC, tC) = svcScan(clustered)
    val (bU, tU) = svcScan(unclustered)
    println(f"[tier2] service scan: clustered=${bC / 1024}KB/$tC%.2fs " +
      f"unclustered=${bU / 1024}KB/$tU%.2fs bytes_ratio=${bU.toDouble / bC}%.1fx " +
      f"time_ratio=${tU / tC}%.1fx")

    org.apache.commons.io.FileUtils.deleteDirectory(base)
    spark.stop()
  }
}
