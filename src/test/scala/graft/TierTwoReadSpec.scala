package graft

import graft.Tier2Layout._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** READ-side proof of the tier-2 physical-layout accelerators the seal
  * writer emits (reference: benchmark/otlp-query-probe/README.md measured
  * ≈3.2x scan cost from (service, time) clustering;
  * benchmark/otlp-compaction-probe/README.md measured ~8x bytes scanned
  * from a trace_id bloom on point lookups). The writes have been in
  * SealFrames.stageAndPublish since round 7; these tests prove Spark's
  * parquet read path actually consumes them:
  *
  *   - the sealed files carry a materialized trace_id bloom filter
  *     (parquet footer API), and a trace_id point lookup with bloom
  *     filtering ON (parquet.filter.bloom.enabled, parquet-mr default)
  *     reads a fraction of the bytes of the same query with it OFF —
  *     row groups whose bloom rejects the id are never fetched;
  *   - in-file (service, time) clustering yields row groups whose
  *     service_name min/max stats exclude a probed service (footer API),
  *     and a single-service scan over the clustered layout reads a
  *     fraction of the bytes of the identical rows written unclustered.
  *
  * The generator, seal write, and byte-counting read live in
  * [[Tier2Layout]], SHARED with Tier2Probe — the spec's assertions and
  * SCALE.md's probe numbers measure the same thing by construction.
  * "Bytes" means real bytes fetched from storage (Hadoop FS statistics —
  * the counters behind task inputMetrics), footers and blooms included.
  */
class TierTwoReadSpec extends SparkTestBase {

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("sealed files carry a real trace_id bloom and the point lookup " +
       "skips non-matching files' data (bytes, bloom on vs off)") {
    val root = tmpDir("graft-tier2-bloom")
    // 4 seals x 50k unique trace ids: enough NDV that parquet-mr abandons
    // full dictionary encoding on trace_id (the precondition for actually
    // materializing the bloom — a fully dict-encoded chunk gets none).
    (0 until 4).foreach { i =>
      seal(spark, spans(spark, i * 50000L, 50000L, services = 20), root)
    }
    val files = parquetFiles(root)
    assert(files.size >= 4, s"expected >=4 sealed files, got ${files.size}")

    // the id 123456 lives in seal #2's id range [100000, 150000)
    val target = md5Hex("t123456")

    // Footer proof: every sealed file has a bloom on trace_id, and the
    // bloom answers membership (positive in the owning file).
    val hconf = new Configuration()
    var bloomSeen = 0
    var positiveFiles = 0
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, hconf))
      try reader.getRowGroups.asScala.foreach { rg =>
        val cc = rg.getColumns.asScala
          .find(_.getPath.toDotString == "trace_id").get
        val bloom = reader.getBloomFilterDataReader(rg).readBloomFilter(cc)
        if (bloom != null) {
          bloomSeen += 1
          if (bloom.findHash(bloom.hash(Binary.fromString(target))))
            positiveFiles += 1
        }
      } finally reader.close()
    }
    assert(bloomSeen >= 4, s"trace_id bloom materialized in $bloomSeen row " +
      "groups; the seal write option did not take")
    assert(positiveFiles >= 1 && positiveFiles < files.size,
      s"bloom should accept the owning file and reject (most) others; " +
        s"positive in $positiveFiles of ${files.size}")

    def lookup(bloomOn: Boolean): (Array[String], Long) = {
      val (rows, bytes) = bytesRead {
        measuredRead(spark,
            "parquet.filter.bloom.enabled" -> bloomOn.toString)
          .parquet(root)
          .where(col("trace_id") === target)
          .select("span_id").collect().map(_.getString(0))
      }
      (rows, bytes)
    }
    val (rowsOn, bytesOn) = lookup(bloomOn = true)
    val (rowsOff, bytesOff) = lookup(bloomOn = false)
    assert(rowsOn.toSeq == Seq("123456") && rowsOff.toSeq == Seq("123456"),
      "point lookup must return the same single span with blooms on or off")
    // measured here: ~7.9x (591KB vs 4.66MB) — the reference's ~8x
    assert(bytesOn * 3 <= bytesOff,
      s"bloom row-group skipping should cut bytes >=3x even at this toy " +
        s"scale (reference measured ~8x): on=$bytesOn off=$bytesOff")
  }

  test("(service, time) clustering prunes row groups under a single-service " +
       "predicate (footer stats + bytes, clustered vs unclustered)") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val savedBlock = hconf.get("parquet.block.size")
    // Small row groups so a 200k-row test file has many of them — the
    // shape a real multi-GB seal file has with the default 128MB groups.
    hconf.set("parquet.block.size", (128 * 1024).toString)
    val clustered = tmpDir("graft-tier2-clustered")
    val unclustered = tmpDir("graft-tier2-unclustered")
    try {
      val df = spans(spark, 0L, 200000L, services = 20)
      seal(spark, df, clustered) // production: (svc, time) sort
      // identical rows, same y/m/d layout, but hash-scattered row order —
      // what a writer that skips the clustering sort would produce
      df.withColumn("year", date_format(col("start_time_unix_nano"), "yyyy"))
        .withColumn("month", date_format(col("start_time_unix_nano"), "MM"))
        .withColumn("day", date_format(col("start_time_unix_nano"), "dd"))
        .repartition(8, col("trace_id"))
        .write.mode("overwrite").partitionBy("year", "month", "day")
        .option("compression", "zstd").parquet(unclustered)
    } finally {
      if (savedBlock == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", savedBlock)
    }

    // Footer proof: clustered row groups have narrow service_name min/max
    // (most exclude svc07); unclustered row groups all straddle it.
    def prunableRowGroups(root: String): (Int, Int) = {
      val conf = new Configuration()
      var total = 0
      var prunable = 0
      parquetFiles(root).foreach { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try reader.getRowGroups.asScala.foreach { rg =>
          val cc = rg.getColumns.asScala
            .find(_.getPath.toDotString == "service_name").get
          val st = cc.getStatistics
          total += 1
          if (st.minAsString() > "svc07" || st.maxAsString() < "svc07")
            prunable += 1
        } finally reader.close()
      }
      (prunable, total)
    }
    val (cPrune, cTotal) = prunableRowGroups(clustered)
    val (uPrune, uTotal) = prunableRowGroups(unclustered)
    assert(cTotal >= 20 && uTotal >= 20,
      s"block-size override should force many row groups ($cTotal / $uTotal)")
    assert(cPrune * 2 >= cTotal,
      s"clustered layout: expected most row groups stat-prunable for one of " +
        s"20 services, got $cPrune of $cTotal")
    assert(uPrune == 0,
      s"unclustered layout should have zero prunable row groups, got $uPrune")

    // Read proof: the same single-service scan fetches a fraction of the
    // bytes from the clustered layout (stats filtering is parquet-mr's
    // default; no special read conf needed).
    def scan(root: String): (Long, Long) = bytesRead {
      val r = measuredRead(spark).parquet(root)
        .where(col("service_name") === "svc07")
        .select("trace_id").collect()
      r.length.toLong
    }
    val (cRows, cBytes) = scan(clustered)
    val (uRows, uBytes) = scan(unclustered)
    assert(cRows == 10000L && uRows == 10000L,
      s"both layouts must return the service's 10k spans ($cRows / $uRows)")
    assert(cBytes * 2 <= uBytes,
      s"row-group stats pruning should at least halve bytes on the " +
        s"clustered layout (reference measured ~3.2x scan cost): " +
        s"clustered=$cBytes unclustered=$uBytes")
  }
}
