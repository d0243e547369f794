package graft

import java.io.File

import graft.otlp.OtlpSchemas
import graft.streaming.{SealBatch, SealFrames, SealWriter, ServerConfig}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The parquet seal writer against its oracle: a Spark `partitionBy` write
  * of the same batch frame with the seal's write options (the layout every
  * parquet seal had while seals ran as Spark jobs). Over all six signals,
  * with null times, null service names, a seal across two days, promoted
  * resource and scope attributes and a traces batch of several slices, the
  * published files must hold the same rows in the same partition
  * directories, as many files, with the same footer schema; every file must
  * be sorted by (service_name, time) nulls first; the large traces seal
  * must carry a trace_id bloom. */
class SealParitySpec extends SparkTestBase {

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** The oracle: the batch's frame through Spark's own partitioned write. */
  private def oracleWrite(cfg: ServerConfig, batch: SealBatch, dir: String): Unit =
    SealFrames.withBatch(spark, cfg, batch) { df =>
      val ts = SealFrames.timeColumn(batch.signal)
      var w = df
        .withColumn("year", date_format(col(ts), "yyyy"))
        .withColumn("month", date_format(col(ts), "MM"))
        .withColumn("day", date_format(col(ts), "dd"))
        .sortWithinPartitions(col("year"), col("month"), col("day"),
          col("service_name"), col(ts))
        .write.mode("overwrite")
        .partitionBy("year", "month", "day")
        .option("compression", "zstd")
      if (df.columns.contains("trace_id"))
        w = w.option("parquet.bloom.filter.enabled#trace_id", "true")
          .option("parquet.bloom.filter.adaptive.enabled", "true")
          .option("parquet.bloom.filter.candidates.number#trace_id", "9")
      w.parquet(dir)
    }

  /** Parquet files under `root`, by path relative to it. */
  private def files(root: String): Seq[String] = {
    val base = new File(root).toPath
    java.nio.file.Files.walk(base).iterator().asScala
      .map(_.toFile).filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(f => base.relativize(f.toPath).toString).toSeq.sorted
  }

  private def footer(path: String) = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), new Configuration()))
    try r.getFooter finally r.close()
  }

  private val sizes = Map("traces" -> 30000).withDefaultValue(400)

  test("parquet seals equal a Spark partitionBy write of the same frame, " +
       "for all six signals") {
    val root = tmpDir("graft-seal-parity")
    val oracle = tmpDir("graft-seal-oracle")
    val cfg = ServerConfig("otlp_serve", "otlp:127.0.0.1:4318", Map(
      "disable_auth" -> "true", "target" -> "parquet", "parquet_root" -> root,
      "promote_resource_attributes" -> "host.name",
      "promote_scope_attributes" -> "lib.tier"))
    // a small dictionary page: trace_id chunks fall back from dictionary
    // encoding, the condition under which parquet-mr writes a bloom
    val hconf = spark.sparkContext.hadoopConfiguration
    val savedDict = hconf.get("parquet.dictionary.page.size")
    hconf.set("parquet.dictionary.page.size", (16 * 1024).toString)
    try OtlpSchemas.Signals.foreach { s =>
      val batch = SealFixtures.batch(spark, s, sizes(s))
      new SealWriter(cfg, spark).write(batch)
      oracleWrite(cfg, batch, s"$oracle/otlp_$s")
    } finally {
      if (savedDict == null) hconf.unset("parquet.dictionary.page.size")
      else hconf.set("parquet.dictionary.page.size", savedDict)
    }

    OtlpSchemas.Signals.foreach { s =>
      val (dir, want) = (s"$root/otlp_$s", s"$oracle/otlp_$s")
      val (got, exp) = (files(dir), files(want))
      def dirs(fs: Seq[String]) = fs.map(f => f.substring(0, f.lastIndexOf('/'))).toSet
      assert(dirs(got) == dirs(exp), s)
      assert(dirs(got).exists(_.contains("__HIVE_DEFAULT_PARTITION__")), s)
      assert(dirs(got).count(_.startsWith("year=2024/month=03/day=0")) == 2, s)
      assert(got.size == exp.size, s"$s file count")
      assert(got.forall(_.matches(""".*/part-\d{5}-[0-9a-f-]{36}-c000\.zstd\.parquet""")), s)
      assert(new File(dir).list().forall(!_.startsWith(".seal-staging")), s)

      def rowSchemas(root: String, fs: Seq[String]) = fs.map(f => footer(s"$root/$f")
        .getFileMetaData.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")).toSet
      val schemas = rowSchemas(dir, got)
      assert(schemas.size == 1 && schemas.head != null, s)
      assert(schemas == rowSchemas(want, exp), s)

      val (a, b) = (spark.read.parquet(dir), spark.read.parquet(want))
      assert(a.schema == b.schema, s)
      assert(a.count() == sizes(s) && b.count() == sizes(s), s)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$s rows")
      assert(a.where(col("resource_attr_host_name") === "h1").count() > 0, s)
      assert(a.where(col("scope_attr_lib_tier") === "t1").count() > 0, s)

      val ts = SealFrames.timeColumn(s)
      got.foreach { f =>
        val keys = spark.read.parquet(s"$dir/$f")
          .select(col("service_name"), unix_micros(col(ts))).collect()
          .map(r => (Option(r.getString(0)), if (r.isNullAt(1)) None else Some(r.getLong(1))))
          .toSeq
        assert(keys == keys.sorted, s"$s/$f is not sorted by (service_name, $ts)")
      }
    }

    val traces = files(s"$root/otlp_traces")
    assert(traces.map(_.split('/').last.substring(5, 10)).distinct.size == 3,
      "30000 rows seal as three slices")
    val blooms = traces.count { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(s"$root/otlp_traces/$f"), new Configuration()))
      try r.getRowGroups.asScala.exists { rg =>
        val cc = rg.getColumns.asScala.find(_.getPath.toDotString == "trace_id").get
        r.getBloomFilterDataReader(rg).readBloomFilter(cc) != null
      } finally r.close()
    }
    assert(blooms > 0, "a large traces seal carries a trace_id bloom")
  }
}
