package graft.streaming

import graft.otlp.OtlpSchemas
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, GraftAccess, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, DateFormatClass, Expression, GetJsonObject, Literal, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.collection.mutable.ArrayBuffer

/** The store-facing seal surface (reference: the SealCatalog/SealParquet/
  * lakehouse split behind `otlp_server.cpp`'s seal path and the
  * `expire_older_than`/`delete_older_than`/`target_file_size` options,
  * otlp_server.cpp:54-58; site architecture.md §"Storage layouts"). The
  * ingest core (OtlpServer) buffers and triggers; everything that touches
  * durable storage goes through one of these:
  *
  *   - [[SealWriter]] — managed catalog tables ("catalog") and
  *     hive-partitioned parquet export ("parquet")
  *   - [[SnapshotTarget]] — a snapshot-committing lakehouse layout
  *     ("snapshot"): every seal is an atomic snapshot commit, retention is
  *     snapshot expiry (current data always survives), compaction commits a
  *     new snapshot and leaves replaced files to retention, old snapshots
  *     remain readable (time travel) until expired.
  */
trait SealTarget {
  /** Create/validate per-signal storage at server start. */
  def prepareTables(): Unit

  /** Durably write one sealed batch. */
  def write(batch: SealBatch): Unit

  /** Retention maintenance for one signal; returns data files deleted. */
  def expire(signal: String): Long

  /** Small-file compaction for one signal; returns files replaced. */
  def compact(signal: String): Long

  /** Queryable views over the export layout (no-op for catalog tables). */
  def createInspectionViews(): Unit

  /** Did a prior attempt with this seal id commit durably? Drives the
    * retry-idempotence trim below; "unknown" must answer false
    * (at-least-once, never loss). */
  protected def sealCommitted(signal: String, sealId: String): Boolean

  /** Test-only fault injection: runs after a successful commit, before
    * write() returns — the post-commit crash window. */
  @volatile private[graft] var failAfterCatalogCommit: String => Unit = _

  /** Drop head-row segments that a prior FAILED attempt actually committed
    * (checked via their seal ids against the store). Returns the trimmed
    * batch with admission/wire bytes reduced by row share; the caller
    * accounts the dropped rows as durable. */
  final def dropCommittedPrefix(batch: SealBatch): SealBatch = {
    val total = batch.rows.size
    if (batch.priorSegments.isEmpty || total == 0)
      return batch.copy(priorSegments = Nil)
    val kept = IndexedSeq.newBuilder[Array[Byte]]
    var off = 0
    batch.priorSegments.foreach { case (id, n) =>
      val until = math.min(off + n, total)
      if (!sealCommitted(batch.signal, id))
        kept ++= batch.rows.slice(off, until)
      off = until
    }
    kept ++= batch.rows.drop(off) // tail rows never attempted before
    val keptRows = kept.result()
    if (keptRows.size == total) batch.copy(priorSegments = Nil)
    else batch.copy(
      rows = keptRows,
      // ceil, not floor: the kept batch must never under-hold admission
      // bytes (the early release for dropped rows is the floored remainder)
      admittedBytes = (batch.admittedBytes * keptRows.size + total - 1) / total,
      wireBytes = (batch.wireBytes * keptRows.size + total - 1) / total,
      priorSegments = Nil)
  }
}

/** Shared seal-batch plumbing used by every target implementation. */
private[graft] object SealFrames {

  /** Run the catalog target's seal jobs (and compaction's rewrite jobs) in
    * the dedicated 'graft-seals' FAIR pool so interactive query jobs cannot
    * starve durability. File-target seals start no Spark job: they write on
    * the seal thread ([[stageAndPublish]]). */
  def inSealPool[A](spark: SparkSession)(fn: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", "graft-seals")
    try fn finally sc.setLocalProperty("spark.scheduler.pool", prev)
  }

  /** A seal's slices: min(defaultParallelism, rows / 10000), at least one,
    * as even as contiguous runs allow. A slice is one catalog write task or
    * one concurrently written group of parquet files. */
  def chunked[T](spark: SparkSession, rows: IndexedSeq[T]): Seq[IndexedSeq[T]] = {
    val slices = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, rows.size / 10000))
    val per = math.max(1, (rows.size + slices - 1) / slices)
    rows.grouped(per).toSeq
  }

  /** (source JSON column, attribute key, promoted column name). */
  def promoted(cfg: ServerConfig): Seq[(String, String, String)] =
    cfg.promoteResourceAttributes.map(k =>
      ("resource_attributes", k, ServerConfig.promotedColumn(k))) ++
    cfg.promoteScopeAttributes.map(k =>
      ("scope_attributes", k, ServerConfig.promotedScopeColumn(k)))

  /** Run `fn` over the batch's DataFrame (base signal columns + promoted
    * attribute columns): a scan of the batch's own rows
    * ([[graft.sources.SealRowTable]]). The catalog target's insert is the
    * one seal write that runs as a Spark job. */
  def withBatch[A](spark: SparkSession, cfg: ServerConfig, batch: SealBatch)
                  (fn: DataFrame => A): A = {
    val table = new graft.sources.SealRowTable(OtlpSchemas.forSignal(batch.signal),
      chunked(spark, batch.rows).map(_.toArray).toArray)
    fn(promoted(cfg).foldLeft(GraftAccess.tableFrame(spark, table)) {
      case (df, (src, key, colName)) =>
        df.withColumn(colName, get_json_object(col(src), s"$$['$key']"))
    })
  }

  def isParquetFile(st: FileStatus): Boolean =
    st.isFile && st.getPath.getName.endsWith(".parquet") &&
      !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_")

  /** The column a signal's rows are partitioned and clustered on. */
  def timeColumn(signal: String): String =
    if (signal == "traces") "start_time_unix_nano" else "time_unix_nano"

  /** Stage and publish one sealed batch of a file target: its RowBin
    * images are read in place as `UnsafeRow`s, with no copy. */
  def publishBatch(spark: SparkSession, cfg: ServerConfig, batch: SealBatch,
                   tableRoot: Path): Seq[String] = {
    val schema = OtlpSchemas.forSignal(batch.signal)
    val rows = batch.rows.map { b =>
      val r = new UnsafeRow(schema.length); r.pointTo(b, b.length); r: InternalRow
    }
    stageAndPublish(spark, schema, chunked(spark, rows),
      timeColumn(batch.signal), promoted(cfg), tableRoot)
  }

  /** Write one seal's partitioned parquet into an isolated staging dir,
    * then move every leaf file into the matching live partition dir.
    * Returns the published paths RELATIVE to `tableRoot` (snapshot commits
    * need the list; the plain parquet target ignores it). Renames are
    * metadata-only on file:/hdfs: and same-bucket copies on object stores.
    *
    * The write runs on the calling thread, with no Spark job: the layout
    * of a Spark `partitionBy("year", "month", "day")` write, from the
    * `OutputWriter` Spark's own write task opens. Per row, one projection
    * evaluates `date_format` of `tsCol` in the session time zone (a null
    * time lands in `__HIVE_DEFAULT_PARTITION__`) and each promoted
    * attribute's `get_json_object`; each partition's rows are sorted by
    * (service_name, tsCol) ascending, nulls first, and written as one
    * `part-<slice>-<seal uuid>-c000.zstd.parquet` file per slice of
    * `slices`. The first slice runs on the calling thread, each other one
    * on a thread of its own, all at once. */
  def stageAndPublish(spark: SparkSession, schema: StructType,
                      slices: Seq[IndexedSeq[InternalRow]], tsCol: String,
                      promoted: Seq[(String, String, String)],
                      tableRoot: Path): Seq[String] = {
    val staging = new Path(tableRoot, s".seal-staging-${java.util.UUID.randomUUID()}")
    val hfs = tableRoot.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      GraftAccess.withActive(spark) {
        val write = new PartitionedWrite(spark, schema, tsCol, promoted, staging)
        val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        def run(i: Int): Unit =
          try write.slice(i, slices(i)) catch { case e: Throwable => errors.add(e) }
        val others = slices.indices.drop(1).map { i =>
          val t = new Thread(() => GraftAccess.withActive(spark)(run(i)),
            s"${Thread.currentThread().getName}-slice-$i")
          t.setDaemon(true); t.start(); t
        }
        if (slices.nonEmpty) run(0)
        others.foreach(_.join())
        if (!errors.isEmpty) throw errors.peek()
      }
      publishStaged(hfs, staging, tableRoot)
    } finally hfs.delete(staging, true)
  }

  /** One seal's parquet write: the Hadoop job conf and `OutputWriterFactory`
    * of `ParquetFileFormat.prepareWrite` under the seal's write options,
    * and the per-row partition/promotion expressions, bound to `schema`. */
  private final class PartitionedWrite(spark: SparkSession, schema: StructType,
                                       tsCol: String,
                                       promoted: Seq[(String, String, String)],
                                       staging: Path) {
    private def ref(name: String): BoundReference = {
      val i = schema.fieldIndex(name)
      BoundReference(i, schema(i).dataType, schema(i).nullable)
    }
    private val dataSchema = StructType(schema.fields ++
      promoted.map { case (_, _, c) => StructField(c, StringType) })
    private val partitionColumns = Seq("year" -> "yyyy", "month" -> "MM", "day" -> "dd")
    private val partitionExprs: Seq[Expression] = partitionColumns.map { case (_, fmt) =>
      DateFormatClass(ref(tsCol), Literal(fmt),
        Some(spark.sessionState.conf.sessionLocalTimeZone))
    }
    private val dataExprs: Seq[Expression] =
      if (promoted.isEmpty) Nil
      else schema.fieldNames.toSeq.map(ref) ++
        promoted.map { case (src, key, _) => GetJsonObject(ref(src), Literal(s"$$['$key']")) }
    private val sortOrder =
      Seq(ref("service_name"), ref(tsCol)).map(SortOrder(_, Ascending))
    private val jobUuid = java.util.UUID.randomUUID().toString

    private val (factory, jobConf) = {
      // The write options of the clustered seal layout. parquet-mr only
      // materializes a bloom when a chunk is not fully dictionary-encoded,
      // so tiny seals carry none and large ones do. Adaptive sizing is
      // essential: without it parquet-mr allocates every bloom at
      // parquet.bloom.filter.max.bytes (1 MiB) regardless of the chunk's
      // NDV, so a small seal file becomes mostly bloom bytes and the read
      // side pays a megabyte per row group just to CHECK the filter
      // (measured in TierTwoReadSpec: bloom-on point lookups read 12x MORE
      // than bloom-off). 9 candidates span max.bytes down by halves to
      // 4 KiB, so a small row group's bloom costs kilobytes while a 128 MB
      // production row group still gets the full 1 MiB.
      val opts = Map("compression" -> "zstd") ++
        (if (!schema.fieldNames.contains("trace_id")) Map.empty[String, String]
         else Map(
           "parquet.bloom.filter.enabled#trace_id" -> "true",
           "parquet.bloom.filter.adaptive.enabled" -> "true",
           "parquet.bloom.filter.candidates.number#trace_id" -> "9"))
      val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(opts))
      job.setOutputKeyClass(classOf[Void])
      job.setOutputValueClass(classOf[InternalRow])
      val f = new ParquetFileFormat().prepareWrite(spark, job, opts, dataSchema)
      (f, job.getConfiguration)
    }

    /** Group `rows` by partition, sort each group, write one file each. */
    def slice(index: Int, rows: IndexedSeq[InternalRow]): Unit = {
      // projections and orderings are codegen'd and not thread-safe: one
      // set per slice thread (the compiled classes are cached)
      val partitionOf = UnsafeProjection.create(partitionExprs)
      val dataOf: InternalRow => InternalRow =
        if (dataExprs.isEmpty) identity else UnsafeProjection.create(dataExprs)
      val ordering = GenerateOrdering.generate(sortOrder)
      val groups = new java.util.HashMap[UnsafeRow, ArrayBuffer[InternalRow]]()
      rows.foreach { r =>
        val key = partitionOf(r)
        var group = groups.get(key)
        if (group == null) { group = ArrayBuffer.empty; groups.put(key.copy(), group) }
        group += r
      }
      val ctx = new TaskAttemptContextImpl(new Configuration(jobConf),
        new TaskAttemptID(new TaskID(new JobID("graft-seal", 0), TaskType.MAP, index), 0))
      val name = f"part-$index%05d-$jobUuid-c000${factory.getFileExtension(ctx)}"
      groups.forEach { (key, group) =>
        val dir = partitionColumns.indices.map { i =>
          ExternalCatalogUtils.getPartitionPathString(partitionColumns(i)._1,
            if (key.isNullAt(i)) null else key.getUTF8String(i).toString)
        }.mkString("/")
        val sorted = group.toArray
        java.util.Arrays.sort(sorted, ordering)
        val out = factory.newInstance(
          new Path(new Path(staging, dir), name).toString, dataSchema, ctx)
        try sorted.foreach(r => out.write(dataOf(r))) finally out.close()
      }
    }
  }

  /** Move staged leaf parquet files into live partition dirs, preserving
    * Spark's unique part-file names; returns relative published paths. */
  private def publishStaged(hfs: FileSystem, staging: Path,
                            tableRoot: Path): Seq[String] = {
    val published = Seq.newBuilder[String]
    def walk(dir: Path, rel: String): Unit =
      hfs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (!name.startsWith(".") && !name.startsWith("_"))
            walk(st.getPath, if (rel.isEmpty) name else s"$rel/$name")
        } else if (isParquetFile(st)) {
          val destDir = if (rel.isEmpty) tableRoot else new Path(tableRoot, rel)
          hfs.mkdirs(destDir)
          val dest = new Path(destDir, name)
          if (!hfs.rename(st.getPath, dest))
            throw new java.io.IOException(s"publish rename ${st.getPath} -> $dest failed")
          published += (if (rel.isEmpty) name else s"$rel/$name")
        }
      }
    walk(staging, "")
    published.result()
  }
}
