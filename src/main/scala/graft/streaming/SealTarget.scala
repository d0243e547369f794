package graft.streaming

import graft.otlp.OtlpSchemas
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftAccess, SparkSession}
import org.apache.spark.sql.functions._

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

  /** Run seal-critical Spark jobs in the dedicated 'graft-seals' FAIR pool
    * so interactive query jobs cannot starve durability (shared by
    * SealWriter and SnapshotTarget — the starvation protection must hold
    * for every target). */
  def inSealPool[A](spark: SparkSession)(fn: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", "graft-seals")
    try fn finally sc.setLocalProperty("spark.scheduler.pool", prev)
  }

  /** Seal rows arrive pre-encoded as UnsafeRow byte images (RowBin, built
    * on the HTTP worker threads at ingest). Chunk the reference array for
    * the in-memory DSv2 source — conversion cost was already paid 32-wide
    * at admission, and tasks receive plain byte arrays. */
  def chunked(spark: SparkSession, rows: IndexedSeq[Array[Byte]]): Array[Array[Array[Byte]]] = {
    val slices = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, rows.size / 10000))
    val per = math.max(1, (rows.size + slices - 1) / slices)
    rows.grouped(per).map(_.toArray).toArray
  }

  /** (source JSON column, attribute key, promoted column name). */
  def promoted(cfg: ServerConfig): Seq[(String, String, String)] =
    cfg.promoteResourceAttributes.map(k =>
      ("resource_attributes", k, ServerConfig.promotedColumn(k))) ++
    cfg.promoteScopeAttributes.map(k =>
      ("scope_attributes", k, ServerConfig.promotedScopeColumn(k)))

  /** Run `fn` over the batch's DataFrame (base signal columns + promoted
    * attribute columns): a scan of the batch's own rows
    * ([[graft.sources.SealRowTable]]). */
  def withBatch[A](spark: SparkSession, cfg: ServerConfig, batch: SealBatch)
                  (fn: DataFrame => A): A = {
    val table = new graft.sources.SealRowTable(
      OtlpSchemas.forSignal(batch.signal), chunked(spark, batch.rows))
    fn(promoted(cfg).foldLeft(GraftAccess.tableFrame(spark, table)) {
      case (df, (src, key, colName)) =>
        df.withColumn(colName, get_json_object(col(src), s"$$['$key']"))
    })
  }

  def isParquetFile(st: FileStatus): Boolean =
    st.isFile && st.getPath.getName.endsWith(".parquet") &&
      !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_")

  /** Write one seal's partitioned parquet (y/m/d dirs, zstd, in-file
    * (service, time) clustering, trace_id bloom) into an isolated staging
    * dir, then move every leaf file into the matching live partition dir.
    * Returns the published paths RELATIVE to `tableRoot` (snapshot commits
    * need the list; the plain parquet target ignores it). Renames are
    * metadata-only on file:/hdfs: and same-bucket copies on object stores. */
  def stageAndPublish(spark: SparkSession, batch: SealBatch, df: DataFrame,
                      tableRoot: Path): Seq[String] = {
    val tsCol =
      if (batch.signal == "traces") "start_time_unix_nano" else "time_unix_nano"
    // The partition columns LEAD the sort: FileFormatWriter requires rows
    // ordered by partition cols and would otherwise insert its own sort on
    // top, sorting every seal twice and destroying the clustering.
    var out = df
      .withColumn("year", date_format(col(tsCol), "yyyy"))
      .withColumn("month", date_format(col(tsCol), "MM"))
      .withColumn("day", date_format(col(tsCol), "dd"))
      .sortWithinPartitions(col("year"), col("month"), col("day"),
        col("service_name"), col(tsCol))
      .write.mode("overwrite")
      .partitionBy("year", "month", "day")
      .option("compression", "zstd")
    // (parquet-mr only materializes the bloom when a chunk is not fully
    // dictionary-encoded — tiny test seals won't show one; large seals do.)
    // Adaptive sizing is essential: without it parquet-mr allocates every
    // bloom at parquet.bloom.filter.max.bytes (1 MiB) regardless of the
    // chunk's NDV, so a small seal file becomes mostly bloom bytes and the
    // read side pays a megabyte per row group just to CHECK the filter —
    // measured in TierTwoReadSpec, bloom-on point lookups read 12x MORE
    // than bloom-off before this. Adaptive keeps the smallest candidate
    // that still meets the target fpp for the observed NDV.
    if (df.columns.contains("trace_id"))
      out = out
        .option("parquet.bloom.filter.enabled#trace_id", "true")
        .option("parquet.bloom.filter.adaptive.enabled", "true")
        // candidates span max.bytes down by halves; 9 of them puts the
        // smallest at 4 KiB so a small row group's bloom costs kilobytes
        // while a 128 MB production row group still gets the full 1 MiB
        .option("parquet.bloom.filter.candidates.number#trace_id", "9")
    val staging = new Path(tableRoot, s".seal-staging-${java.util.UUID.randomUUID()}")
    val hfs = tableRoot.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      out.parquet(staging.toString)
      publishStaged(hfs, staging, tableRoot)
    } finally hfs.delete(staging, true)
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
