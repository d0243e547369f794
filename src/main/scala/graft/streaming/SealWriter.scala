package graft.streaming

import graft.otlp.OtlpSchemas
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Writes sealed batches into the target store (reference SealCatalog /
  * SealParquet, src/otlp_server.cpp; SURVEY.md §2.2):
  *
  *   - catalog mode: append into `<schema>.otlp_<signal>` managed tables
  *     (created at startup with the base signal schema plus any promoted
  *     attribute columns). Spark has no cross-table transaction, so the
  *     contract is per-signal at-least-once — the documented contract of
  *     the reference's parquet path; a failed signal re-buffers for retry.
  *   - parquet mode: `root/otlp_<signal>/year=YYYY/month=MM/day=DD/` zstd
  *     parquet, partitioned on start_time_unix_nano for traces and
  *     time_unix_nano otherwise; partition columns are not written into
  *     the data files (Spark partitionBy semantics — same as the
  *     reference's WRITE_PARTITION_COLUMNS false).
  *
  * Attribute promotion: each key in promote_resource_attributes becomes a
  * `resource_attr_<sanitized>` STRING column on every signal, computed at
  * seal time from the resource_attributes JSON; the JSON blob is kept.
  * The read pattern is COALESCE(resource_attr_k, get_json_object(...)) —
  * at 100 TB the promoted column is what gives parquet min/max pruning. */
final class SealWriter(cfg: ServerConfig, spark: SparkSession) extends SealTarget {

  def prepareTables(): Unit = {
    if (cfg.target == "catalog") {
      spark.sql(s"CREATE DATABASE IF NOT EXISTS ${cfg.schema}")
      OtlpSchemas.Signals.foreach { signal =>
        val table = cfg.tableName(signal)
        if (!spark.catalog.tableExists(table)) {
          if (!cfg.createTables)
            throw new IllegalArgumentException(
              s"table $table is not available (create_tables := false)")
          val empty = spark.createDataFrame(
            java.util.Collections.emptyList[Row](),
            withSealId(withPromoted(OtlpSchemas.forSignal(signal))))
          empty.write.saveAsTable(table)
        } else {
          validateTable(table, signal)
          // upgrade pre-existing tables in place: the retry-idempotence
          // marker is a plain trailing column under the wide-table contract
          if (!spark.table(table).columns.contains(SealIdColumn))
            try spark.sql(s"ALTER TABLE $table ADD COLUMNS ($SealIdColumn STRING)")
            catch { case _: Exception => () } // absent column → at-least-once
        }
      }
    }
  }

  /** Existing tables must carry the base schema as a leading prefix (extra
    * trailing columns are fine — the promotion / wide-table contract). */
  private def validateTable(table: String, signal: String): Unit = {
    val actual = spark.table(table).schema
    val base = withPromoted(OtlpSchemas.forSignal(signal))
    if (actual.fields.length < base.fields.length ||
      !base.fields.zip(actual.fields).forall { case (b, a) =>
        b.name == a.name && b.dataType == a.dataType
      })
      throw new IllegalArgumentException(
        s"table $table exists with an incompatible schema; " +
          s"expected leading columns ${base.fieldNames.mkString(", ")}")
  }

  private def withPromoted(s: StructType): StructType =
    StructType(s.fields ++ SealFrames.promoted(cfg).map { case (_, _, c) =>
      StructField(c, StringType) })

  /** Retry-idempotence marker column on catalog tables: every seal attempt
    * tags its rows with the attempt's UUID, so a retry after a failure in
    * the post-commit window can ask the table itself whether the insert
    * landed — the atomic-with-data analog of the reference's cross-table
    * catalog transaction (otlp_server.cpp:1109-1271), giving catalog mode
    * effectively-once appends per signal. */
  val SealIdColumn = "_seal_id"

  private def withSealId(s: StructType): StructType =
    StructType(s.fields :+ StructField(SealIdColumn, StringType))

  /** Did a prior attempt's insert land? Footer stats + pushdown make this a
    * cheap limit-1 probe; it runs only on the retry path. Any failure to
    * answer degrades to "unknown → re-insert" (at-least-once, never loss).
    * (The parquet target has no idempotence marker — publish is documented
    * at-least-once — so it keeps the always-false default.) */
  override protected def sealCommitted(signal: String, sealId: String): Boolean =
    cfg.target == "catalog" &&
      (try !spark.table(cfg.tableName(signal))
        .where(col(SealIdColumn) === lit(sealId)).limit(1).isEmpty
      catch { case _: Exception => false })

  /** Per-signal write locks: catalog appends go through insertInto, whose
    * commit protocol stages under the table's shared _temporary dir — two
    * concurrent jobs on one table collide. Parquet seals don't need this:
    * each writes an isolated staging dir (see below). */
  private val tableLocks: Map[String, Object] =
    OtlpSchemas.Signals.map(s => s -> new Object).toMap

  def write(batch: SealBatch): Unit = SealFrames.inSealPool(spark) { cfg.target match {
    case "catalog" =>
      tableLocks(batch.signal).synchronized {
        SealFrames.withBatch(spark, cfg, batch) { df0 =>
          // align by name with the live table schema: wide tables may carry
          // extra trailing columns (the promotion / schema-evolution
          // contract) — they NULL-fill, like the reference's column-targeted
          // INSERT...SELECT. Every row carries this attempt's seal id so a
          // retry can prove whether this insert committed.
          val df = df0.withColumn(SealIdColumn, lit(batch.sealId))
          val table = cfg.tableName(batch.signal)
          val target = spark.table(table).schema
          val aligned = df.select(target.fields.map { f =>
            if (df.columns.contains(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }.toIndexedSeq: _*)
          aligned.write.mode("append").insertInto(table)
          val hook = failAfterCatalogCommit
          if (hook != null) hook(batch.signal)
        }
      }
    case "parquet" => SealFrames.withBatch(spark, cfg, batch) { df =>
      // Physical-layout accelerators the reference measured as "tier 2"
      // future work (benchmark/otlp-query-probe: ~3.2x scan-cost win from
      // (service, time) clustering; ~8x bytes-scanned win from a trace_id
      // bloom filter on point lookups): cluster rows inside each seal file
      // and attach parquet blooms where a trace_id column exists.
      // Isolated staging per seal, then per-file rename into the live
      // layout: concurrent seal cycles on the SAME signal would otherwise
      // share the path's _temporary dir (FileOutputCommitter) and clobber
      // each other's staged files. Publish is at-least-once (a crash
      // mid-publish re-seals the batch), the documented contract.
      // (SealFrames.stageAndPublish carries the mechanics, shared with the
      // snapshot target whose commit additionally records the file list.)
      SealFrames.stageAndPublish(spark, batch, df,
        new Path(s"${cfg.parquetRoot}/otlp_${batch.signal}"))
    }
  } }

  // ---- maintenance (Hadoop FS API: works on file:, hdfs:, s3a:, abfs:) ----

  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Inspection views over the parquet export layout (reference creates a
    * view via read_parquet over the recursive table glob after sealing,
    * otlp_server.cpp:1047-1056, and re-globs per query). These are SQL-text
    * temp views: Spark re-resolves the path relation — fresh file listing,
    * fresh partition discovery — on EVERY query against the view, the exact
    * re-glob-per-query semantics of the reference. So each view is created
    * ONCE, the first time its signal's data exists; later seals cost
    * nothing here (the old DataFrame-API views pinned their listing at
    * creation and had to be rebuilt — an O(files) driver scan per seal on
    * the seal critical path that grew for the server's whole lifetime). */
  private val viewCreated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def createInspectionViews(): Unit = {
    if (cfg.target == "parquet") OtlpSchemas.Signals.foreach { signal =>
      if (!viewCreated.contains(signal)) {
        val dir = new Path(s"${cfg.parquetRoot}/otlp_$signal")
        if (fs(dir).exists(dir)) {
          spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW otlp_$signal AS " +
            s"SELECT * FROM parquet.`${dir.toString}`")
          viewCreated.add(signal)
        }
      }
    }
  }

  /** Retention expiry (maintenance): delete data files older than
    * maintenance_retention_ms, by file modification time, then prune
    * emptied partition directories. The reference expires lakehouse
    * snapshots/files past the horizon at maintenance time
    * (otlp_server.cpp:54-58,1273-1387, expire_older_than /
    * delete_older_than); plain parquet and managed tables have no snapshot
    * layer, so the knob is enforced as a data-retention TTL — a
    * long-running server's storage is bounded by retention × ingest rate
    * instead of growing forever. mtime (ingest/compaction time), not the
    * partition's event date, mirrors the reference's file-age semantics;
    * compaction-rewritten files restart their clock (conservative).
    * Returns files deleted. */
  def expire(signal: String): Long = {
    val horizon = System.currentTimeMillis() - cfg.maintenanceRetentionMs
    def expireTree(root: Path): Long = {
      val hfs = fs(root)
      if (!hfs.exists(root)) return 0L
      def walk(d: Path, isRoot: Boolean): Long = {
        // mtime BEFORE touching children: deleting files bumps it to now
        val dirMtime = hfs.getFileStatus(d).getModificationTime
        var deleted = 0L
        hfs.listStatus(d).foreach { st =>
          val name = st.getPath.getName
          if (st.isDirectory && !name.startsWith(".") && !name.startsWith("_")) {
            deleted += walk(st.getPath, isRoot = false)
          } else if (SealFrames.isParquetFile(st) && st.getModificationTime < horizon) {
            if (hfs.delete(st.getPath, false)) deleted += 1
          }
        }
        // prune an emptied partition dir ONLY when the dir itself was past
        // the horizon: a concurrent seal's publishStaged may have just
        // mkdirs'd a partition dir and be about to rename into it — the
        // fresh mtime marks that window and the prune is skipped (it
        // retries at the next maintenance pass)
        if (!isRoot && dirMtime < horizon && hfs.listStatus(d).isEmpty)
          hfs.delete(d, false)
        deleted
      }
      walk(root, isRoot = true)
    }
    cfg.target match {
      case "parquet" =>
        expireTree(new Path(s"${cfg.parquetRoot}/otlp_$signal"))
      case "catalog" =>
        val table = cfg.tableName(signal)
        val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
        val dir = new Path(spark.sessionState.catalog.getTableMetadata(ident).location)
        val n = expireTree(dir)
        if (n > 0) spark.catalog.refreshTable(table)
        n
      case _ => 0L
    }
  }

  /** Coalesce-rewrite a set of small parquet files in `dir` into one
    * target-sized file. Commit protocol: write to a dot-prefixed temp dir
    * (invisible to parquet readers), per-file atomic rename INTO the live
    * dir, THEN delete the originals. A concurrent reader that listed
    * mid-commit can briefly see a row twice — consistent with the export
    * path's documented at-least-once contract — but never sees it missing;
    * the old delete-then-rename order could serve a listing with the data
    * gone. Any failure before the renames leaves the originals untouched. */
  private def rewriteFiles(dir: Path, files: Seq[FileStatus]): Long = {
    if (files.isEmpty) return 0L
    val hfs = fs(dir)
    val tmp = new Path(dir, s".compact-tmp-${java.util.UUID.randomUUID()}")
    try {
      spark.read.parquet(files.map(_.getPath.toString): _*)
        .coalesce(1).write.mode("overwrite")
        .option("compression", "zstd").parquet(tmp.toString)
      val parts = hfs.listStatus(tmp).filter(SealFrames.isParquetFile)
      parts.foreach { p =>
        val dest = new Path(dir, s"compact-${java.util.UUID.randomUUID()}.parquet")
        if (!hfs.rename(p.getPath, dest))
          throw new java.io.IOException(s"rename ${p.getPath} -> $dest failed")
      }
      files.foreach(f => hfs.delete(f.getPath, false))
      files.length.toLong
    } finally hfs.delete(tmp, true)
  }

  /** Small-file compaction (the reference's post-seal CHECKPOINT analog,
    * otlp_server.cpp:1273-1387 — bin-pack toward target_file_size,
    * O(small files) per cycle, files already at target left alone).
    *   - parquet target: per leaf partition dir (year=/month=/day=).
    *   - catalog target: the managed table's accumulated seal files,
    *     oldest first, bounded to one target-size output per cycle, with a
    *     REFRESH so cached plans drop the replaced listing. */
  def compact(signal: String): Long = cfg.target match {
    case "parquet" =>
      val root = new Path(s"${cfg.parquetRoot}/otlp_$signal")
      val hfs = fs(root)
      if (!hfs.exists(root)) return 0L
      def leafDirs(d: Path): Seq[Path] = {
        val kids = hfs.listStatus(d)
          .filter(st => st.isDirectory && !st.getPath.getName.startsWith(".") &&
            !st.getPath.getName.startsWith("_"))
          .map(_.getPath)
        if (kids.isEmpty) Seq(d) else kids.toSeq.flatMap(leafDirs)
      }
      leafDirs(root).map { dir =>
        val files = hfs.listStatus(dir).filter(SealFrames.isParquetFile)
        if (files.length > 4 && files.map(_.getLen).sum < cfg.targetFileSize)
          rewriteFiles(dir, files.toSeq)
        else 0L
      }.sum
    case "catalog" =>
      val table = cfg.tableName(signal)
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val dir = new Path(spark.sessionState.catalog.getTableMetadata(ident).location)
      val hfs = fs(dir)
      if (!hfs.exists(dir)) return 0L
      // oldest small files first; one bounded bin-pack per cycle keeps the
      // write amplification O(target_file_size) however large the table is
      val small = hfs.listStatus(dir).filter(SealFrames.isParquetFile)
        .filter(_.getLen < cfg.targetFileSize / 4)
        .sortBy(_.getModificationTime)
      var acc = 0L
      val batch = small.takeWhile { st => acc += st.getLen; acc < cfg.targetFileSize }
      if (batch.length <= 4) 0L
      else {
        val n = rewriteFiles(dir, batch.toSeq)
        spark.catalog.refreshTable(table)
        n
      }
    case _ => 0L
  }
}
