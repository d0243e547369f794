package graft.streaming

import java.security.SecureRandom

/** `otlp_serve`/`otap_serve` named parameters + validation. Error messages
  * mirror the reference's bind errors (test/sql/otlp_serve.test goldens). */
final case class ServerConfig(
    uri: OtlpUriParts,
    token: String,
    authEnabled: Boolean,
    schema: String,
    catalog: String,
    createTables: Boolean,
    transport: String,
    target: String,             // "catalog" | "parquet" | "snapshot"
    parquetRoot: String,
    sealTargetBytes: Long,
    sealMaxAgeMs: Long,
    maxBufferedBytes: Long,
    maxBodyBytes: Long,
    targetFileSize: Long,
    maintenanceRetentionMs: Long,
    maintenanceMinSeals: Long,
    maintenanceMinIntervalMs: Long,
    httpThreads: Int,
    streamRetainSeals: Int,
    promoteResourceAttributes: Seq[String],
    promoteScopeAttributes: Seq[String]) {
  def tableName(signal: String): String = s"$schema.otlp_$signal"
}

object ServerConfig {
  val Signals: Seq[String] = graft.otlp.OtlpSchemas.Signals

  val DefaultSealTargetBytes: Long = 128L * 1024 * 1024
  val DefaultSealMaxAgeMs: Long = 5000L
  val DefaultMaxBufferedBytes: Long = 512L * 1024 * 1024
  val DefaultMaxBodyBytes: Long = 16L * 1024 * 1024

  private val Known = Set(
    "token", "disable_auth", "schema", "catalog", "create_tables",
    "transport", "allow_other_hostname", "target", "parquet_root",
    "parquet_export_path", "http_threads",
    "seal_target_bytes", "seal_max_age_ms", "max_buffered_bytes",
    "max_body_bytes", "target_file_size", "maintenance_retention_ms",
    "maintenance_min_seals", "maintenance_min_interval_ms",
    "stream_retain_seals",
    "promote_resource_attributes", "promote_scope_attributes")

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** The wire a listener runs, decided here alone. otlp_serve defaults to
    * OTLP/HTTP, with transport := 'grpc' selecting OTLP/gRPC unary Export.
    * otap_serve is the OTAP/Arrow gRPC stream only ("otap_serve is
    * gRPC-only — transport must be 'grpc' or omitted", serve.md). The gRPC
    * wire runs on Spark's own netty-codec-http2 (GrpcTransport.scala), no
    * gRPC runtime needed. A gRPC listener exposes no HTTP endpoints
    * (serve.md), so the wires are exclusive per listener; both feed the
    * same admission pipeline and seal core. */
  def transportOf(scheme: String, params: Map[String, String]): String = {
    val t = params.getOrElse("transport", if (scheme == "otap") "grpc" else "http")
    if (scheme == "otap" && t != "grpc")
      fail(s"otap_serve is gRPC-only: transport must be 'grpc' or omitted, got '$t'")
    if (t != "http" && t != "grpc") fail(s"transport must be 'http' or 'grpc', got '$t'")
    t
  }

  def mintToken(): String = {
    val b = new Array[Byte](16)
    new SecureRandom().nextBytes(b)
    graft.otlp.Hex.lower(b)
  }

  def apply(fn: String, uriStr: String, params: Map[String, String]): ServerConfig = {
    params.keys.find(!Known.contains(_)).foreach(k =>
      fail(s"""Invalid named parameter "$k""""))
    val uri = OtlpUri.parse(uriStr)
    if (fn == "otlp_serve" && uri.scheme != "otlp")
      fail("otlp_serve requires an 'otlp:' URI")
    if (fn == "otap_serve" && uri.scheme != "otap")
      fail("otap_serve requires an 'otap:' URI")

    def bool(k: String, d: Boolean) =
      params.get(k).map(_.toBoolean).getOrElse(d)
    def long(k: String, d: Long) = {
      val v = params.get(k).map(_.toLong).getOrElse(d)
      if (v <= 0) fail(s"$k must be greater than zero")
      v
    }
    val allowOther = bool("allow_other_hostname", d = false)
    if (!uri.isLocalhost && !allowOther)
      fail(s"Only localhost is allowed without allow_other_hostname: ${uri.host}")

    val disableAuth = bool("disable_auth", d = false)
    val token = params.get("token") match {
      case Some(t) =>
        if (!disableAuth && t.length < 16)
          fail("OTLP server token must be at least 16 characters long")
        if (disableAuth) "" else t
      case None => if (disableAuth) "" else mintToken()
    }
    val schema = params.getOrElse("schema", "otlp")
    if (schema.isEmpty) fail("schema must not be empty")
    val transport = transportOf(uri.scheme, params)
    // parquet_export_path is the reference's canonical parameter name; the
    // target/parquet_root pair is kept as an accepted spelling of the same
    // thing. A non-empty export path IS the parquet target and is mutually
    // exclusive with a catalog target (reference serve.md, otlp_server.cpp).
    val exportPath = params.getOrElse("parquet_export_path", "")
    if (exportPath.nonEmpty && (params.getOrElse("catalog", "").nonEmpty ||
        params.get("target").contains("catalog")))
      fail("parquet_export_path is mutually exclusive with a catalog target")
    val target =
      if (exportPath.nonEmpty) "parquet"
      else params.getOrElse("target", "catalog")
    // 'snapshot' = the lakehouse layout (SnapshotTarget): snapshot-committed
    // seals over the same parquet_root, retention as snapshot expiry
    if (target != "catalog" && target != "parquet" && target != "snapshot")
      fail(s"target must be 'catalog', 'parquet' or 'snapshot', got '$target'")
    val parquetRoot =
      if (exportPath.nonEmpty) exportPath
      else params.getOrElse("parquet_root", "")
    if (target != "catalog" && parquetRoot.isEmpty)
      fail(s"parquet_root is required when target := '$target'")
    val httpThreads = params.get("http_threads").map(_.toInt).getOrElse(0)
    if (params.contains("http_threads") && httpThreads <= 0)
      fail("http_threads must be greater than zero")

    ServerConfig(
      uri = uri,
      token = token,
      authEnabled = !disableAuth,
      schema = schema,
      catalog = params.getOrElse("catalog", ""),
      createTables = bool("create_tables", d = true),
      transport = transport,
      target = target,
      parquetRoot = parquetRoot,
      sealTargetBytes = long("seal_target_bytes", DefaultSealTargetBytes),
      sealMaxAgeMs = long("seal_max_age_ms", DefaultSealMaxAgeMs),
      maxBufferedBytes = long("max_buffered_bytes", DefaultMaxBufferedBytes),
      maxBodyBytes = long("max_body_bytes", DefaultMaxBodyBytes),
      targetFileSize = long("target_file_size", 128L * 1024 * 1024),
      // maps to the reference's lakehouse SNAPSHOT expiry (expire_older_than
      // / delete_older_than). Plain parquet / managed tables have no
      // snapshot layer, so the knob is enforced as a data-retention TTL
      // during maintenance (SealWriter.expire). The reference's 15-minute
      // default governs only snapshot METADATA — its current data survives
      // expiry — so a TTL that aggressive would eat live rows; the default
      // here is a conservative 7 days instead.
      maintenanceRetentionMs = long("maintenance_retention_ms", 7L * 24 * 3600 * 1000),
      // reference cadence gates: >=32 row-seals AND >=5 min since last run
      maintenanceMinSeals = long("maintenance_min_seals", 32L),
      maintenanceMinIntervalMs = long("maintenance_min_interval_ms", 5L * 60 * 1000),
      httpThreads = httpThreads,
      // committed seals retained in driver memory for MicroBatchStream
      // consumers (sources/OtlpSealStream); 0 = retention off
      streamRetainSeals = {
        val v = params.get("stream_retain_seals").map(_.toInt).getOrElse(0)
        if (v < 0) fail("stream_retain_seals must not be negative")
        v
      },
      promoteResourceAttributes = params.get("promote_resource_attributes")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty),
      promoteScopeAttributes = params.get("promote_scope_attributes")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty))
  }

  private def sanitized(key: String): String =
    key.toLowerCase.map(c => if (c.isLetterOrDigit) c else '_')

  /** promoted column name for a resource attribute key. */
  def promotedColumn(key: String): String = "resource_attr_" + sanitized(key)

  /** promoted column name for a scope attribute key. */
  def promotedScopeColumn(key: String): String = "scope_attr_" + sanitized(key)
}
