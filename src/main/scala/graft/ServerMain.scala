package graft

import graft.streaming.{OtlpServe, OtlpUri, OtlpUriParts, ServerConfig}
import org.apache.spark.sql.SparkSession

/** Standalone server daemon — the Spark analog of the reference's headless
  * `duckdb-otlp-server` binary (`/root/reference/src/server/main.cpp:323-479`,
  * `server_config.cpp`): configuration from environment variables, a
  * readiness wait before declaring startup complete, a health-watch loop
  * that surfaces seal failures as warnings (a failed seal re-buffers and
  * retries, so it must not crash the daemon — main.cpp:159-196), graceful
  * SIGINT/SIGTERM drain through `otlp_stop`, and the exit-code contract:
  * 0 only when the listener stayed healthy AND the final drain dropped no
  * rows (main.cpp:95-115 "review finding M4").
  *
  * Arguments mirror the reference CLI: no args = serve; `healthcheck` =
  * probe the configured listener and exit 0/1 (distroless images ship no
  * curl, so the daemon probes itself — main.cpp:255-290); `help` = usage.
  *
  * Environment (reference spellings with the engine's prefix; main.cpp
  * PrintUsage:292-319):
  *   GRAFT_MODE=catalog|parquet|snapshot    target kind (default catalog)
  *   OTEL_HTTP_ADDR=host:port               bind address (default localhost:4318)
  *   GRAFT_OTLP_LISTEN_URI=otlp:...|otap:...  full URI override of OTEL_HTTP_ADDR
  *   GRAFT_OTLP_TOKEN=...                   bearer token (>=16 chars; minted+warned if unset)
  *   GRAFT_OTLP_DISABLE_AUTH=1              disable auth
  *   GRAFT_OTLP_SCHEMA=otlp                 catalog-mode schema
  *   GRAFT_PARQUET_ROOT=/data/otlp          parquet-mode export root (required)
  *   GRAFT_OTLP_TRANSPORT=http|grpc         otlp: wire (default http); an otap:
  *                                          listener is gRPC only
  *   GRAFT_OTLP_MAX_BODY_BYTES / _MAX_BUFFERED_BYTES / _SEAL_TARGET_BYTES /
  *   _SEAL_MAX_AGE_MS / _TARGET_FILE_SIZE / _MAINTENANCE_RETENTION_MS /
  *   _HTTP_THREADS                          numeric passthroughs
  *   GRAFT_OTLP_STARTUP_TIMEOUT=60          readiness wait seconds
  *   GRAFT_SPARK_MASTER=local[N]            Spark master for the daemon session
  *                                          (N = SPARK_GRAFT_CPUS, else every core;
  *                                          shuffle partitions follow the master)
  *   DRY_RUN=1                              print the planned serve call, exit 0
  */
object ServerMain {

  // Written from signal handlers; the run loop polls it (the reference's
  // volatile sig_atomic_t shutdown_requested — main.cpp:29-33).
  @volatile private var shutdownRequested = false

  /** Request a graceful drain (signal handlers + in-process tests). */
  def requestShutdown(): Unit = { shutdownRequested = true }

  /** Test hook: clear a leftover shutdown request between in-process runs. */
  private[graft] def reset(): Unit = { shutdownRequested = false }

  final case class DaemonConfig(
      listenUri: String,
      serveParams: Map[String, String],
      tokenMinted: Boolean,
      startupTimeoutSecs: Int,
      sparkMaster: String,
      dryRun: Boolean) {
    /** The listen URI and its wire, decided when the config is built so
      * that a bad URI or transport is a config error. A gRPC listener
      * exposes no HTTP /readyz; ServerConfig decides which wire a
      * listener runs. */
    val uri: OtlpUriParts = OtlpUri.parse(listenUri)
    val grpc: Boolean = ServerConfig.transportOf(uri.scheme, serveParams) == "grpc"
  }

  /** Resolve the daemon configuration from an env lookup (injectable for
    * tests; `main` passes `sys.env.get`). Mirrors ServerConfig::FromEnv. */
  def configFromEnv(env: String => Option[String]): DaemonConfig = {
    def truthy(k: String) =
      env(k).exists(v => v == "1" || v.equalsIgnoreCase("true"))
    val addr = env("OTEL_HTTP_ADDR").getOrElse("localhost:4318")
    val listenUri = env("GRAFT_OTLP_LISTEN_URI").getOrElse(s"otlp:$addr")
    val mode = env("GRAFT_MODE").getOrElse("catalog")
    if (mode != "catalog" && mode != "parquet" && mode != "snapshot")
      throw new IllegalArgumentException(
        s"GRAFT_MODE must be catalog|parquet|snapshot, got '$mode'")
    val disableAuth = truthy("GRAFT_OTLP_DISABLE_AUTH")
    val tokenEnv = env("GRAFT_OTLP_TOKEN").filter(_.nonEmpty)
    val tokenMinted = tokenEnv.isEmpty && !disableAuth
    val token = tokenEnv.getOrElse(ServerConfig.mintToken())

    val numeric = Seq(
      "GRAFT_OTLP_MAX_BODY_BYTES" -> "max_body_bytes",
      "GRAFT_OTLP_MAX_BUFFERED_BYTES" -> "max_buffered_bytes",
      "GRAFT_OTLP_SEAL_TARGET_BYTES" -> "seal_target_bytes",
      "GRAFT_OTLP_SEAL_MAX_AGE_MS" -> "seal_max_age_ms",
      "GRAFT_OTLP_TARGET_FILE_SIZE" -> "target_file_size",
      "GRAFT_OTLP_MAINTENANCE_RETENTION_MS" -> "maintenance_retention_ms",
      "GRAFT_OTLP_HTTP_THREADS" -> "http_threads")
      .flatMap { case (e, p) => env(e)
        // documented: GRAFT_OTLP_HTTP_THREADS=auto = the server default
        .filterNot(v => p == "http_threads" && v.equalsIgnoreCase("auto"))
        .map { v =>
          // parsed here, so a bad number fails before any session is built
          val parsed = if (p == "http_threads") v.toIntOption else v.toLongOption
          if (parsed.isEmpty)
            throw new IllegalArgumentException(s"$e must be an integer, got '$v'")
          p -> v
        } }.toMap

    val modeParams =
      if (mode == "parquet" || mode == "snapshot") {
        val root = env("GRAFT_PARQUET_ROOT").filter(_.nonEmpty).getOrElse(
          throw new IllegalArgumentException(
            s"GRAFT_PARQUET_ROOT is required when GRAFT_MODE=$mode"))
        Map("target" -> mode, "parquet_root" -> root)
      } else env("GRAFT_OTLP_SCHEMA").filter(_.nonEmpty)
        .map(s => Map("schema" -> s)).getOrElse(Map.empty)

    DaemonConfig(
      listenUri = listenUri,
      serveParams = Map(
        // the daemon binds whatever address it was configured with; the
        // interactive-session localhost guard is for notebook users
        "allow_other_hostname" -> "true") ++
        (if (disableAuth) Map("disable_auth" -> "true")
         else Map("token" -> token)) ++
        env("GRAFT_OTLP_TRANSPORT").map(t => Map("transport" -> t))
          .getOrElse(Map.empty) ++
        modeParams ++ numeric,
      tokenMinted = tokenMinted,
      startupTimeoutSecs =
        env("GRAFT_OTLP_STARTUP_TIMEOUT").map(_.toInt).getOrElse(60),
      sparkMaster = env("GRAFT_SPARK_MASTER")
        .getOrElse(s"local[${Sessions.cpusIn(env)}]"),
      dryRun = truthy("DRY_RUN"))
  }

  private val LocalMaster = """local\[(\*|\d+)(?:,\d+)?\]""".r

  /** The daemon's shuffle width follows its own master: a local master's
    * thread count, else (a cluster, whose executors are not known before
    * the session starts) the daemon's long-standing 32. */
  private[graft] def shufflePartitions(master: String): Int = master match {
    case "local" => 1
    case LocalMaster("*") => Runtime.getRuntime.availableProcessors
    case LocalMaster(n) => n.toInt
    case _ => 32
  }

  // ---- probes (the reference's OtlpHttpStatusOk / OtlpTcpConnectOk) -------

  /** GET http://host:port/path, true iff it answers 200 within 2 s. */
  def httpStatusOk(host: String, port: Int, path: String): Boolean =
    try {
      val c = new java.net.URI(s"http://$host:$port$path").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setConnectTimeout(2000); c.setReadTimeout(2000)
      try c.getResponseCode == 200 finally c.disconnect()
    } catch { case _: Exception => false }

  /** TCP connect probe — the liveness signal for a gRPC listener, which
    * exposes no HTTP /readyz (main.cpp:262-279). */
  def tcpConnectOk(host: String, port: Int): Boolean =
    try {
      val s = new java.net.Socket()
      try { s.connect(new java.net.InetSocketAddress(host, port), 2000); true }
      finally s.close()
    } catch { case _: Exception => false }

  /** A wildcard bind (0.0.0.0 / ::) is probed on loopback; an explicit
    * interface is probed directly (main.cpp:239-245 "review finding M5"). */
  def healthCheckHost(host: String): String =
    if (host.isEmpty || host == "0.0.0.0" || host == "::") "127.0.0.1" else host

  /** `healthcheck` argument entry: probe the configured listener's actual
    * transport (gRPC = TCP connect, HTTP = /readyz). 0 healthy, 1 not. */
  def runHealthCheck(env: String => Option[String]): Int = {
    val cfg = try configFromEnv(env) catch {
      case e: Exception =>
        System.err.println(s"ERROR: ${e.getMessage}"); return 2
    }
    val host = healthCheckHost(cfg.uri.host)
    val ok = if (cfg.grpc) tcpConnectOk(host, cfg.uri.port)
             else httpStatusOk(host, cfg.uri.port, "/readyz")
    if (ok) 0 else 1
  }

  // ---- lifecycle ----------------------------------------------------------

  /** Run the daemon to completion; returns the process exit code. The run
    * loop is the reference main() sequence: start → wait-ready → watch →
    * drain (main.cpp:338-467). `onReady` fires once the listener passes its
    * readiness probe (in-process tests ingest there). */
  def run(env: String => Option[String],
          onReady: (SparkSession, DaemonConfig) => Unit = (_, _) => ()): Int = {
    // config errors exit with the clean one-line contract, not a stack trace
    val cfg = try configFromEnv(env) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"ERROR: ${e.getMessage}"); return 2
    }

    println("Starting graft otlp server\n")
    println(s"Mode: ${cfg.serveParams.getOrElse("target", "catalog")}")
    println(s"Listen: ${cfg.listenUri} (${cfg.uri.url})")
    if (cfg.tokenMinted)
      // the reference warns when serving with its public built-in dev token
      // (main.cpp:347-352); the analog hazard here is an unset token — the
      // minted secret dies with the process and no client can be configured
      // ahead of time, so an operator almost certainly wants GRAFT_OTLP_TOKEN
      System.err.println(
        "WARNING: GRAFT_OTLP_TOKEN is not set; minted an ephemeral token " +
        s"(${cfg.serveParams("token")}). Set GRAFT_OTLP_TOKEN to a stable " +
        "private value before exposing this server.")

    if (cfg.dryRun) {
      println("\nDRY_RUN=1; planned initialization only.\n")
      println(s"Planned serve call: ${if (cfg.uri.scheme == "otap") "otap_serve"
        else "otlp_serve"}('${cfg.listenUri}') with parameters:")
      cfg.serveParams.toSeq.sortBy(_._1).foreach { case (k, v) =>
        println(s"  $k = ${if (k == "token") "***" else v}")
      }
      return 0
    }

    val spark = Sessions.open(
      Sessions.builder(cfg.sparkMaster, shufflePartitions(cfg.sparkMaster))
        .appName("graft-otlp-server"))

    try {
      if (shutdownRequested) { println("Shutdown requested during startup; exiting."); return 0 }
      if (cfg.uri.scheme == "otap") OtlpServe.otapServe(spark, cfg.listenUri, cfg.serveParams)
      else OtlpServe.otlpServe(spark, cfg.listenUri, cfg.serveParams)

      if (!waitForReady(cfg) && !shutdownRequested)
        throw new RuntimeException("Timed out waiting for OTLP listener readiness")
      println("Spark initialization complete")
      println("Starting server...")
      if (!shutdownRequested) onReady(spark, cfg)

      val listenerOk = watchUntilShutdown(cfg)

      println("Stopping graft-otlp...")
      val stopRow = OtlpServe.otlpStop(spark, cfg.listenUri).head()
      val dropped = stopRow.getLong(1)
      println(s"${stopRow.getString(0)} (dropped_rows=$dropped)")
      if (dropped > 0)
        // reference contract: a drain that dropped buffered rows exits
        // NON-CLEAN so an orchestrator can tell (main.cpp:95-115, M4)
        System.err.println(s"ERROR: shutdown dropped $dropped un-sealed " +
          "buffered rows (the final seal failed); exiting NON-CLEAN.")
      if (listenerOk && dropped == 0) 0 else 1
    } catch {
      case e: Exception if shutdownRequested =>
        // a signal interrupted startup — clean stop (main.cpp:469-473)
        println(s"Shutdown requested during startup; exiting before ready. (${e.getMessage})")
        0
      case e: Exception =>
        System.err.println(s"ERROR: ${e.getMessage}")
        try OtlpServe.stopAll(spark) catch { case _: Exception => () }
        1
    }
  }

  /** Poll listener state + transport probe until ready or timeout
    * (main.cpp WaitForReady:144-157: 250 ms ticks, startup error aborts). */
  private def waitForReady(cfg: DaemonConfig): Boolean = {
    val deadline = System.nanoTime() + cfg.startupTimeoutSecs * 1_000_000_000L
    val host = healthCheckHost(cfg.uri.host)
    while (!shutdownRequested && System.nanoTime() < deadline) {
      OtlpServe.get(cfg.listenUri) match {
        case Some(s) if s.lastError != null =>
          throw new RuntimeException(
            s"OTLP listener failed during startup: ${s.lastError}")
        case Some(s) if s.isListening =>
          // the registry says listening; confirm over the actual wire like
          // the reference's OtlpHttpStatusOk readiness gate
          if (cfg.grpc && tcpConnectOk(host, cfg.uri.port)) return true
          if (!cfg.grpc && httpStatusOk(host, cfg.uri.port, "/readyz")) return true
        case _ => ()
      }
      Thread.sleep(250)
    }
    false
  }

  /** Block until a shutdown signal; health-check the listener once a second,
    * warning on seal failures (re-buffered + retried — not fatal) and
    * returning false if the listener died (main.cpp:159-196). */
  private def watchUntilShutdown(cfg: DaemonConfig): Boolean = {
    var ticks = 0L
    var lastSealFailures = 0L
    while (!shutdownRequested) {
      Thread.sleep(250)
      ticks += 1
      if (ticks % 4 == 0) {
        OtlpServe.get(cfg.listenUri) match {
          case None =>
            System.err.println("ERROR: OTLP listener disappeared from server registry")
            return false
          case Some(s) if !s.isListening =>
            System.err.println("ERROR: OTLP listener stopped" +
              Option(s.lastError).map(e => s": $e").getOrElse(""))
            return false
          case Some(s) =>
            val f = s.sealFailuresTotal.get()
            if (f > lastSealFailures) {
              lastSealFailures = f
              System.err.println(
                s"WARNING: buffered rows are not committing (seal_failures_total=$f)" +
                Option(s.sealLastError).map(e => s": $e").getOrElse(""))
            }
        }
      }
    }
    true
  }

  private val Usage =
    """Usage:
      |
      |  graft.ServerMain [help|healthcheck]
      |
      |Required for parquet / snapshot (lakehouse) modes:
      |
      |  GRAFT_MODE=parquet GRAFT_PARQUET_ROOT=/data/otlp
      |  GRAFT_MODE=snapshot GRAFT_PARQUET_ROOT=/data/otlp
      |
      |Useful common settings:
      |
      |  GRAFT_MODE=catalog
      |  OTEL_HTTP_ADDR=localhost:4318
      |  GRAFT_OTLP_LISTEN_URI=otlp:localhost:4318
      |  GRAFT_OTLP_TOKEN=change-me-at-least-16-chars
      |  GRAFT_OTLP_HTTP_THREADS=auto
      |  GRAFT_OTLP_MAX_BODY_BYTES=16777216
      |  GRAFT_OTLP_MAX_BUFFERED_BYTES=536870912
      |  GRAFT_OTLP_SEAL_TARGET_BYTES=134217728
      |  GRAFT_OTLP_SEAL_MAX_AGE_MS=5000
      |  GRAFT_OTLP_TARGET_FILE_SIZE=268435456
      |  GRAFT_OTLP_MAINTENANCE_RETENTION_MS=604800000
      |  GRAFT_OTLP_STARTUP_TIMEOUT=60
      |  DRY_RUN=1
      |""".stripMargin

  /** Arg dispatch without side effects (testable): Some(exit code) for a
    * terminal argument, None = proceed to serve. */
  private[graft] def dispatch(args: Array[String],
                              env: String => Option[String]): Option[Int] =
    args.headOption match {
      case None => None
      case Some("help") | Some("--help") | Some("-h") =>
        println(Usage); Some(0)
      case Some("healthcheck") => Some(runHealthCheck(env))
      case Some(other) =>
        System.err.println(s"ERROR: unsupported argument: $other")
        println(Usage); Some(1)
    }

  private def installSignalHandlers(): Unit =
    // sun.misc.Signal (jdk.unsupported, present in server JDKs) gives the
    // reference's semantics: the handler only flips the flag and the main
    // thread runs the drain and owns the exit code — a plain shutdown hook
    // cannot return an exit code after SIGTERM
    try {
      import sun.misc.{Signal, SignalHandler}
      val h: SignalHandler = _ => requestShutdown()
      Signal.handle(new Signal("TERM"), h)
      Signal.handle(new Signal("INT"), h)
    } catch { case _: Throwable =>
      // last-resort fallback: flip the flag, then BLOCK the hook on the
      // main thread so the JVM cannot halt before the drain completes
      // (a hook that returns immediately would lose buffered rows; the
      // exit-code contract is still weaker than the signal path)
      val mainThread = Thread.currentThread()
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        requestShutdown()
        try mainThread.join(120000L) catch { case _: InterruptedException => () }
      }))
    }

  def main(args: Array[String]): Unit = {
    dispatch(args, sys.env.get) match {
      case Some(code) => sys.exit(code)
      case None =>
        installSignalHandlers()
        sys.exit(run(sys.env.get))
    }
  }
}
