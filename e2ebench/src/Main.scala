package e2ebench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One workload: set-up (what a user does before the first request or
  * query), the measured run, and the correctness gates. */
trait Workload {
  def setup(spark: SparkSession): Unit
  def teardown(spark: SparkSession): Unit = ()
  def run(spark: SparkSession, r: Report): Unit
}

/** Context shared by the workloads of one run. */
final class Ctx(val a: Args) {
  val tracer = new Tracer(a.trace)
  val listener: Option[Listener] = if (a.trace) Some(new Listener) else None
  def attach(spark: SparkSession): Unit = listener.foreach(spark.sparkContext.addSparkListener)

  /** The meters of one measured phase, from construction to `stop`: CPU,
    * GC, Spark totals, and whether spans are kept. */
  final class Meter {
    private val cpu0 = Jvm.cpuNs; private val gc0 = Jvm.gcMs; private val jit0 = Jvm.jitCpuNs
    private val t0 = System.nanoTime()
    private val l0 = listener.map(_.snapshot)
    private val host0 = Jvm.hostTicks
    Jvm.recording = true
    tracer.on = true
    def cpuS: Double = (Jvm.cpuNs - cpu0) / 1e9
    def wallS: Double = (System.nanoTime() - t0) / 1e9
    def stop(r: Report, units: Double): Unit = {
      Jvm.recording = false
      tracer.on = false
      r.layer("trace.overhead_pct") = (tracer.selfNs.get / 1e9 / wallS * 100, "%")
      val host1 = Jvm.hostTicks
      r.layer("host.steal_pct") = (100.0 * (host1._1 - host0._1) / math.max(host1._2 - host0._2, 1), "%")
      r.layer("jvm.gc_s") = ((Jvm.gcMs - gc0) / 1000.0, "s")
      r.layer("jvm.jit_cpu_s") = ((Jvm.jitCpuNs - jit0) / 1e9, "s")
      r.layer("jvm.gc_pause_max_ms") = (Jvm.pauseMaxMs.get.toDouble, "ms")
      val d = (for (l <- listener; a <- l0) yield l.snapshot.map { case (k, v) => k -> (v - a(k)) / units })
        .getOrElse(Map.empty[String, Double].withDefaultValue(0.0))
      r.layer("spark.jobs") = (d("jobs"), "count")
      r.layer("spark.stages") = (d("stages"), "count")
      r.layer("spark.tasks") = (d("tasks"), "count")
      r.layer("spark.task_cpu_s") = (d("cpu") / 1e9, "s")
      r.layer("spark.shuffle_write_mb") = (d("shuffle") / 1e6, "MB")
      r.layer("spark.spill_mb") = (d("spill") / 1e6, "MB")
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Write the spans as OTLP/JSON, load them back through the engine's own
    * reader, and report per-layer self time with its trace operators. */
  def spanReport(spark: SparkSession, r: Report, units: Double): Unit = {
    val layers = Seq("bench", "gen", "streaming", "otlp", "sources", "operators")
    if (!a.trace) return
    val f = new File(a.work, "spans.json")
    val n = tracer.writeOtlpJson(f)
    val df = graft.Otlp.readTraces(spark, f.getAbsolutePath)
    val loaded = df.count()
    r.check(loaded == n, s"span file: wrote $n spans, Otlp.readTraces read $loaded")
    val self = graft.operators.Traces.selfTime(df).collect()
      .map(x => x.getAs[String]("service_name") -> x.getAs[Long]("self_ns")).toMap
    layers.foreach(l => r.layer(s"selftime.${l}_ms") = (self.getOrElse(l, 0L) / 1e6 / units, "ms"))
    val cp = graft.operators.Traces.criticalPath(df).collect()
    r.check(cp.forall(_.getAs[Boolean]("reached_root")), "span file: a critical path ends on a dangling parent")
    r.layer("trace.spans") = (n.toDouble, "count")
    r.layer("trace.critical_path_hops_max") =
      (if (cp.isEmpty) 0.0 else cp.map(_.getAs[Int]("n_hops")).max.toDouble, "count")
  }
}

object Main {
  def main(args: Array[String]): Unit = args.head match {
    case "gen-ingest" => Inputs.genIngest(args(1).toLong, new File(args(2)))
    case "loadgen" => LoadGen.main(args.tail)
    case "oracle-sql" => Gen.writeText(new File(args(2)), graft.SparkEntry.oracleSql(args(1)))
    case "run" =>
      val code = try run(Args.parse(args.tail.toSeq)) catch {
        case e: Throwable => e.printStackTrace(); 1
      }
      System.exit(code)
  }

  def run(a: Args): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Jvm.install()
    val ctx = new Ctx(a)
    val w: Workload = a.workload match {
      case "analyze_traces" => new Analyze(ctx)
      case "ingest_http_pb" => new Ingest(ctx)
    }
    val r = new Report
    // set-up, timed from JVM start: what a user waits for before the first
    // request or query
    val spark = Session.build(a.work)
    w.setup(spark)
    r.e2e("setup_s") = ((System.currentTimeMillis() - jvmStartMs) / 1000.0, "s")
    Log(s"set-up ${r.e2e("setup_s")._1}")
    ctx.attach(spark)
    try w.run(spark, r)
    finally { w.teardown(spark) }
    r.layer("jvm.heap_peak_after_gc_mb") = (Jvm.heapPeakAfterGc.get / 1e6, "MB")
    Log("run done")
    if (a.trace) r.e2e.foreach { case (k, v) => r.layer(s"traced.$k") = v }
    Gen.writeText(a.out, r.json)
    spark.stop()
    0
  }
}
