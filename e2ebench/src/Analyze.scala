package e2ebench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** analyze_traces: a seeded trace forest read through the OTLP/JSON reader,
  * then the iterative trace walks and the trace aggregates, and the query
  * registry's dd_semantic_clusters (k-NN graph, then Dedup's connected
  * components) over seeded embeddings. Spark job count dominates; the
  * reader's share is small. */
final class Analyze(ctx: Ctx) extends Workload {
  import ctx.{a, tracer}
  import graft.operators.Traces
  private val dir = a.inputs.getAbsolutePath
  private val glob = s"$dir/spans/*.jsonl"
  private val registry = s"$dir/registry"

  /** The operators of a pass, each applied to the cached spans; the
    * registry query reads the `embeddings` view instead. */
  private def queries(spark: SparkSession): Seq[(String, DataFrame => DataFrame)] = Seq(
    "trace_tree" -> (Traces.traceTree(_)),
    "critical_path" -> (Traces.criticalPath(_)),
    "self_time" -> (Traces.selfTime(_)),
    "red_metrics" -> (Traces.redMetrics(_)),
    "service_graph" -> (Traces.serviceGraph(_)),
    "semantic_clusters" -> (_ => graft.SparkEntry.queries("dd_semantic_clusters")(spark, registry)))

  /** The registry query registers its own tables on its first call. */
  def setup(spark: SparkSession): Unit =
    graft.Otlp.readTraces(spark, glob).createOrReplaceTempView("spans")

  private var spans = 0L
  private val obs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private def note(k: String, v: Double): Unit = obs.getOrElseUpdate(k, mutable.ArrayBuffer()) += v

  /** One pass: read the spans through the OTLP reader into the cache, then
    * the six operators. Each is built (the call that returns the DataFrame,
    * eager checkpoints included), planned and run into the noop sink; the
    * gate pass collects each output and checks it instead. */
  private def pass(spark: SparkSession, r: Report, record: Boolean, gate: Boolean = false): Double = {
    val t0 = System.nanoTime()
    tracer.span("bench", "analyze_pass") {
      val data = tracer.span("sources", "read")(spark.table("spans").cache())
      r.check(tracer.span("sources", "read")(data.count()) == spans, "the reader's span count changed")
      if (record) note("read_ms", Stat.ms(System.nanoTime() - t0))
      queries(spark).foreach { case (q, f) =>
        val j0 = ctx.listener.map { l => Access.drain(spark); l.jobs.get }
        val b0 = System.nanoTime()
        tracer.span("operators", q) {
          val df = tracer.span("operators", "build")(f(data))
          val p0 = System.nanoTime()
          tracer.span("operators", "plan")(df.queryExecution.executedPlan)
          val e0 = System.nanoTime()
          tracer.span("operators", "exec")(if (gate) check(spark, r, q, df) else ctx.noop(df))
          val e1 = System.nanoTime()
          if (record) {
            note(s"$q.build_ms", Stat.ms(p0 - b0)); note(s"$q.plan_ms", Stat.ms(e0 - p0))
            note(s"$q.exec_ms", Stat.ms(e1 - e0))
          }
        }
        r.attempted += 1
        for (l <- ctx.listener; j <- j0 if record) { Access.drain(spark); note(s"$q.jobs", (l.jobs.get - j).toDouble) }
      }
      data.unpersist(blocking = true)
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** The gate: an output equals the generator's truth row for row. Outputs
    * are small, so both sides are collected and compared as multisets. */
  private def check(spark: SparkSession, r: Report, q: String, out: DataFrame): Unit = {
    val truth = spark.read.parquet(s"$dir/truth_$q.parquet")
    val got = out.select(truth.schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
    def bag(rows: Array[Row]) = rows.toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
    val (want, have) = (bag(truth.collect()), bag(got.collect()))
    val missing = want.map { case (k, n) => math.max(0, n - have.getOrElse(k, 0)) }.sum
    val extra = have.map { case (k, n) => math.max(0, n - want.getOrElse(k, 0)) }.sum
    r.check(missing == 0 && extra == 0, s"$q: $missing truth rows missing, $extra unexpected rows")
  }

  def run(spark: SparkSession, r: Report): Unit = {
    spans = spark.table("spans").count()
    Log(f"gate pass ${pass(spark, r, record = false, gate = true)}%.2fs")
    // Untimed passes. On a 4-core host the program's own CPU per pass stops
    // falling after the third pass; the JIT compilers never stop, since
    // Spark generates code for every query.
    for (_ <- 0 until 2) Log(f"warm-up pass ${pass(spark, r, record = false)}%.2fs")
    // live heap: after a fixed number of passes, the spans held in the cache
    val data = spark.table("spans").cache()
    data.count()
    r.e2e("live_heap_mb") = (Jvm.liveHeapMb(), "MB")
    data.unpersist(blocking = true)
    // whole passes, at least one, for at least `seconds`
    val m = new ctx.Meter
    val passes = mutable.ArrayBuffer[Double]()
    while (passes.isEmpty || m.wallS < a.seconds) {
      passes += pass(spark, r, record = true)
      Log(f"pass ${passes.last}%.2fs")
    }
    val cpu = m.cpuS
    m.stop(r, passes.size)
    val med = Stat.median(passes.toSeq)
    r.layer("rows_per_s") = (spans / med, "rows/s")
    r.layer("operators.pass_ms") = (med * 1000, "ms")
    r.e2e("cpu_s_per_mrow") = (cpu / (spans * passes.size / 1e6), "s/Mrow")
    if (a.trace) {
      obs.foreach { case (k, v) =>
        r.layer(if (k == "read_ms") "sources.read_cache_ms" else s"operators.$k") =
          (Stat.median(v.toSeq), if (k.endsWith("jobs")) "count" else "ms")
      }
      layers(spark, r)
      ctx.spanReport(spark, r, passes.size)
    }
  }

  /** The reader's share: planning, partitions, task time, and the decoders
    * timed single-threaded on this workload's files (OTAP on an encoded
    * logs message, the only OTAP shape the engine encodes). */
  private def layers(spark: SparkSession, r: Report): Unit = {
    val plans = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      val df = tracer.span("sources", "plan") {
        val df = graft.Otlp.readTraces(spark, glob); df.queryExecution.executedPlan; df
      }
      (Stat.ms(System.nanoTime() - t0), df)
    }
    r.layer("sources.plan_ms_p50") = (Stat.median(plans.map(_._1)), "ms")
    ctx.listener.foreach { l =>
      Access.drain(spark); l.taskTimes.clear()
      tracer.span("sources", "scan")(ctx.noop(plans.head._2))
      Access.drain(spark)
      val ts = l.taskTimes.toArray(Array.empty[java.lang.Long]).map(_.toDouble).toSeq
      val bytes = new File(dir, "spans").listFiles().map(f => Files.readAllBytes(f.toPath))
      val parseNs = tracer.span("otlp", "json_traces")(ParseTimer.nsPerRow() {
        bytes.map(ParseTimer.json(_, "traces")).sum
      })
      r.layer("sources.partitions") = (ts.size.toDouble, "count")
      r.layer("sources.task_s_sum") = (ts.sum / 1000, "s")
      r.layer("sources.task_skew") = (ts.max / math.max(Stat.median(ts), 1.0), "ratio")
      r.layer("sources.emit_ns_per_row") = ((ts.sum * 1e6 - parseNs * spans) / spans, "ns/row")
      r.layer("otlp.json_parse_ns_per_row.traces") = (parseNs, "ns/row")
    }
    val (init, _, attrs, _) = graft.otlp.OtapEncoder.logsRecordSlices(2000)
    val otap = graft.otlp.OtapEncoder.batchMessage(1, init, attrs)
    r.layer("otlp.otap_decode_ns_per_row.logs") =
      (tracer.span("otlp", "otap_logs")(ParseTimer.nsPerRow()(ParseTimer.otap(otap))), "ns/row")
  }
}
