package e2ebench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Args(workload: String, inputs: File, work: File, seconds: Int,
                      trace: Boolean, out: File)

object Args {
  def parse(a: Seq[String]): Args = {
    val m = a.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    Args(m("workload"), new File(m("inputs")), new File(m("work")), m("seconds").toInt,
      m("trace") == "1", new File(m("out")))
  }
}

object Log {
  private val t0 = System.nanoTime()
  /** Progress on stderr, which the runner keeps in the run log. */
  def apply(msg: String): Unit = System.err.println(f"[e2ebench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")
}

object Stat {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile, the definition numpy and Spark share. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def ms(ns: Long): Double = ns / 1e6
}

/** Process-level meters: CPU time, JIT and GC time, GC pauses, heap. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the process less its JIT compiler threads: the work the
    * program's own threads and the collector do. */
  def cpuNs: Long = os.getProcessCpuTime - jitCpuNs
  /** CPU time of the JIT compiler threads, summed from each thread's own
    * counters in /proc (the JVMs run with a fixed set of compiler threads,
    * so none exits and takes its count with it). */
  def jitCpuNs: Long = {
    val ticks = new File("/proc/self/task").listFiles().iterator.map { t =>
      try {
        val s = new String(java.nio.file.Files.readAllBytes(new File(t, "stat").toPath), "US-ASCII")
        val name = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))
        if (!name.matches("C[12] CompilerThre.*")) 0L
        else {
          // fields after the name start at field 3; utime and stime are 14 and 15
          val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
    ticks * 10000000L // clock ticks of 10 ms
  }
  /** Heap in use after two full collections: what the live state holds. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
  /** (steal, total) CPU ticks of the host so far: the share of CPU time the
    * hypervisor gave to others, which slows wall clocks but not CPU time. */
  def hostTicks: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  @volatile var recording = false
  val heapPeakAfterGc = new AtomicLong(0)
  val pauseMaxMs = new AtomicLong(0)

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (recording && n.getType == "com.sun.management.gc.notification") {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
            heapPeakAfterGc.accumulateAndGet(after, math.max)
            // concurrent-cycle notifications are not pauses
            if (!info.getGcAction.contains("concurrent") && !info.getGcName.contains("Concurrent"))
              pauseMaxMs.accumulateAndGet(info.getGcInfo.getDuration, math.max)
          }
      }, null, null)
    case _ => ()
  }
}

/** Job/stage/task totals from a benchmark-side listener (traced runs). */
final class Listener extends SparkListener {
  val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong; val taskRunMs = new AtomicLong
  val shuffleWrite = new AtomicLong; val spill = new AtomicLong
  /** Run time (ms) of each finished task, for skew. */
  val taskTimes = new ConcurrentLinkedQueue[java.lang.Long]()
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      taskTimes.add(m.executorRunTime)
    }
  }
  def snapshot: Map[String, Long] = Map("jobs" -> jobs.get, "stages" -> stages.get,
    "tasks" -> tasks.get, "cpu" -> taskCpuNs.get, "run" -> taskRunMs.get,
    "shuffle" -> shuffleWrite.get, "spill" -> spill.get)
}

/** Spans recorded around the benchmark's calls into each layer, kept in
  * memory and written as OTLP/JSON traces when the run ends. */
final class Tracer(enabled: Boolean) {
  /** Spans are kept only while a measured phase runs. */
  @volatile var on = false
  final case class Span(trace: String, id: String, parent: String, name: String,
                        layer: String, startNs: Long, endNs: Long)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val current = new ThreadLocal[(String, String)]
  /** Time spent inside the tracer itself: the overhead it can see. */
  val selfNs = new AtomicLong

  private def newId(): String = f"${ids.getAndIncrement()}%016x"

  /** Record `body` as a span of `layer`; a span opened with no enclosing
    * span starts a new trace. */
  def span[A](layer: String, name: String)(body: => A): A = {
    if (!enabled || !on) return body
    val t0 = System.nanoTime()
    val outer = current.get()
    val trace = if (outer == null) f"${ids.getAndIncrement()}%032x" else outer._1
    val id = newId()
    current.set(trace -> id)
    val t1 = System.nanoTime()
    try body
    finally {
      val t2 = System.nanoTime()
      current.set(outer)
      spans.add(Span(trace, id, if (outer == null) null else outer._2, name, layer, t1, t2))
      selfNs.addAndGet((t1 - t0) + (System.nanoTime() - t2))
    }
  }

  /** A span of the measured phase timed elsewhere (seal cycles, generator
    * requests), as a trace of its own. */
  def record(layer: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(f"${ids.getAndIncrement()}%032x", newId(), null, name, layer, startNs, endNs))

  def writeOtlpJson(f: File): Int = {
    val all = spans.asScala.toSeq
    val byLayer = all.groupBy(_.layer).toSeq.sortBy(_._1)
    val sb = new StringBuilder("{\"resourceSpans\":[")
    byLayer.zipWithIndex.foreach { case ((layer, ss), li) =>
      if (li > 0) sb.append(',')
      sb.append(s"""{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"$layer"}}]},""")
      sb.append("\"scopeSpans\":[{\"scope\":{\"name\":\"e2ebench\"},\"spans\":[")
      ss.zipWithIndex.foreach { case (s, i) =>
        if (i > 0) sb.append(',')
        sb.append(s"""{"traceId":"${s.trace}","spanId":"${s.id}",""")
        if (s.parent != null) sb.append(s""""parentSpanId":"${s.parent}",""")
        sb.append(s""""name":"${s.name}","kind":1,"startTimeUnixNano":"${s.startNs + epochOffsetNs}",""" +
          s""""endTimeUnixNano":"${s.endNs + epochOffsetNs}"}""")
      }
      sb.append("]}]}")
    }
    sb.append("]}\n")
    Gen.writeText(f, sb.toString)
    all.size
  }
}

/** What a run reports: end-to-end metrics (untraced) or per-layer ones. */
final class Report {
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val errors = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  def check(ok: Boolean, what: => String): Unit = if (!ok) errors += what
  def json: String = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val errs = errors.map(e => "\"" + e.replace("\\", "\\\\").replace("\"", "'").replace("\n", " ") + "\"")
    s"""{"correct":${errors.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""e2e":${obj(e2e)},"layer":${obj(layer)},"errors":${errs.mkString("[", ",", "]")}}"""
  }
}

object Session {
  def build(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("e2ebench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Single-threaded decoder timings on a workload's own inputs. */
object ParseTimer {
  /** ns per row of `parse`, repeated for at least `minMs` and 3 calls. */
  def nsPerRow(minMs: Long = 150)(parse: => Int): Double = {
    parse // warm
    var rows = 0L; var calls = 0
    val t0 = System.nanoTime()
    while (calls < 3 || System.nanoTime() - t0 < minMs * 1000000L) { rows += parse; calls += 1 }
    (System.nanoTime() - t0).toDouble / math.max(rows, 1)
  }
  def json(bytes: Array[Byte], sig: String): Int = graft.otlp.OtlpJsonParser.parse(bytes).signal(sig).size
  def pb(bytes: Array[Byte], family: String): Int =
    graft.otlp.OtlpProtoParser.parse(bytes, family, nsAsLong = false).rows.values.map(_.size).sum
  def otap(bytes: Array[Byte]): Int = graft.otlp.OtapDecoder.parse(bytes, nsAsLong = false).signal("logs").size
}

object Access {
  def drain(spark: SparkSession): Unit = org.apache.spark.E2eBenchAccess.drain(spark.sparkContext)
}
