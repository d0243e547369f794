package graft

import graft.operators.Traces
import org.apache.spark.sql.functions._

/** Span-tree rollup semantics: depth/forest/critical-path by hand, orphan
  * convention, and pointer-doubling convergence on chains much deeper than
  * one round covers. */
class TracesSpec extends SparkTestBase {

  test("trace tree on the fixture: hand-computed depth, roots, critical path") {
    val got = Traces.traceTree(
        Otlp.readTraces(spark, "/root/repo/src/test/resources/otlp/tree_traces.jsonl"))
      .collect().map(r => r.getString(0).take(2) ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_roots"),
          r.getAs[Int]("max_depth"), r.getAs[Long]("critical_path_ns"),
          r.getAs[Long]("total_span_ns"))).toMap
    // t1: A(10) -> {B(20) -> D(40), C(30)}: critical A+B+D
    assert(got("aa") == ((4L, 1L, 2, 70L, 100L)), got)
    // t2: forest — E(5)->F(7) plus orphan G(9) whose parent is dangling
    assert(got("bb") == ((3L, 2L, 1, 12L, 21L)), got)
    // t3: 6-chain, durations 1..6: depth 5, critical = 21
    assert(got("cc") == ((6L, 1L, 5, 21L, 21L)), got)
  }

  test("pointer doubling resolves chains far deeper than one round: " +
    "depth-40 chain needs ceil(log2) rounds, not 40 joins") {
    import spark.implicits._
    val n = 41 // depth 40 < 2^6
    val spans = (0 until n).map { i =>
      ("t1", f"s$i%03d", if (i == 0) null else f"s${i - 1}%03d", (i + 1).toLong)
    }.toDF("trace_id", "span_id", "parent_span_id", "duration_time_unix_nano")
    val r = Traces.traceTree(spans).collect().head
    assert(r.getAs[Long]("n_spans") == n)
    assert(r.getAs[Long]("n_roots") == 1L)
    assert(r.getAs[Int]("max_depth") == n - 1)
    // critical path = full chain sum 1+..+41
    assert(r.getAs[Long]("critical_path_ns") == n.toLong * (n + 1) / 2)
    // an insufficient blind budget AUTO-EXTENDS to convergence: 2 rounds
    // cover depth 4, but the guard keeps doubling until every span reaches
    // its root — never a silent 2^rounds truncation
    val shallow = Traces.traceTree(spans, rounds = 2).collect().head
    assert(shallow.getAs[Int]("max_depth") == n - 1)
  }

  test("depth-100 chain resolves EXACTLY past the default 2^6 budget") {
    import spark.implicits._
    val n = 101 // depth 100 > 2^6: one extra convergence round past default
    val spans = (0 until n).map { i =>
      ("t1", f"s$i%03d", if (i == 0) null else f"s${i - 1}%03d", 1L)
    }.toDF("trace_id", "span_id", "parent_span_id", "duration_time_unix_nano")
    val r = Traces.traceTree(spans).collect().head
    assert(r.getAs[Int]("max_depth") == n - 1)
    assert(r.getAs[Long]("critical_path_ns") == n.toLong)
  }

  test("parent-pointer cycle degrades PER TRACE: the cyclic trace flags " +
    "converged=false, healthy traces in the same batch stay exact") {
    import spark.implicits._
    val spans = Seq(
      ("t1", "sa", "sb", 1L), ("t1", "sb", "sa", 1L), // 2-cycle
      ("t1", "sr", null, 1L),                         // plus a real root
      ("t2", "sx", null, 5L), ("t2", "sy", "sx", 7L)) // healthy trace
      .toDF("trace_id", "span_id", "parent_span_id", "duration_time_unix_nano")
    val got = Traces.traceTree(spans).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(!got("t1").getAs[Boolean]("converged"),
      "cyclic trace must be flagged")
    val t2 = got("t2")
    assert(t2.getAs[Boolean]("converged"))
    assert(t2.getAs[Long]("n_spans") == 2L &&
      t2.getAs[Int]("max_depth") == 1 &&
      t2.getAs[Long]("critical_path_ns") == 12L,
      s"healthy trace must stay exact: $t2")
  }

  test("criticalPath: walks UP from the last-finishing span (a greedy " +
    "walk down would miss a late leaf under an early-ending mid); " +
    "dangling parents and cycles stay bounded and flagged") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(ms: Long) = new java.sql.Timestamp(t0.getTime + ms)
    val spans = Seq(
      // ta: mid ends EARLY (10ms) but its leaf ends last (200ms); the
      // sibling othr ends at 150ms — the chain must route through mid
      ("ta", "s1", null, "root", ts(0), 100000000L),
      ("ta", "s2", "s1", "mid", ts(1), 9000000L),
      ("ta", "s3", "s2", "leaf", ts(5), 195000000L),
      ("ta", "s4", "s1", "othr", ts(0), 150000000L),
      // tb: a parent-pointer cycle — the walk must stop, not loop
      ("tb", "b1", "b2", "cyc-a", ts(0), 5000000L),
      ("tb", "b2", "b1", "cyc-b", ts(0), 7000000L),
      // tc: dangling parent — chain ends, does NOT claim the root
      ("tc", "c1", "zz", "orph", ts(0), 3000000L))
      .toDF("trace_id", "span_id", "parent_span_id", "name",
        "start_time_unix_nano", "duration_time_unix_nano")
    val got = Traces.criticalPath(spans).collect().map(r =>
      r.getAs[String]("trace_id") -> ((r.getAs[String]("path"),
        r.getAs[Int]("n_hops"), r.getAs[Long]("path_dur_ns"),
        r.getAs[Boolean]("reached_root")))).toMap
    assert(got("ta") == (("root>mid>leaf", 2, 304000000L, true)), got)
    val (_, hops, _, rr) = got("tb")
    assert(!rr && hops <= 20, got("tb"))
    assert(got("tc") == (("orph", 0, 3000000L, false)), got)
  }

  test("traceTree and criticalPath on no spans: empty results, not a " +
    "missing round count") {
    import spark.implicits._
    val spans = Seq.empty[(String, String, String, String,
        java.sql.Timestamp, Long)]
      .toDF("trace_id", "span_id", "parent_span_id", "name",
        "start_time_unix_nano", "duration_time_unix_nano")
    assert(Traces.traceTree(spans).collect().isEmpty)
    assert(Traces.criticalPath(spans).collect().isEmpty)
  }

  test("exception report: events named 'exception' only, replay-safe, " +
    "typed + counted per service — hand-computed golden") {
    val got = Traces.exceptionReport(
        Otlp.readTraces(spark, "src/test/resources/otlp/exception_traces.jsonl"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_spans"),
          r.getAs[Long]("n_traces"), r.getAs[String]("sample_message"))).toMap
    assert(got == Map(
      // replayed span (fixture line 3) must not double boom1's counts;
      // the 'retry' event never reports
      ("svc-api", "java.lang.IllegalStateException") -> ((2L, 2L, 1L, "boom1")),
      ("svc-db", "TimeoutError") -> ((2L, 1L, 1L, "slow"))), got)
  }

  test("self time: duration minus DIRECT children only; concurrent " +
    "children may drive a span's self time negative (reported as-is)") {
    import spark.implicits._
    // t1: A(100) -> {B(30) -> D(10), C(20)}: self A=50, B=20, C=20, D=10
    // t2: E(10) -> {F(7), G(8)} concurrent: self E = 10-15 = -5
    val spans = Seq(
      ("t1", "a", null, "front", 100L), ("t1", "b", "a", "back", 30L),
      ("t1", "c", "a", "back", 20L), ("t1", "d", "b", "db", 10L),
      ("t2", "e", null, "front", 10L), ("t2", "f", "e", "db", 7L),
      ("t2", "g", "e", "db", 8L),
      ("t1", "a", null, "front", 100L)) // at-least-once replay: dropped
      .toDF("trace_id", "span_id", "parent_span_id", "service_name",
        "duration_time_unix_nano")
    val got = Traces.selfTime(spans).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("self_ns"),
          r.getAs[Long]("total_ns"))).toMap
    assert(got == Map(
      "front" -> ((2L, 45L, 110L)), // A self 50 + E self -5
      "back" -> ((2L, 40L, 50L)),
      "db" -> ((3L, 25L, 25L))), got)
  }

  test("service graph: hand-computed edges, roots/orphans contribute none") {
    val got = Traces.serviceGraph(
        Otlp.readTraces(spark, "/root/repo/src/test/resources/otlp/services_traces.jsonl"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_calls"), r.getAs[Long]("total_callee_ns"))).toMap
    assert(got == Map(
      ("svc-front", "svc-front") -> ((1L, 20L)),  // auth under GET /
      ("svc-front", "svc-back") -> ((1L, 30L)),   // rpc under auth
      ("svc-back", "svc-back") -> ((1L, 40L)),    // plan under rpc
      ("svc-back", "svc-db") -> ((2L, 110L)),     // q1+q2 under plan
      ("svc-front", "svc-db") -> ((1L, 15L))      // q3 under GET /x (trace 2)
    ), got)
    // the two roots (no parent) appear in no edge: 8 spans - 2 roots
    assert(got.values.map(_._1).sum == 6L)
  }

  test("red metrics + tail sampling on the red fixture: hand-computed " +
    "rollup; error/slow always kept, clean traces only by hash") {
    val spans = Otlp.readTraces(spark,
      "/root/repo/src/test/resources/otlp/red_traces.jsonl")
    val red = Traces.redMetrics(spans).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_errors"),
          r.getAs[Long]("total_ns"), r.getAs[Long]("max_ns"))).toMap
    assert(red(("svc-front", "GET /a")) == ((2L, 0L, 140L, 100L)), red)
    assert(red(("svc-front", "call")) == ((2L, 1L, 70L, 50L)), red)
    assert(red(("svc-back", "work")) == ((2L, 0L, 1530L, 1500L)), red)
    assert(red(("svc-front", "GET /b")) == ((1L, 0L, 2000L, 2000L)), red)
    // tail sampling: the error trace and the slow trace are ALWAYS kept,
    // whole-trace, regardless of the hash; rate 0 drops every clean trace
    val kept0 = Traces.tailSample(spans, slowNs = 1000L, sampleRate = 0.0)
      .select("trace_id", "keep_reason").distinct().collect()
      .map(r => r.getString(0).takeRight(1) -> r.getString(1)).toMap
    assert(kept0 == Map("1" -> "error", "2" -> "slow"), kept0)
    // rate 1 keeps the clean trace too, as 'sampled', with ALL its spans
    val kept1 = Traces.tailSample(spans, slowNs = 1000L, sampleRate = 1.0)
    assert(kept1.count() == spans.count())
    assert(kept1.where(col("trace_id").endsWith("3"))
      .select("keep_reason").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("sampled"))
    // reason precedence: an error trace that is also slow reads 'error'
    val both = Traces.tailSample(
      spans.withColumn("status_code",
        when(col("trace_id").endsWith("2"), 2).otherwise(col("status_code"))),
      slowNs = 1000L, sampleRate = 0.0)
    assert(both.where(col("trace_id").endsWith("2"))
      .select("keep_reason").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("error"))
  }

  test("headSample: whole-trace hash verdict, map-only, rates 0/1 exact, " +
    "matches hashUnitLocal") {
    val spans = Otlp.readTraces(spark,
      "/root/repo/src/test/resources/otlp/red_traces.jsonl")
    assert(Traces.headSample(spans, rate = 0.0).count() == 0)
    assert(Traces.headSample(spans, rate = 1.0).count() == spans.count())
    val kept = Traces.headSample(spans, rate = 0.5)
    // every span of a trace gets the same verdict, and the verdict is the
    // shared md5 hash-unit convention (bit-identical to the local twin)
    val keptTraces = kept.select("trace_id").distinct().collect()
      .map(_.getString(0)).toSet
    val allTraces = spans.select("trace_id").distinct().collect()
      .map(_.getString(0)).toSet
    allTraces.foreach { t =>
      val expect = operators.Sampling.hashUnitLocal(t, "head") < 0.5
      assert(keptTraces.contains(t) == expect, s"trace $t")
      val nKept = kept.where(col("trace_id") === t).count()
      val nAll = spans.where(col("trace_id") === t).count()
      assert(nKept == (if (expect) nAll else 0L), s"partial trace $t")
    }
    val p = kept.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"head sampling must be a map-only filter:\n$p")
  }

  test("topSlowSpans: k per service, duration-desc with deterministic " +
    "tiebreak, replayed span counted once") {
    import spark.implicits._
    val spans = Seq(
      ("t1", "s1", "svc", "a", 300L),
      ("t1", "s2", "svc", "b", 500L),
      ("t1", "s2", "svc", "b", 500L), // byte-equal replay
      ("t2", "s1", "svc", "c", 500L), // ties 500: t1<t2 wins rank 1
      ("t2", "s2", "other", "d", 50L))
      .toDF("trace_id", "span_id", "service_name", "name",
        "duration_time_unix_nano")
    val got = Traces.topSlowSpans(spans, k = 2).collect()
      .map(r => (r.getAs[String]("service_name"), r.getAs[Int]("rnk")) ->
        (r.getAs[String]("trace_id"), r.getAs[String]("span_id"),
          r.getAs[Long]("dur_ns"))).toMap
    assert(got == Map(
      ("svc", 1) -> (("t1", "s2", 500L)),
      ("svc", 2) -> (("t2", "s1", 500L)),
      ("other", 1) -> (("t2", "s2", 50L))), got)
  }

  test("slowOutliers: baseline-relative per-endpoint quantile, small " +
    "groups skipped, broadcast verdict") {
    import spark.implicits._
    val spans = ((1 to 5).map(i => ("t1", s"s$i", "svc", "GET /", i * 100L))
      :+ (("t2", "s1", "svc", "rare", 9999L))) // 1-span group: no baseline
      .toDF("trace_id", "span_id", "service_name", "name",
        "duration_time_unix_nano")
    val df = Traces.slowOutliers(spans, q = 0.5, minSpans = 2)
    val got = df.collect()
      .map(r => r.getAs[String]("span_id") ->
        (r.getAs[Long]("dur_ns"), r.getAs[Double]("threshold_ns"),
          r.getAs[Double]("exceedance"))).toMap
    // durations 100..500: q=0.5 interpolates to 300; outliers 300,400,500
    assert(got == Map(
      "s3" -> ((300L, 300.0, 1.0)),
      "s4" -> ((400L, 300.0, 1.3333)),
      "s5" -> ((500L, 300.0, 1.6667))), got)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"baseline must broadcast back, never shuffle the corpus for it:\n$p")
  }

  test("errorOriginators: the deepest error of a propagation chain " +
    "originates; relays do not; ok children irrelevant") {
    import spark.implicits._
    val spans = Seq(
      // chain: gw(err) <- be(err) <- db(err originator); ok sibling
      ("e1", "g1", null: String, "gw", "route", 2),
      ("e1", "b1", "g1", "be", "handle", 2),
      ("e1", "b2", "g1", "be", "audit", 1),
      ("e1", "d1", "b1", "db", "query", 2),
      // lone error with no children: originator
      ("e2", "f1", null: String, "fe", "load", 2),
      ("e2", "f1", null: String, "fe", "load", 2)) // replay
      .toDF("trace_id", "span_id", "parent_span_id", "service_name",
        "name", "status_code")
    val got = Traces.errorOriginators(spans).collect()
      .map(r => (r.getAs[String]("service_name"),
        r.getAs[String]("span_name")) ->
        (r.getAs[Long]("n_errors"), r.getAs[Long]("n_originating"),
          r.getAs[Double]("origination_ratio"))).toMap
    assert(got == Map(
      ("gw", "route") -> ((1L, 0L, 0.0)),
      ("be", "handle") -> ((1L, 0L, 0.0)),
      ("db", "query") -> ((1L, 1L, 1.0)),
      ("fe", "load") -> ((1L, 1L, 1.0))), got)
  }

  test("apdex + burnRate: hand-computed goldens, replay counted once") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val spans = Seq(
      ("t1", "s1", "svc", 2, 40L, ts("2024-01-01 00:00:10")),   // err, satisfied
      ("t1", "s2", "svc", 0, 120L, ts("2024-01-01 00:01:10")),  // tolerating
      ("t1", "s2", "svc", 0, 120L, ts("2024-01-01 00:01:10")),  // replay
      ("t2", "s1", "svc", 0, 900L, ts("2024-01-01 00:06:10")),  // frustrated, next window
      ("t3", "s1", "other", 0, 10L, ts("2024-01-01 00:00:20")))
      .toDF("trace_id", "span_id", "service_name", "status_code",
        "duration_time_unix_nano", "start_time_unix_nano")
    val ap = Traces.apdex(spans, thresholdNs = 50L).collect()
      .map(r => r.getAs[String]("service_name") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("satisfied"),
          r.getAs[Long]("tolerating"), r.getAs[Long]("frustrated"),
          r.getAs[Double]("apdex"))).toMap
    assert(ap == Map(
      "svc" -> ((3L, 1L, 1L, 1L, 0.5)), // (1 + 0.5) / 3
      "other" -> ((1L, 1L, 0L, 0L, 1.0))), ap)
    val br = Traces.burnRate(spans, sloTarget = 0.99, windowSec = 300)
      .collect()
      .map(r => (r.getAs[String]("service_name"),
        r.getAs[java.sql.Timestamp]("window_start").toString) ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_errors"),
          r.getAs[Double]("burn_rate"))).toMap
    assert(br == Map(
      ("svc", "2024-01-01 00:00:00.0") -> ((2L, 1L, 50.0)), // 0.5 / 0.01
      ("svc", "2024-01-01 00:05:00.0") -> ((1L, 0L, 0.0)),
      ("other", "2024-01-01 00:00:00.0") -> ((1L, 0L, 0.0))), br)
  }

  test("at-least-once replayed span rows change nothing: tree and graph " +
    "results equal the dedup'd input's") {
    import spark.implicits._
    val once = Seq(
      ("t1", "a", null, "svc-x", 10L, 0),
      ("t1", "b", "a", "svc-x", 20L, 0),
      ("t1", "c", "b", "svc-y", 30L, 2)
    ).toDF("trace_id", "span_id", "parent_span_id", "service_name",
      "duration_time_unix_nano", "status_code")
    // the seal export's at-least-once: the PARENT row replays 3 times —
    // without the distinct this multiplies state in every doubling hop
    val replayed = once.unionAll(once.where(col("span_id") === "a"))
      .unionAll(once.where(col("span_id") === "a"))
    val t1 = Traces.traceTree(once).collect().head
    val t2 = Traces.traceTree(replayed).collect().head
    assert(t1.getAs[Long]("n_spans") == 3L && t2.getAs[Long]("n_spans") == 3L)
    assert(t1.getAs[Long]("total_span_ns") == 60L &&
      t2.getAs[Long]("total_span_ns") == 60L)
    assert(t2.getAs[Long]("critical_path_ns") == 60L)
    val g1 = Traces.serviceGraph(once).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_calls")).toMap
    val g2 = Traces.serviceGraph(replayed).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_calls")).toMap
    assert(g1 == g2 && g1 == Map(
      ("svc-x", "svc-x") -> 1L, ("svc-x", "svc-y") -> 1L), (g1, g2))
  }

  test("spanConcurrency: back-to-back spans never overlap (end processes " +
    "before start at the same instant), peak_time is the earliest peak, " +
    "replayed rows change nothing") {
    import spark.implicits._
    val us = 1640000000000000L
    val spans = Seq(
      // s1 [0,100us) and s2 [50us,150us) overlap -> peak 2 at t=50us
      ("A", "s1", us, 100000L), ("A", "s2", us + 50, 100000L),
      // s3 starts EXACTLY at s2's end: end-exclusive, stays at peak<=2
      ("A", "s3", us + 150, 50000L),
      ("B", "b1", us, 1000L))
      .toDF("service_name", "span_id", "t_us", "duration_time_unix_nano")
      .withColumn("start_time_unix_nano", timestamp_micros(col("t_us")))
      .drop("t_us")
    val replayed = spans.unionAll(spans.where(col("span_id") === "s1"))
    for (in <- Seq(spans, replayed)) {
      val got = Traces.spanConcurrency(in).collect()
        .map(r => r.getAs[String]("service_name") ->
          ((r.getAs[Long]("peak_concurrency"), r.getAs[Long]("peak_time_ns"),
            r.getAs[Long]("n_spans")))).toMap
      assert(got == Map(
        "A" -> ((2L, (us + 50) * 1000L, 3L)),
        "B" -> ((1L, us * 1000L, 1L))), got)
    }
  }

  test("traceCompleteness: orphan parents counted (not forgiven), empty " +
    "parent is a root, two-root traces flag incomplete, replay-safe") {
    import spark.implicits._
    val spans = Seq(
      // t1: clean tree
      ("t1", "a", null: String), ("t1", "b", "a"),
      // t2: orphan parent x + a second root
      ("t2", "a", ""), ("t2", "b", "x"), ("t2", "c", null: String),
      // t3: single span pointing at itself's missing parent
      ("t3", "a", "zz"))
      .toDF("trace_id", "span_id", "parent_span_id")
    val replayed = spans.unionAll(spans.limit(2))
    for (in <- Seq(spans, replayed)) {
      val got = Traces.traceCompleteness(in).collect()
        .map(r => r.getAs[String]("trace_id") ->
          ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_roots"),
            r.getAs[Long]("n_orphans"), r.getAs[Boolean]("complete"))))
        .toMap
      assert(got == Map(
        "t1" -> ((2L, 1L, 0L, true)),
        "t2" -> ((3L, 2L, 1L, false)),
        "t3" -> ((1L, 0L, 1L, false))), got)
    }
  }

  test("latencyShift: split percentiles hand-computed, one-sided " +
    "endpoints report nulls (no fabricated ratio), zero-before guards") {
    import spark.implicits._
    val us = 1640000000000000L
    val split = new java.sql.Timestamp(1640000300000L)
    def sp(id: String, name: String, offSec: Long, durNs: Long) =
      ("t1", id, "svc", name, us + offSec * 1000000L, durNs)
    val spans = Seq(
      sp("s1", "GET /a", 10, 100L), sp("s2", "GET /a", 20, 200L),
      sp("s3", "GET /a", 30, 300L), sp("s4", "GET /a", 310, 400L),
      sp("s5", "GET /a", 320, 500L), sp("s6", "GET /a", 330, 600L),
      sp("s7", "new", 340, 900L), // after only
      sp("s8", "old", 40, 700L)) // before only
      .toDF("trace_id", "span_id", "service_name", "name", "t_us",
        "duration_time_unix_nano")
      .withColumn("start_time_unix_nano", timestamp_micros(col("t_us")))
      .drop("t_us")
    val got = Traces.latencyShift(spans, split).collect()
      .map(r => r.getAs[String]("span_name") ->
        ((r.getAs[Long]("n_before"), r.getAs[Long]("n_after"),
          Option(r.getAs[java.lang.Double]("p95_before")),
          Option(r.getAs[java.lang.Double]("p95_after")),
          Option(r.getAs[java.lang.Double]("p95_ratio"))))).toMap
    // before {100,200,300}: p95 = 200 + 0.9*100 = 290; after: 590
    assert(got("GET /a") ==
      ((3L, 3L, Some(290.0), Some(590.0), Some(2.034483))), got)
    assert(got("new") == ((0L, 1L, None, Some(900.0), None)), got)
    assert(got("old") == ((1L, 0L, Some(700.0), None, None)), got)
  }

  test("traceFanout: leaves/max/avg hand-computed; a dangling parent's " +
    "children are nobody's children") {
    import spark.implicits._
    val spans = Seq(
      // ta: root r with 3 children, one child has 1 child -> leaves 3,
      // max fanout 3, internal spans {r:3, c1:1} -> avg (3+1)/2 = 2.0
      ("ta", "r", null), ("ta", "c1", "r"), ("ta", "c2", "r"),
      ("ta", "c3", "r"), ("ta", "g1", "c1"),
      // tb: x's parent 'missing' does not exist -> x is a leaf AND the
      // missing id gets no fanout row; single span = 1 leaf, max 0
      ("tb", "x", "missing")
    ).toDF("trace_id", "span_id", "parent_span_id")
    val got = Traces.traceFanout(spans).collect()
      .map(r => r.getAs[String]("trace_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_leaves"),
          r.getAs[Long]("max_fanout"),
          Option(r.getAs[java.lang.Double]("avg_fanout"))))).toMap
    assert(got("ta") == ((5L, 3L, 3L, Some(2.0))), got)
    assert(got("tb") == ((1L, 1L, 0L, None)), got)
  }

  test("multiBurnAlert: fires only when the long window AND its closing " +
    "short slice both burn — an early-burst-then-recovered window stays " +
    "silent") {
    import spark.implicits._
    val ns = 1000000000L
    val w0 = 1640000100L // 300s-aligned
    def span(svc: String, id: String, offSec: Long, err: Boolean) =
      (svc, s"t$id", id, if (err) 2 else 1,
        new java.sql.Timestamp((w0 + offSec) * 1000))
    val spans = (
      // svc-sustained: errors early AND in [240,300)
      Seq(span("s1", "a1", 10, true), span("s1", "a2", 20, true),
        span("s1", "a3", 60, false),
        span("s1", "a4", 250, true), span("s1", "a5", 280, false)) ++
      // svc-early: same long burn, but closing slice EMPTY
      Seq(span("s2", "b1", 5, true), span("s2", "b2", 15, true),
        span("s2", "b3", 50, false))
    ).toDF("service_name", "trace_id", "span_id", "status_code",
      "start_time_unix_nano")
    val got = Traces.multiBurnAlert(spans, sloTarget = 0.99,
      longSec = 300, shortSec = 60, threshold = 1.0).collect()
    assert(got.map(_.getAs[String]("service_name")).toSeq == Seq("s1"),
      got.mkString(";"))
    val r = got.head
    // s1: long 3/5 err -> burn 60; closing slice 1/2 err -> burn 50
    assert(r.getAs[Double]("long_burn") == 60.0, r)
    assert(r.getAs[Double]("short_burn") == 50.0, r)
    intercept[IllegalArgumentException] {
      Traces.multiBurnAlert(spans, 0.99, longSec = 300, shortSec = 77)
    }
  }

  test("span ids repeated across DIFFERENT traces never cross-link") {
    import spark.implicits._
    val spans = Seq(
      ("ta", "x", null, 1L), ("ta", "y", "x", 2L),
      ("tb", "x", null, 10L), ("tb", "y", "x", 20L), ("tb", "z", "y", 30L)
    ).toDF("trace_id", "span_id", "parent_span_id", "duration_time_unix_nano")
    val got = Traces.traceTree(spans).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_spans"),
        r.getAs[Int]("max_depth"), r.getAs[Long]("critical_path_ns"))).toMap
    assert(got("ta") == ((2L, 1, 3L)), got)
    assert(got("tb") == ((3L, 2, 60L)), got)
  }

  test("queueDelayApprox tracks the exact twin: counts/min/max identical, " +
    "sketch percentiles are observed deltas within one rank step") {
    val fx = "/root/repo/src/test/resources/otlp/services_traces.jsonl"
    val spans = Otlp.readTraces(spark, fx)
    val exact = Traces.queueDelay(spans).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_calls"), r.getAs[Long]("min_delay_ns"),
          r.getAs[Long]("max_delay_ns")))).toMap
    val approx = Traces.queueDelayApprox(spans).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_calls"), r.getAs[Long]("min_delay_ns"),
          r.getAs[Long]("max_delay_ns"),
          r.getAs[Double]("p50_delay_ns"),
          r.getAs[Double]("p95_delay_ns")))).toMap
    assert(approx.keySet == exact.keySet)
    // raw per-edge deltas for the rank window (the fixture has unique
    // (trace, span) keys — the oracle joins un-deduped too)
    val sp = spans.select(col("trace_id").as("t"), col("span_id").as("s"),
      col("parent_span_id").as("p"), col("service_name").as("svc"),
      unix_micros(col("start_time_unix_nano")).as("st"))
    val deltas = sp.as("c").join(sp.as("pa"),
        col("c.t") === col("pa.t") && col("c.p") === col("pa.s"))
      .select(col("pa.svc"), col("c.svc"),
        ((col("c.st") - col("pa.st")) * lit(1000L)).as("d"))
      .collect().groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, rs) => k -> rs.map(_.getLong(2)).sorted.toIndexedSeq }
    for ((edge, (n, mn, mx, p50, p95)) <- approx) {
      val (ne, mne, mxe) = exact(edge)
      assert(n == ne && mn == mne && mx == mxe, s"$edge basics")
      val ds = deltas(edge)
      assert(ds.length == n.toInt, s"$edge recomputed deltas")
      // n << accuracy so the sketch holds every value exactly; the only
      // freedom left is the edge-rank convention — the reported value
      // must be an OBSERVED delta within one rank of the target
      def rankOk(v: Double, q: Double): Boolean = {
        val target = q * (ds.length - 1)
        ds.zipWithIndex.exists { case (d, i) =>
          d.toDouble == v && math.abs(i - target) <= 1.0 }
      }
      assert(rankOk(p50, 0.5), s"$edge p50 $p50 not a near-median delta of $ds")
      assert(rankOk(p95, 0.95), s"$edge p95 $p95 not a near-p95 delta of $ds")
    }
  }

  test("serviceCentrality: hand-computed 2-round weighted PageRank " +
    "(A feeds B and C, B feeds C; C absorbs)") {
    import spark.implicits._
    val spans = Seq(
      ("t1", "a1", null, "A", 1L, 0),
      ("t1", "b1", "a1", "B", 1L, 0),
      ("t1", "b2", "a1", "B", 1L, 0),
      ("t1", "c1", "a1", "C", 1L, 0),
      ("t1", "c2", "a1", "C", 1L, 0),
      ("t1", "c3", "b1", "C", 1L, 0))
      .toDF("trace_id", "span_id", "parent_span_id", "service_name",
        "duration_time_unix_nano", "status_code")
    val got = Traces.serviceCentrality(spans, iters = 2).collect()
      .map(r => r.getAs[String]("service") -> r.getAs[Double]("rank")).toMap
    // N=3, ow(A)=4, ow(B)=1; r1 = (0.05, 0.05+0.85/6, 0.05+0.85/2)
    // = (0.05, 0.191667, 0.475); r2: B gets 0.85*0.05/2, C gets
    // 0.85*(0.025 + 0.191667)
    assert(got == Map("A" -> 0.05, "B" -> 0.07125, "C" -> 0.234167), got)
  }

  test("multiBurnAlert and multiBurnStream reject a non-positive shortSec " +
    "with the same IllegalArgumentException") {
    import spark.implicits._
    val spans = Seq(("s1", "t1", "a1", 2,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:10")))
      .toDF("service_name", "trace_id", "span_id", "status_code",
        "start_time_unix_nano")
    for (shortSec <- Seq(0L, -60L)) {
      intercept[IllegalArgumentException] {
        Traces.multiBurnAlert(spans, 0.99, longSec = 300, shortSec = shortSec)
      }
      intercept[IllegalArgumentException] {
        graft.streaming.TelemetryStreams.multiBurnStream(spans, 0.99,
          longSec = 300, shortSec = shortSec)
      }
    }
  }
}
