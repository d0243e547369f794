package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Dedup, Traces}
import org.apache.spark.GraftTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark job counts of the iterative walks (`Dedup.neardupClusters`,
  * `Traces.traceTree`, `Traces.criticalPath`), pinned: a walk's cost is
  * set by its rounds, and each round's convergence count must ride the
  * round's own checkpoint job rather than add one. String ids must walk
  * exactly like numeric ids: their label order drives the same rounds, so
  * any extra job is a convergence test the numeric twin does not pay.
  *
  * Only jobs started under this spec's job group are counted, so streams
  * another spec left running cannot leak into a count. */
class WalkJobsSpec extends SparkTestBase {

  private val group = "walk-jobs-spec"
  private val started = new AtomicInteger
  private lazy val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (Option(js.properties)
          .exists(_.getProperty("spark.jobGroup.id") == group))
        started.incrementAndGet()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** Jobs `run` starts, the listener bus drained on both sides. */
  private def jobs(run: => Any): Int = {
    val sc = spark.sparkContext
    GraftTestAccess.drain(sc)
    val before = started.get
    sc.setJobGroup(group, "walk job count")
    try run finally sc.clearJobGroup()
    GraftTestAccess.drain(sc)
    started.get - before
  }

  test("neardupClusters: a 4-chain runs 16 jobs with numeric ids and as " +
    "many with string ids") {
    import spark.implicits._
    // the same graph twice: string ids sort like their numeric twins
    val numeric = jobs(Dedup.neardupClusters(
      Seq((2L, 1L), (2L, 3L), (3L, 4L), (24L, 25L)).toDF("id_a", "id_b"))
      .collect())
    val string = jobs(Dedup.neardupClusters(
      Seq(("b", "a"), ("b", "c"), ("c", "d"), ("x", "y")).toDF("id_a", "id_b"))
      .collect())
    assert(numeric == 16, s"numeric 4-chain jobs: $numeric")
    assert(string == numeric, s"string $string vs numeric $numeric jobs")
  }

  test("neardupClusters: the 64-node chain runs 52 jobs with numeric ids " +
    "and as many with string ids") {
    import spark.implicits._
    val numeric = jobs(Dedup.neardupClusters(
      (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")).collect())
    // zero-padded so lexicographic order is numeric order
    val string = jobs(Dedup.neardupClusters(
      (0 until 63).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
        .toDF("id_a", "id_b")).collect())
    assert(numeric == 52, s"numeric 64-chain jobs: $numeric")
    assert(string == numeric, s"string $string vs numeric $numeric jobs")
  }

  test("traceTree: the depth-40 chain runs 27 jobs") {
    import spark.implicits._
    val spans = (0 until 41).map { i =>
      ("t1", f"s$i%03d", if (i == 0) null else f"s${i - 1}%03d", (i + 1).toLong)
    }.toDF("trace_id", "span_id", "parent_span_id", "duration_time_unix_nano")
    val n = jobs(Traces.traceTree(spans).collect())
    assert(n == 27, s"traceTree jobs: $n")
  }

  test("criticalPath: the laggard/cycle/dangling fixture runs 45 jobs") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(ms: Long) = new java.sql.Timestamp(t0.getTime + ms)
    val spans = Seq(
      ("ta", "s1", null, "root", ts(0), 100000000L),
      ("ta", "s2", "s1", "mid", ts(1), 9000000L),
      ("ta", "s3", "s2", "leaf", ts(5), 195000000L),
      ("ta", "s4", "s1", "othr", ts(0), 150000000L),
      ("tb", "b1", "b2", "cyc-a", ts(0), 5000000L),
      ("tb", "b2", "b1", "cyc-b", ts(0), 7000000L),
      ("tc", "c1", "zz", "orph", ts(0), 3000000L))
      .toDF("trace_id", "span_id", "parent_span_id", "name",
        "start_time_unix_nano", "duration_time_unix_nano")
    val n = jobs(Traces.criticalPath(spans).collect())
    assert(n == 45, s"criticalPath jobs: $n")
  }
}
