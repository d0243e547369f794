package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Blocks, Dedup, Traces}
import org.apache.spark.GraftTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark job counts of the iterative walks (`Dedup.neardupClusters`,
  * `Traces.traceTree`, `Traces.criticalPath`), pinned: a walk's cost is
  * set by its rounds, and each round's convergence count must ride the
  * round's own checkpoint job rather than add one. String ids must walk
  * exactly like numeric ids: their label order drives the same rounds, so
  * any extra job is a convergence test the numeric twin does not pay.
  *
  * The distributed counts run with the in-memory finish forced off
  * (`Blocks.distributedOnly`); their in-memory twins run the same
  * fixtures under the session's default budget.
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

  /** Jobs `run` starts on the distributed rounds, whatever the budget. */
  private def jobs(run: => Any): Int = jobsIn(Blocks.distributedOnly(run))

  /** Jobs `run` starts, the listener bus drained on both sides. */
  private def jobsIn(run: => Any): Int = {
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
    // the same graph twice: string ids sort like their numeric twins
    val numeric = jobs(Dedup.neardupClusters(
      WalkFixtures.chain4(spark)).collect())
    val string = jobs(Dedup.neardupClusters(
      WalkFixtures.chain4Strings(spark)).collect())
    assert(numeric == 16, s"numeric 4-chain jobs: $numeric")
    assert(string == numeric, s"string $string vs numeric $numeric jobs")
  }

  test("neardupClusters: the 64-node chain runs 52 jobs with numeric ids " +
    "and as many with string ids") {
    val numeric = jobs(Dedup.neardupClusters(
      WalkFixtures.chain64(spark)).collect())
    val string = jobs(Dedup.neardupClusters(
      WalkFixtures.chain64Strings(spark)).collect())
    assert(numeric == 52, s"numeric 64-chain jobs: $numeric")
    assert(string == numeric, s"string $string vs numeric $numeric jobs")
  }

  test("traceTree: the depth-40 chain runs 27 jobs") {
    val n = jobs(Traces.traceTree(WalkFixtures.depth40(spark)).collect())
    assert(n == 27, s"traceTree jobs: $n")
  }

  test("criticalPath: the laggard/cycle/dangling fixture runs 45 jobs") {
    val n = jobs(Traces.criticalPath(WalkFixtures.laggards(spark)).collect())
    assert(n == 45, s"criticalPath jobs: $n")
  }

  // The same fixtures under the default budget: round 0 stays distributed,
  // then one job collects it together with the step's side table (CC's
  // edges, criticalPath's spans), and the remaining rounds run on the
  // driver, however many there are.

  test("in memory, neardupClusters runs 5 jobs on the 4-chain and on the " +
    "64-node chain, with numeric or string ids") {
    val counts = Seq(WalkFixtures.chain4(spark), WalkFixtures.chain4Strings(spark),
        WalkFixtures.chain64(spark), WalkFixtures.chain64Strings(spark))
      .map(pairs => jobsIn(Dedup.neardupClusters(pairs).collect()))
    assert(counts == Seq(5, 5, 5, 5), s"neardupClusters jobs: $counts")
  }

  test("in memory, traceTree runs 6 jobs on the depth-40 chain") {
    val n = jobsIn(Traces.traceTree(WalkFixtures.depth40(spark)).collect())
    assert(n == 6, s"traceTree jobs: $n")
  }

  test("in memory, criticalPath runs 5 jobs on the laggard/cycle/dangling " +
    "fixture") {
    val n = jobsIn(Traces.criticalPath(WalkFixtures.laggards(spark)).collect())
    assert(n == 5, s"criticalPath jobs: $n")
  }

  test("an input over the budget takes the distributed rounds") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.get(key)
    val pairs = WalkFixtures.chain4(spark)
    def run = jobsIn(Dedup.neardupClusters(pairs).collect())
    try {
      // the 4-chain's round 0 (6 ids) and edges (8) are 24 estimated
      // bytes a row: 336 bytes, over a 100-byte budget
      val counts = Seq("100", "0", "-1").map { v => spark.conf.set(key, v); run }
      // 0 or less turns the finish off
      assert(counts == Seq(16, 16, 16), s"over the budget, 0 and -1: $counts")
    } finally spark.conf.set(key, was)
  }
}
