package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.otlp.OtlpSchemas
import graft.streaming.{SealTarget, SealWriter, ServerConfig, SnapshotTarget}
import org.apache.spark.GraftTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs a seal starts, pinned: a parquet or snapshot seal writes on
  * the calling thread and starts none; a catalog seal inserts into its
  * managed table through one Spark job per signal.
  *
  * Only jobs started under this spec's job group are counted, so streams
  * another spec left running cannot leak into a count. */
class SealJobsSpec extends SparkTestBase {

  private val group = "seal-jobs-spec"
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

  /** Jobs each signal's seal into `target` starts, the listener bus
    * drained on both sides. */
  private def jobsPerSignal(target: SealTarget): Seq[Int] = {
    target.prepareTables()
    val batches = OtlpSchemas.Signals.map(s => SealFixtures.batch(spark, s, 50))
    val sc = spark.sparkContext
    batches.map { b =>
      GraftTestAccess.drain(sc)
      val before = started.get
      sc.setJobGroup(group, "seal job count")
      try target.write(b) finally sc.clearJobGroup()
      GraftTestAccess.drain(sc)
      started.get - before
    }
  }

  private def config(params: (String, String)*): ServerConfig =
    ServerConfig("otlp_serve", "otlp:127.0.0.1:4318",
      Map("disable_auth" -> "true") ++ params)

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("parquet and snapshot seals of all six signals start no Spark job") {
    val parquet = new SealWriter(config("target" -> "parquet",
      "parquet_root" -> tmpDir("graft-seal-jobs-parquet")), spark)
    assert(jobsPerSignal(parquet) == Seq.fill(6)(0))
    val snapshot = new SnapshotTarget(config("target" -> "snapshot",
      "parquet_root" -> tmpDir("graft-seal-jobs-snapshot")), spark)
    assert(jobsPerSignal(snapshot) == Seq.fill(6)(0))
    assert(OtlpSchemas.Signals.forall(s => snapshot.readAt(s).count() == 50))
  }

  test("a catalog seal starts one Spark job per signal") {
    val schema = "seal_jobs_spec"
    try {
      val catalog = new SealWriter(config("schema" -> schema), spark)
      assert(jobsPerSignal(catalog) == Seq.fill(6)(1))
      assert(OtlpSchemas.Signals.forall(s =>
        spark.table(s"$schema.otlp_$s").count() == 50))
    } finally spark.sql(s"DROP DATABASE IF EXISTS $schema CASCADE")
  }
}
