package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session shape of every main (Bench, Verify, the
  * server daemon and the probes), so that Bench times the same session
  * that Verify checks. Its only inputs are the master and the
  * shuffle-partition count; `SPARK_GRAFT_CPUS` is read here and nowhere
  * else. */
object Sessions {
  /** Local worker threads under an env lookup: `SPARK_GRAFT_CPUS`, else
    * every core. */
  def cpusIn(env: String => Option[String]): Int =
    env("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  lazy val cpus: Int = cpusIn(sys.env.get)

  def master: String = s"local[$cpus]"

  /** The settings every main's session carries. */
  def conf(master: String, partitions: Int): Seq[(String, String)] = Seq(
    "spark.master" -> master,
    "spark.sql.shuffle.partitions" -> partitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // older fixtures ship events.ts as TIMESTAMP(NANOS): read as raw ns
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // local SFs ship one small parquet file per table, which would pin
    // CPU-bound per-row operators (md5-heavy dedup/fingerprinting) to a
    // single task; smaller splits restore the parallelism a production
    // many-file layout has by default
    "spark.sql.files.maxPartitionBytes" -> "4m")

  /** A builder carrying [[conf]], for a main that must add a setting
    * fixed at context start (the interference probe's FAIR scheduler) or
    * runs on a master of its own (the server daemon). */
  def builder(master: String = Sessions.master,
              partitions: Int = cpus): SparkSession.Builder =
    conf(master, partitions).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }

  def local(): SparkSession = open(builder())

  /** Start (or join) the session, at WARN without the expected
    * checkpoint-release warnings. */
  def open(builder: SparkSession.Builder): SparkSession = {
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    QSpec.quietCheckpointRelease()
    spark
  }
}
