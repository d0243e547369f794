package graft

import java.net.{InetAddress, ServerSocket}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  val sfDir = "/root/testdata/sf0.001"
}

object SparkTestBase {
  private val nextPort = new AtomicInteger(20000)

  /** `n` listener ports for a spec's servers: distinct within the test
    * JVM, free on loopback when handed out, and below the kernel's
    * ephemeral range (32768-60999), where Spark binds its driver RPC and
    * block manager at random: a fixed test port in that range can be taken
    * by the shared session before the spec binds it. */
  def freePorts(n: Int): IndexedSeq[Int] = IndexedSeq.fill(n) {
    Iterator.continually(nextPort.getAndIncrement()).find { p =>
      require(p < 32768, "test listener ports exhausted")
      Try(new ServerSocket(p, 1, InetAddress.getLoopbackAddress).close()).isSuccess
    }.get
  }

  // one session per JVM — sbt forks one test JVM, specs share it
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    QSpec.quietCheckpointRelease()
    s
  }
}
