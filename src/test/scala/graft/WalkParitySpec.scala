package graft

import scala.util.Try

import graft.operators.{Blocks, Dedup, Traces}
import org.apache.spark.sql.DataFrame

/** The walks' bounded in-memory finish returns exactly what their
  * distributed rounds return: the same rows (as a multiset) and the same
  * schema, names, types and nullability, or the same exception, on every
  * walk fixture. The fixtures are small, so the default budget puts every
  * default run on the in-memory path (WalkJobsSpec pins that by job
  * count); `Blocks.distributedOnly` forces the other. */
class WalkParitySpec extends SparkTestBase {

  private def outcome(run: => DataFrame) = Try {
    val df = run
    (df.schema, df.collect().map(_.toSeq).sortBy(_.toString).toSeq)
  }.toEither.left.map(e => (e.getClass.getName,
    if (e.isInstanceOf[IllegalStateException]) e.getMessage else ""))

  private def same(what: String)(walk: => DataFrame): Unit = {
    val distributed = outcome(Blocks.distributedOnly(walk))
    val local = outcome(walk)
    assert(local == distributed, s"$what: in-memory $local, distributed $distributed")
  }

  private def withAnsi(on: Boolean)(body: => Unit): Unit = {
    val key = "spark.sql.ansi.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, was)
  }

  test("traceTree: both paths agree on every span fixture") {
    WalkFixtures.traces(spark).foreach { case (name, spans) =>
      same(s"traceTree on $name")(Traces.traceTree(spans))
      same(s"traceTree(rounds = 2) on $name")(Traces.traceTree(spans, rounds = 2))
    }
  }

  test("criticalPath: both paths agree on every span fixture") {
    WalkFixtures.traces(spark).foreach { case (name, spans) =>
      same(s"criticalPath on $name")(Traces.criticalPath(spans))
      same(s"criticalPath(maxDepth = 1) on $name")(
        Traces.criticalPath(spans, maxDepth = 1))
    }
  }

  test("neardupClusters: both paths agree on every pair fixture, and both " +
    "throw past maxRounds") {
    WalkFixtures.pairs(spark).foreach { case (name, pairs) =>
      same(s"neardupClusters on $name")(Dedup.neardupClusters(pairs))
    }
    val chain = WalkFixtures.chain64(spark)
    same("neardupClusters(maxRounds = 12) on the 64-chain")(
      Dedup.neardupClusters(chain, maxRounds = 12))
    val thrown = outcome(Dedup.neardupClusters(chain, maxRounds = 1))
    assert(thrown.left.exists(_._1 == classOf[IllegalStateException].getName),
      thrown)
    same("neardupClusters(maxRounds = 1) on the 64-chain")(
      Dedup.neardupClusters(chain, maxRounds = 1))
  }

  test("a path weight that overflows a long: under ANSI both paths raise " +
    "Spark's error, without it both wrap alike") {
    val spans = WalkFixtures.overflow(spark)
    withAnsi(on = true) {
      val thrown = outcome(Traces.traceTree(spans))
      assert(thrown.isLeft, thrown)
      same("traceTree, ANSI")(Traces.traceTree(spans))
      same("criticalPath, ANSI")(Traces.criticalPath(spans))
    }
    withAnsi(on = false) {
      val wrapped = outcome(Traces.traceTree(spans))
      assert(wrapped.isRight, wrapped)
      same("traceTree, no ANSI")(Traces.traceTree(spans))
      same("criticalPath, no ANSI")(Traces.criticalPath(spans))
    }
  }
}
