package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** QSpec.run, the mains' one query-run rule: every checkpoint a query
  * took is released, whether its frame was built or not. */
class QSpecRunSpec extends SparkTestBase {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a successful run releases the frame's terminal checkpoint") {
    var taken = Set.empty[Int]
    val fn: (SparkSession, String) => DataFrame = (s, _) => {
      val before = persisted
      val df = s.range(100).toDF().localCheckpoint(eager = true)
      taken = persisted -- before
      df
    }
    assert(QSpec.run(spark, sfDir, fn)(_.count()) == 100L)
    assert(taken.nonEmpty, "the fixture took no checkpoint — vacuous pin")
    assert((taken & persisted).isEmpty, s"still persisted: ${taken & persisted}")
  }

  test("a construction that throws after an eager checkpoint leaves " +
    "nothing persisted") {
    var taken = Set.empty[Int]
    val fn: (SparkSession, String) => DataFrame = (s, _) => {
      val before = persisted
      s.range(100).localCheckpoint(eager = true)
      taken = persisted -- before
      throw new IllegalStateException("construction failed")
    }
    var sunk = false
    val e = intercept[IllegalStateException](
      QSpec.run(spark, sfDir, fn)(_ => sunk = true))
    assert(e.getMessage == "construction failed")
    assert(!sunk)
    assert(taken.nonEmpty, "the fixture took no checkpoint — vacuous pin")
    assert(persisted.isEmpty, s"still persisted: $persisted")
  }
}
