package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs of the iterative walks (`Traces.traceTree`,
  * `Traces.criticalPath`, `Dedup.neardupClusters`): the fixtures of
  * TracesSpec, DedupSpec and WalkJobsSpec plus the shapes a driver-side
  * finish must get exactly right (duplicate keys, nulls, string order). */
object WalkFixtures {

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private def ts(ms: Long) = new Timestamp(t0.getTime + ms)

  private val spanCols = Seq("trace_id", "span_id", "parent_span_id",
    "duration_time_unix_nano")

  /** A depth-(n - 1) chain s000 <- s001 <- ... in trace t1. */
  def chain(spark: SparkSession, n: Int, dur: Int => Long): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      ("t1", f"s$i%03d", if (i == 0) null else f"s${i - 1}%03d", dur(i))
    }.toDF(spanCols: _*)
  }

  def depth40(spark: SparkSession): DataFrame =
    chain(spark, 41, i => (i + 1).toLong)

  /** criticalPath's fixture: a late leaf under an early-ending mid, a
    * parent cycle and a dangling parent. */
  def laggards(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("ta", "s1", null, "root", ts(0), 100000000L),
      ("ta", "s2", "s1", "mid", ts(1), 9000000L),
      ("ta", "s3", "s2", "leaf", ts(5), 195000000L),
      ("ta", "s4", "s1", "othr", ts(0), 150000000L),
      ("tb", "b1", "b2", "cyc-a", ts(0), 5000000L),
      ("tb", "b2", "b1", "cyc-b", ts(0), 7000000L),
      ("tc", "c1", "zz", "orph", ts(0), 3000000L))
      .toDF("trace_id", "span_id", "parent_span_id", "name",
        "start_time_unix_nano", "duration_time_unix_nano")
  }

  /** Span fixtures by name. Those without a name or start column get the
    * span id as name and a start at t0 plus the row's duration in ms, so
    * criticalPath runs on every one. */
  def traces(spark: SparkSession): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val once = Seq(("t1", "a", null, 10L), ("t1", "b", "a", 20L),
      ("t1", "c", "b", 30L)).toDF(spanCols: _*)
    Seq(
      "tree_traces.jsonl" -> Otlp.readTraces(spark,
        "src/test/resources/otlp/tree_traces.jsonl"),
      "depth-40 chain" -> depth40(spark),
      "depth-100 chain" -> chain(spark, 101, _ => 1L),
      "2-cycle beside a healthy trace" -> Seq(
        ("t1", "sa", "sb", 1L), ("t1", "sb", "sa", 1L), ("t1", "sr", null, 1L),
        ("t2", "sx", null, 5L), ("t2", "sy", "sx", 7L)).toDF(spanCols: _*),
      "laggard, cycle and dangling parent" -> laggards(spark),
      "no spans" -> Seq.empty[(String, String, String, Long)]
        .toDF(spanCols: _*),
      "byte-equal replays" -> once.unionAll(once.where(col("span_id") === "a"))
        .unionAll(once.where(col("span_id") === "a")),
      "span ids repeated across traces" -> Seq(
        ("ta", "x", null, 1L), ("ta", "y", "x", 2L),
        ("tb", "x", null, 10L), ("tb", "y", "x", 20L), ("tb", "z", "y", 30L))
        .toDF(spanCols: _*),
      "duplicate span ids that are not byte-equal" -> Seq(
        ("t1", "a", null, 10L), ("t1", "a", null, 11L), ("t1", "b", "a", 5L),
        ("t1", "b", "a", 6L), ("t1", "c", "b", 1L), ("t1", "d", "c", 2L))
        .toDF(spanCols: _*),
      "null trace, span and parent ids" -> Seq(
        (null, "a", null, 1L), (null, "b", "a", 2L), ("t1", null, "a", 3L),
        ("t1", "a", null, 4L), ("t1", "b", "a", 5L), ("t1", "c", "b", 6L),
        ("t2", "x", "y", 7L)).toDF(spanCols: _*),
      "numeric ids" -> Seq((1L, 10L, None, 1L), (1L, 11L, Some(10L), 2L),
        (1L, 12L, Some(11L), 3L), (2L, 10L, Some(99L), 4L))
        .toDF(spanCols: _*),
      "non-ASCII string ids" -> Seq(
        ("\u03c4", "\uffff", null, 1L), ("\u03c4", "\ud83d\ude00", "\uffff", 2L),
        ("\u03c4", "\u00e9", "\ud83d\ude00", 3L), ("\u03c4", "e", "\u00e9", 4L))
        .toDF(spanCols: _*)
    ).map { case (name, df) =>
      val named = if (df.columns.contains("name")) df
        else df.withColumn("name", col("span_id").cast("string"))
      name -> (if (named.columns.contains("start_time_unix_nano")) named
        else named.withColumn("start_time_unix_nano", timestamp_millis(
          lit(t0.getTime) + col("duration_time_unix_nano"))))
    }
  }

  /** Spans whose path weights overflow a long: three hops of
    * Long.MaxValue / 2 + 1 each. */
  def overflow(spark: SparkSession): DataFrame =
    chain(spark, 3, _ => Long.MaxValue / 2 + 1)
      .withColumn("name", col("span_id"))
      .withColumn("start_time_unix_nano", lit(t0))

  def chain4(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((2L, 1L), (2L, 3L), (3L, 4L), (24L, 25L)).toDF("id_a", "id_b")
  }

  def chain4Strings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("b", "a"), ("b", "c"), ("c", "d"), ("x", "y")).toDF("id_a", "id_b")
  }

  def chain64(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
  }

  /** zero-padded so lexicographic order is numeric order */
  def chain64Strings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 63).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("id_a", "id_b")
  }

  /** Candidate-pair fixtures by name. */
  def pairs(spark: SparkSession): Seq[(String, DataFrame)] = {
    import spark.implicits._
    Seq(
      "multi-hop chains, a triangle, a pair listed both ways" -> Seq(
        (2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L),
        (22L, 20L), (30L, 31L), (31L, 30L)).toDF("id_a", "id_b"),
      "numeric 4-chain" -> chain4(spark),
      "string 4-chain" -> chain4Strings(spark),
      "numeric 64-chain" -> chain64(spark),
      "string 64-chain" -> chain64Strings(spark),
      "stars and 2-cliques" -> Seq((1L, 2L), (1L, 3L), (1L, 4L), (7L, 8L))
        .toDF("id_a", "id_b"),
      "no numeric pairs" -> Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
      "no string pairs" -> Seq.empty[(String, String)].toDF("id_a", "id_b"),
      "a self-pair" -> Seq((3L, 3L)).toDF("id_a", "id_b"),
      "keep-first pairs" -> Seq((5L, 3L), (5L, 9L)).toDF("id_a", "id_b"),
      "keep-best pairs" -> Seq((1L, 2L), (2L, 3L), (10L, 11L))
        .toDF("id_a", "id_b"),
      "leak-free split pairs" -> Seq(0L -> 1L, 1L -> 2L, 10L -> 11L,
        20L -> 21L, 21L -> 22L, 22L -> 23L).toDF("id_a", "id_b"),
      "int ids" -> Seq((7, 3), (3, 5), (9, 8)).toDF("id_a", "id_b"),
      // Spark's UTF-8 byte order puts U+1F600 and U+1F601 after U+FFFF,
      // so U+FFFF labels the chain, reaching U+1F600 only by propagation;
      // UTF-16 order would keep U+1F600 as its own label
      "non-ASCII string ids" -> Seq(("\uffff", "\ud83d\ude01"),
        ("\ud83d\ude01", "\ud83d\ude00"), ("\u00e9", "z"), ("Z", "a"))
        .toDF("id_a", "id_b"),
      "null ids" -> Seq((Some(1L), None), (Some(1L), Some(2L)),
        (Some(2L), Some(3L))).toDF("id_a", "id_b"))
  }
}
