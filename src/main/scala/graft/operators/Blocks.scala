package graft.operators

import scala.util.DynamicVariable

import org.apache.spark.sql.{Column, DataFrame, GraftAccess, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit, struct, when}
import org.apache.spark.sql.types._

/** Deterministic release of the block-manager blocks behind
  * `Dataset.localCheckpoint()`, and the fixpoint kernel of the iterative
  * walks that own such checkpoints round by round.
  *
  * `Dataset.unpersist()` only clears CacheManager entries (the
  * `.persist()`/`.cache()` path); a localCheckpoint's blocks belong to the
  * checkpointed RDD itself and survive until GC + ContextCleaner notice the
  * RDD is unreachable. In a long-lived session (the 155-query bench sweep, a
  * production notebook) that lag lets superseded round-checkpoints pile up
  * in the block manager and squeeze execution memory — the round-8 bench
  * recorded 2-14x regressions on queries late in the sweep with zero code
  * change (VERDICT r8 #2).
  *
  * The checkpointed RDD is reachable through the frame's plan: a
  * checkpointed Dataset's logical plan is exactly a [[LogicalRDD]] leaf over
  * the persisted RDD. Releasing through that leaf frees the blocks NOW.
  *
  * Only call this on frames this module itself checkpointed and has
  * superseded: a checkpointed frame received from a caller also surfaces as
  * a LogicalRDD leaf, and releasing it would free blocks the caller still
  * owns (worse: lineage is truncated, so the data is unrecoverable). */
private[graft] object Blocks {

  /** Free the blocks of every localCheckpoint leaf in `df`'s plan.
    * No-op on frames that were never checkpointed (no LogicalRDD leaves). */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** A walk's in-memory twin of its step, for [[iterate]]'s bounded
    * finish: the same rounds over round 0's rows on the driver, row for
    * row what the distributed step computes, duplicate keys, nulls,
    * Spark's string order and overflow included. */
  trait Twin {
    /** The tables the distributed step reads beside its input frame
      * (criticalPath's span table, CC's edges), collected in round 0's
      * collect job. */
    def sides: Seq[DataFrame] = Nil
    /** Estimated bytes of [[sides]], given round 0's observed metrics. */
    def sideBytes(round0: Map[String, Row]): Long = 0L
    /** Takes round 0's rows and those of [[sides]]; false when they hold
      * what the twin cannot mirror, such as a null key. */
    def load(rows: Array[InternalRow], sides: Seq[Array[InternalRow]]): Boolean
    /** Runs round r + 1, the `between` pass first when r > 0, and returns
      * its pending count. An ArithmeticException (the twin of an ANSI
      * overflow) means the round cannot be mirrored. */
    def round(r: Int): Long
    /** The last round's rows, in the frame's column order. */
    def rows: Seq[InternalRow]
  }

  private val distributed = new DynamicVariable(false)

  /** Runs `body` with every walk's finish forced onto the distributed
    * rounds, whatever the budget: the handle that keeps the path over the
    * budget tested. Not a parameter and not a conf. */
  def distributedOnly[T](body: => T): T = distributed.withValue(true)(body)

  /** Spark's estimated bytes per row of `df` (8 bytes of row overhead plus
    * each column type's default size), the width the budget checks use. */
  def rowWidth(df: DataFrame): Long =
    EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output).toLong

  /** Twin arithmetic: Spark's `+` on longs, which wraps, or under ANSI
    * mode throws where Spark's would. */
  def plus(ansi: Boolean, a: Long, b: Long): Long =
    if (ansi) Math.addExact(a, b) else a + b

  /** Whether Spark's `===` on values of `dt` is the equality of their
    * Catalyst values (strings compare as UTF-8 bytes), so a twin can key a
    * hash map with them. Floating point (NaN, -0.0), binary and nested
    * types are not. */
  def exactKey(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | ShortType | ByteType |
         BooleanType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** The rows of `df` and of each of `sides`, in one job: a union of
    * structs tagged by frame, split back on the driver. */
  private def collectWith(df: DataFrame,
                          sides: Seq[DataFrame]): Seq[Array[InternalRow]] = {
    val frames = df +: sides
    val types = frames.map(_.schema)
    val tagged = frames.zipWithIndex.map { case (f, i) =>
      f.select(lit(i).as("tag") +: types.indices.map { j =>
        (if (j == i) struct(f.columns.map(f(_)): _*)
         else lit(null).cast(types(j))).as(s"f$j")
      }: _*)
    }
    val rows = GraftAccess.collectInternal(tagged.reduce(_ unionAll _))
    frames.indices.map(i => rows.filter(_.getInt(0) == i)
      .map(_.getStruct(i + 1, types(i).size)))
  }

  /** Runs an iterative walk ([[Traces.traceTree]], [[Traces.criticalPath]],
    * [[Dedup.neardupClusters]]) to its stop rule and returns its last
    * round's frame, whose blocks the caller then owns.
    *
    * Round 0 eagerly localCheckpoints `init`; round r >= 1 checkpoints
    * `step` over round r-1's frame, so lineage stays flat however many
    * rounds run. Each round's checkpoint counts its rows where `pending`
    * holds, and `more(r, count, previous count)` decides whether round
    * r+1 runs. The count rides the checkpoint job as a name-based observed
    * metric, read from the checkpointed query's `observedMetrics` once the
    * job returns: its accumulators merge on the driver before the job
    * completes, so there is nothing to wait for and no separate count job.
    * Round 0 is counted only under `countInit`; otherwise it reports
    * `Long.MaxValue` (unknown, assume work is pending) and that is also
    * round 1's previous count.
    *
    * `between`, when given, turns a frame the walk goes on from into the
    * next step's input through one more, uncounted checkpoint (the
    * pointer-chase of connected components). A superseded frame's blocks
    * are released as soon as its successor is materialized; when a round
    * throws, the live frame is released before the exception leaves. Past
    * `maxRounds` rounds that still ask for more, the walk fails with an
    * IllegalStateException.
    *
    * Bounded in-memory finish: with a `twin`, round 0's checkpoint job
    * also counts its rows. When more rounds are due and round 0's rows times
    * [[rowWidth]], plus the twin's side tables, fit under the session's
    * `spark.sql.autoBroadcastJoinThreshold` (the size Spark already ships
    * whole to every task; 0 or less turns the finish off), one job
    * collects round 0 with the side tables and the remaining rounds run on
    * the driver under the same `more` and `maxRounds`. The result is a local frame with the
    * distributed frame's schema, names, types and nullability. A twin that
    * cannot mirror the input (a null key, an ANSI overflow) hands the walk
    * back to the distributed rounds from round 0, so Spark raises its own
    * errors. Over the budget nothing changes. */
  def iterate(walk: String, init: DataFrame, pending: Column,
              maxRounds: Int = Int.MaxValue, countInit: Boolean = false,
              twin: Option[Twin] = None)(
      step: DataFrame => DataFrame,
      between: Option[DataFrame => DataFrame] = None)(
      more: (Int, Long, Long) => Boolean): DataFrame = {
    var live: DataFrame = null
    // checkpoints `next` as the live frame; the metrics observed on it
    def advance(next: DataFrame, metrics: Seq[Column]): Map[String, Row] = {
      val run = if (metrics.isEmpty) next
        else next.observe("round", metrics.head, metrics.tail: _*)
      val frame = run.localCheckpoint()
      if (live != null) release(live)
      live = frame
      if (metrics.isEmpty) Map.empty else run.queryExecution.observedMetrics
    }
    val counted = Seq(count(when(pending, true)).as("pending"))
    try {
      val round0 = advance(init, (if (countInit) counted else Nil) ++
        twin.map(_ => count(lit(1)).as("rows")))
      val n0 =
        if (countInit) round0("round").getAs[Long]("pending") else Long.MaxValue
      // rounds 1.. from round 0, `next(r)` running round r + 1 and
      // returning its count; the number of rounds run
      def rounds(next: Int => Long): Int = {
        var (n, prev, r) = (n0, Long.MaxValue, 0)
        while (more(r, n, prev)) {
          if (r == maxRounds)
            throw new IllegalStateException(
              s"$walk did not converge within $maxRounds rounds")
          prev = n
          n = next(r)
          r += 1
        }
        r
      }
      val spark = init.sparkSession
      // the distributed frame's schema after r rounds, from the steps'
      // analysis over empty frames, until step after between keeps it
      def schemaAfter(r: Int): StructType = {
        var (s, i, fixed) = (live.schema, 0, false)
        while (i < r && !fixed) {
          val in = GraftAccess.localFrame(spark, s, Nil)
          val next = step(if (i == 0) in else between.fold(in)(_(in))).schema
          fixed = i > 0 && next == s
          s = next
          i += 1
        }
        s
      }
      val budget = spark.sessionState.conf.autoBroadcastJoinThreshold
      val finished = twin.filter { t =>
        lazy val side = t.sideBytes(round0)
        !distributed.value && budget > 0 && more(0, n0, Long.MaxValue) &&
          side <= budget &&
          round0("round").getAs[Long]("rows") * rowWidth(live) <= budget - side
      }.flatMap { t =>
        val collected = collectWith(live, t.sides)
        if (!t.load(collected.head, collected.tail)) None
        else try {
          val r = rounds(t.round)
          Some(GraftAccess.localFrame(spark, schemaAfter(r), t.rows))
        } catch { case _: ArithmeticException => None }
      }
      finished.getOrElse {
        rounds { r =>
          if (r > 0) between.foreach(b => advance(b(live), Nil))
          advance(step(live), counted)("round").getAs[Long]("pending")
        }
        val out = live
        live = null
        out
      }
    } finally if (live != null) release(live)
  }
}
