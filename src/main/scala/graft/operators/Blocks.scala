package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, when}

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
    * IllegalStateException. */
  def iterate(walk: String, init: DataFrame, pending: Column,
              maxRounds: Int = Int.MaxValue, countInit: Boolean = false)(
      step: DataFrame => DataFrame,
      between: Option[DataFrame => DataFrame] = None)(
      more: (Int, Long, Long) => Boolean): DataFrame = {
    var live: DataFrame = null
    def advance(next: DataFrame, counted: Boolean): Long = {
      val observed =
        if (counted) next.observe("pending", count(when(pending, true)))
        else next
      val frame = observed.localCheckpoint()
      if (live != null) release(live)
      live = frame
      if (counted) observed.queryExecution.observedMetrics("pending").getLong(0)
      else Long.MaxValue
    }
    try {
      var n = advance(init, countInit)
      var prev = Long.MaxValue
      var r = 0
      while (more(r, n, prev)) {
        if (r == maxRounds)
          throw new IllegalStateException(
            s"$walk did not converge within $maxRounds rounds")
        if (r > 0) between.foreach(b => advance(b(live), counted = false))
        prev = n
        n = advance(step(live), counted = true)
        r += 1
      }
      val out = live
      live = null
      out
    } finally if (live != null) release(live)
  }
}
