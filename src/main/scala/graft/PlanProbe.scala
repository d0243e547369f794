package graft

/** Optimization-round measurement harness (dev tool, not part of the
  * driver contract): for each registered query matching a name-prefix
  * filter, splits one cold invocation into its phases —
  *
  *   build  = registry fn() call (DataFrame construction; fixture SQL
  *            strings, expression-tree assembly, any EAGER work an
  *            operator does such as internal localCheckpoints)
  *   plan   = analysis + optimization + physical planning
  *            (queryExecution.executedPlan forced)
  *   exec1  = first noop-sink execution (includes whole-stage codegen
  *            compilation of every stage)
  *   exec2  = second noop-sink execution on a FRESH frame (re-pays
  *            build+plan+codegen-cache-hit: what Bench's second sweep
  *            actually measures)
  *
  * and writes `<outDir>/<name>.txt` with the timing line,
  * explain("formatted") (per-run identities masked, see [[masked]]), and
  * one line per Spark job the query ran (both invocations, eager operator
  * jobs included: its wall time in us and call site) — the before/after
  * evidence files for OPTIMIZATION_r17.md / plans/r17.
  *
  * Usage: runMain graft.PlanProbe <sfDir> <outDir> <prefix,prefix,...>
  * env: SPARK_GRAFT_CPUS — the same session shape as Bench. */
object PlanProbe {
  /** `plan` with its per-run identities masked (expression ids `#123` ->
    * `#`, exchange ids `plan_id=45` -> `plan_id=#`, lambda instances ->
    * `$Lambda`), so that the files of two runs differ only where their
    * plans do. */
  private[graft] def masked(plan: String): String =
    plan.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=#")
      .replaceAll("\\$Lambda\\$[^\\s,)\\]]+", "\\$Lambda")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, filter) = args.take(3)
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // per-query job lines, keyed by the job description set below; the
    // listener bus delivers them asynchronously, so they are appended to
    // the query files once spark.stop() has drained it
    val jobs = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentLinkedQueue[String]]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        // nanoTime, not the events' whole-ms stamps: the job-count-bound
        // queries this trace is for run many sub-millisecond jobs
        private val started = new java.util.concurrent.ConcurrentHashMap[
          Int, (Long, String, String)]()
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .foreach(d => started.put(js.jobId, (System.nanoTime(), d,
              // the result stage is named after the action's call site
              js.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name))))
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          Option(started.remove(je.jobId)).foreach { case (t0, d, site) =>
            jobs.computeIfAbsent(d,
              _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
              .add(f"[job ${je.jobId}%4d] ${(System.nanoTime() - t0) / 1e3}%9.0f us  $site")
          }
      })
    Tables.register(spark, sfDir)
    spark.table("lineitem").limit(1).count() // warmup outside timings

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => QSpec.nameMatches(Some(filter), n) }
    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    def file(name: String) = java.nio.file.Paths.get(s"$outDir/$name.txt")
    println(f"${"query"}%-28s ${"build"}%8s ${"plan"}%8s ${"exec1"}%8s ${"exec2"}%8s  (ms)")
    selected.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"probe: $name")
      try {
        val t0 = System.nanoTime()
        QSpec.run(spark, sfDir, fn) { df =>
          val tBuild = ms(t0)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // force analysis->physical planning
          val tPlan = ms(t1)
          val t2 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val tExec1 = ms(t2)
          val t3 = System.nanoTime()
          val tExec2 = QSpec.run(spark, sfDir, fn) { df2 =>
            df2.write.format("noop").mode("overwrite").save()
            ms(t3)
          }
          println(f"$name%-28s $tBuild%8.0f $tPlan%8.0f $tExec1%8.0f $tExec2%8.0f")
          val plan = masked(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          java.nio.file.Files.writeString(file(name),
            s"== PlanProbe $name (ms): build=$tBuild plan=$tPlan " +
              s"exec1=$tExec1 exec2=$tExec2 ==\n\n$plan")
        }
      } catch { case e: Throwable =>
        println(s"$name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
    selected.foreach { case (name, _) =>
      Option(jobs.get(s"probe: $name")).filter(_ => file(name).toFile.exists)
        .foreach(lines => java.nio.file.Files.writeString(file(name),
          lines.toArray.mkString("\n== jobs ==\n", "\n", "\n"),
          java.nio.file.StandardOpenOption.APPEND))
    }
  }
}
