package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Job-level profiler for the optimization rounds: runs the named registry
  * queries (noop-sink forced, the Bench methodology) with a listener that
  * prints every Spark job's wall time and call site — the visibility the
  * headless sandbox can't get from the UI. Construction-time gates run
  * their jobs during query construction; those are captured too.
  *
  * Usage: runMain graft.ProfileQ <sfDir> <q1,q2,...>
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ProfileQ <sfDir> <q1,q2,...>")
    val Array(sfDir, namesCsv) = args
    val names = SparkEntry.namedQueries(namesCsv, "unknown queries")
    val spark = graft.app.Main.session()
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val runMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lastEnd = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
        val gap = (System.nanoTime() - lastEnd.get()) / 1e9
        if (gap >= 0.3)
          println(f"[prof]   (driver gap $gap%6.2fs before job ${js.jobId})")
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val sec = (for {
          s <- si.submissionTime; e <- si.completionTime
        } yield (e - s) / 1e3).getOrElse(0.0)
        val tm = si.taskMetrics
        cpuNs.addAndGet(tm.executorCpuTime)
        runMs.addAndGet(tm.executorRunTime)
        val thresh = sys.env.get("SPARK_GRAFT_PROF_STAGE_MIN")
          .map(_.toDouble).getOrElse(0.3)
        if (sec >= thresh)
          println(f"[prof]     stage ${si.stageId}%4d  $sec%7.2fs  " +
            f"${si.numTasks}%4d tasks  cpu ${tm.executorCpuTime / 1e9}%6.2f  " +
            f"run ${tm.executorRunTime / 1e3}%6.2f  gc ${tm.jvmGCTime / 1e3}%5.2f  " +
            f"deser ${tm.executorDeserializeTime / 1e3}%5.2f  " +
            f"fetch ${tm.shuffleReadMetrics.fetchWaitTime / 1e3}%5.2f  " +
            f"${si.name.take(60)}")
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        lastEnd.set(System.nanoTime())
        Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
          val sec = (System.nanoTime() - t0) / 1e9
          if (sec >= 0.05)
            println(f"[prof]   job ${je.jobId}%4d  $sec%7.2fs  $site")
        }
      }
    })
    // small settle so late stage-completed events land in this section's
    // bucket, then its totals (the task counters restart per section)
    def sectionTotals(label: String, t0: Long): Unit = {
      Thread.sleep(200)
      println(f"[prof] $label total ${(System.nanoTime() - t0) / 1e9}%.2fs " +
        f"taskCpu ${cpuNs.getAndSet(0L) / 1e9}%.2fs " +
        f"taskRun ${runMs.getAndSet(0L) / 1e3}%.2fs")
    }
    // The four pair-based eval entries share Pipelines.genRefPairs' cache,
    // so whichever is built first would pay for all four: build it first,
    // in its own section (Bench's _pairing_build line).
    val pairEval = Set("eval_pair_metrics", "eval_summary_stats",
      "eval_judge_scores", "eval_judge_stats")
    if (names.exists(pairEval)) {
      println("[prof] ===== _pairing_build =====")
      val t0 = System.nanoTime()
      Pipelines.genRefPairs(spark, sfDir).count()
      sectionTotals("_pairing_build", t0)
    }
    names.foreach { name =>
      println(s"[prof] ===== $name =====")
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      println(f"[prof] $name construction: $tBuild%.2fs")
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      sectionTotals(f"$name force: ${(System.nanoTime() - t1) / 1e9}%.2fs", t0)
    }
    spark.stop()
  }
}
