package graft

/** Times one registered query N times — the focused companion to
 *  [[Bench]] for iterating on a single operator without paying the
 *  full-suite wall clock. Prints one line per run (no min-taking:
 *  per-run visibility is the point; warm-cache effects show up as
 *  run1 vs run2 deltas). Each line also carries the run's total
 *  shuffle WRITE volume (sum over completed stages — the round-13
 *  q114 ask needed "shuffle bytes materially down" to be a measured
 *  claim, not an inference; listener delivery is async, so the
 *  counter is read after a settle pause and labeled approximate), the
 *  number of Spark jobs it started and its task time (`task_s`, the
 *  summed executor run time of its completed stages). After each
 *  query's runs one more line gives the RDDs still cached (count and
 *  MiB, from `getRDDStorageInfo` after a gc): what the query leaves
 *  behind; then one `held` line per RDD the corpus registry holds
 *  ([[graft.ops.CorpusArtifacts.held]]: tag, corpus dir, MiB).
 *  Usage: runMain graft.BenchOne <name> [sfDir] [runs]. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    // comma-separated names sweep several queries in one JVM (round
    // 15): per-query JVM cold-start dwarfs a warm run, so a family
    // sweep in one session is both faster and less noisy
    val names = args.headOption.getOrElse(
      sys.error("usage: runMain graft.BenchOne <name[,name...]> [sfDir] [runs]"))
      .split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    names.foreach { n =>
      if (!SparkEntry.queries.contains(n))
        sys.error(s"unknown query $n; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    }
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong(0)
    // widest single exchange (stage-level shuffle write) + optional
    // budget tripwire (round-14 verdict ask 8): the q114 16×-
    // redundancy class — a corpus-sized frame re-exchanged once per
    // chunk pass — shows up as ONE stage class repeatedly writing
    // ~frame-sized row counts. SPARK_GRAFT_STAGE_ROW_BUDGET (rows)
    // makes that loud: any completed stage wider than the budget is
    // reported per-stage and fails the run with exit 3, so a scale
    // probe asserting "widest exchange ≤ 2× the shingle frame" is a
    // one-env-var contract instead of a manual dump read.
    val widestRows = new java.util.concurrent.atomic.AtomicLong(0)
    val widestStage = new java.util.concurrent.atomic.AtomicLong(-1)
    val rowBudget = sys.env.get("SPARK_GRAFT_STAGE_ROW_BUDGET").map(_.toLong)
    val budgetBlown = new java.util.concurrent.atomic.AtomicLong(0)
    // per-stage attribution (SPARK_GRAFT_STAGE_DUMP=1): which exchange
    // carries the rows — optimizing "the widest shuffle" starts from a
    // stage-level measurement, not a plan-shape guess
    val stageDump = sys.env.get("SPARK_GRAFT_STAGE_DUMP").contains("1")
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    // summed executor run time of completed stages (ms): a run's task
    // time, apart from its scheduling and driver time
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          taskMs.addAndGet(m.executorRunTime)
          val rw = m.shuffleWriteMetrics.recordsWritten
          if (rw > widestRows.get()) {
            widestRows.set(rw); widestStage.set(e.stageInfo.stageId.toLong)
          }
          rowBudget.foreach { b =>
            if (rw > b) {
              budgetBlown.incrementAndGet()
              System.err.println(f"[tripwire] stage=${e.stageInfo.stageId}%d " +
                f"shuffle rows=$rw%,d exceeds budget $b%,d " +
                f"(${e.stageInfo.name.take(60)})")
            }
          }
          if (stageDump) {
            val site = e.stageInfo.details.linesIterator
              .find(l => l.contains("graft") || l.contains("Dataset"))
              .getOrElse("").trim
            // wall duration (submission→completion) + summed executor
            // task time: the wall column finds the slow stages, the
            // task column says whether they were wide or serial
            val wall = (for {
              c <- e.stageInfo.completionTime; s <- e.stageInfo.submissionTime
            } yield (c - s) / 1000.0).getOrElse(-1.0)
            System.err.println(f"[stage] id=${e.stageInfo.stageId}%d " +
              f"wall=$wall%.2fs task=${m.executorRunTime / 1000.0}%.1fs " +
              f"rows=${m.shuffleWriteMetrics.recordsWritten}%,d " +
              f"mib=${m.shuffleWriteMetrics.bytesWritten / (1 << 20)}%,d " +
              f"name=${e.stageInfo.name.take(60)} site=$site")
          }
          ()
        }
      }
    })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to runs).foreach { i =>
        val w0 = shuffleWrite.get(); val r0 = shuffleRecords.get(); val j0 = jobs.get()
        val k0 = taskMs.get()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1000) // listener bus settle
        println(f"[benchone] $name run$i $sec%.2f s " +
          f"shuffle_write~${(shuffleWrite.get() - w0) / (1 << 20)}%d MiB " +
          f"(${shuffleRecords.get() - r0}%d rows) jobs=${jobs.get() - j0}%d " +
          f"task_s=${(taskMs.get() - k0) / 1000.0}%.2f " +
          f"widest_stage=${widestStage.get()}%d/${widestRows.get()}%,d rows")
      }
      System.gc() // the Bench inter-query hygiene (orphaned blocks)
      Thread.sleep(1000) // let the ContextCleaner drop what the gc freed
      // what the query leaves cached for the next one
      val kept = spark.sparkContext.getRDDStorageInfo
      println(f"[benchone] $name cached_rdds=${kept.length}%d " +
        f"cached_mib=${kept.map(i => i.memSize + i.diskSize).sum / 1048576.0}%.1f")
      // of those, what the corpus registry holds across queries
      val mib = kept.map(i => i.id -> (i.memSize + i.diskSize) / 1048576.0).toMap
      graft.ops.CorpusArtifacts.held.foreach { case (tag, dir, id) =>
        println(f"[benchone] $name held tag=$tag dir=$dir mib=${mib.getOrElse(id, 0.0)}%.1f")
      }
    }
    graft.ops.InferOps.cleanupScratch()
    spark.stop()
    if (budgetBlown.get() > 0) {
      System.err.println(s"[tripwire] ${budgetBlown.get()} stage(s) over " +
        s"SPARK_GRAFT_STAGE_ROW_BUDGET=${rowBudget.get} — failing run")
      sys.exit(3)
    }
  }
}
