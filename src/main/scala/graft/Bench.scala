package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // ambient load BEFORE any work (round-13 ask 4): load1m stamped
    // only at exit measures the bench itself — a min-of-3 recorded run
    // exits with a HIGHER load than a contended min-of-2 driver run,
    // inverting the quiet/loaded adjudication the stamp exists for.
    // Negative means the platform has no load average — omit, never
    // record a sentinel a reader could misread as a quiet box.
    def loadNow: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadPre = loadNow
    val spark = GraftSession.local(cpus)
    // per-run shuffle-write counters (the BenchOne listener): the
    // auto-brackets below report measured shuffle volume, not inference
    val shufBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val shufRows = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRows.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          ()
        }
      }
    })
    // warmup: file index + parquet footers + codegen + shuffle
    // machinery for EVERY table, so one-time JVM/IO costs don't land
    // on whichever query touches a table first — per-query times then
    // measure the operator, not initialization order (best-effort: a
    // missing table must not kill the whole bench)
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    catch { case _: Throwable => () }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    // events needs the nanos normalization — warm it through the loader
    try graft.ops.Tables.events(spark, sfDir).count()
    catch { case _: Throwable => () }
    // SPARK_GRAFT_RUNS (default 2) — min-of-N timed runs per query.
    // Recorded artifact runs use 3 (BASELINE.md: ±10-15% cross-run
    // container variance; a third sample damps it enough that
    // round-over-round comparison stops needing a noise disclaimer,
    // for ~+80 s per suite); iteration runs keep 2.
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt)
    var failed = List.empty[String]
    // run-1 wall per query (full JSON/file only): min-of-N hides
    // once-per-JVM costs (memoized baselines, first-touch codegen);
    // run1 vs min makes cold-vs-amortized adjudicable from the artifact
    val firstRuns = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = SparkEntry.queries.map { case (name, fn) =>
      // min of N timed runs: one noisy-neighbor stall (container
      // contention skewed a recorded round ~1.6×) can't fake a
      // regression; min — not mean — because contention only ever
      // ADDS time to a deterministic workload. Any failure voids the
      // query entirely (0.0 + `failed`, later runs short-circuited) —
      // a failed query must never carry a plausible-looking time.
      var ok = true
      var best = Double.MaxValue
      var first = -1.0 // run-1 wall: discloses once-per-JVM cold cost
      var run = 0
      while (ok && run < runs) {
        run += 1
        val t0 = System.nanoTime()
        // noop sink materializes EVERY output column — a bare count()
        // would let Catalyst prune the projections being benchmarked
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val sec0 = (System.nanoTime() - t0) / 1e9
          if (run == 1) first = sec0
          best = math.min(best, sec0)
        } catch { case _: Throwable => ok = false; failed ::= name }
      }
      // storage hygiene between queries: graph/dedup operators
      // localCheckpoint intermediate frames and then drop the
      // references — reclamation is ContextCleaner-async and
      // GC-driven, so without a nudge orphaned blocks pile up across
      // the 164-query suite and later queries run under storage
      // pressure the operator itself never created (the streaming
      // cluster runs lexicographically AFTER the graph family).
      // Deliberately pinned per-JVM artifacts (keepBestCache,
      // zorderedLineitem, shingleCache) stay reachable and survive.
      System.gc()
      // per-query progress on stderr (stdout stays the single JSON
      // line): when a long suite run dies mid-flight — the r10 100×
      // OOM killed the JVM with zero attribution — the last line
      // names the query that was running, and the free-heap figure
      // shows whether pressure was accumulating across the suite
      val rt = Runtime.getRuntime
      val headroom = rt.maxMemory() - rt.totalMemory() + rt.freeMemory()
      System.err.println(f"[bench] $name%s ${if (ok) best else -1.0}%.3f s " +
        f"heap_headroom=${headroom / (1 << 20)}%d MiB")
      firstRuns(name) = if (ok) first else 0.0
      name -> (if (ok) best else 0.0)
    }
    failed = failed.distinct
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
    }
    // ms precision: full Double digits made the one-line JSON long
    // enough that a prior round's stdout-tail capture truncated its
    // HEAD and the recorder parsed null — sub-ms digits are container
    // noise anyway. Double.toString (not %f) is locale-independent:
    // a comma decimal point would not be JSON.
    def sec(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    // per-query entries in DESCENDING time order: if a log capture
    // truncates the line's tail, what survives is the headline totals
    // plus the most expensive queries — the entries a reader actually
    // needs; the cheap tail is what gets lost
    val qs = results.toSeq.sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => "\"" + esc(k) + "\":" + sec(v) }
      .mkString("{", ",", "}")
    val failedJson = failed.sorted.map(n => "\"" + esc(n) + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // self-adjudicating movers (round-13 ask 4): any query that moved
    // >2x vs the PREVIOUS driver artifact gets an embedded isolated
    // bracket — 3 warm runs at the quiet post-suite tail plus measured
    // shuffle write — so a phantom contention swing (the r13 q87 3.25x)
    // is adjudicable from this JSON alone, no second file needed.
    // Previous artifact: $SPARK_GRAFT_PREV_BENCH, else the highest
    // BENCH_r*.json in the working directory.
    val prevPath = sys.env.get("SPARK_GRAFT_PREV_BENCH").orElse {
      val cwd = java.nio.file.Paths.get(".")
      import scala.jdk.CollectionConverters._
      scala.util.Try(scala.util.Using.resource(java.nio.file.Files.list(cwd)) {
        _.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.matches("BENCH_r\\d+\\.json")).toSeq
          // numeric round order (advice round-14): lexicographic sort
          // only worked while names stayed zero-padded two-digit —
          // r9 vs r100 would silently bracket against a stale baseline
          .sortBy(n => "\\d+".r.findFirstIn(n).map(_.toInt).getOrElse(0))
          .lastOption
      }).toOption.flatten
    }
    val prevQ: Map[String, Double] = prevPath.flatMap { p =>
      scala.util.Try {
        // the driver's BENCH_r*.json wraps this program's stdout tail
        // as an escaped JSON string field — unescape \" so both the
        // raw and the driver-wrapped form parse with one scan. The
        // wrapped tail is head-truncated, so the surviving queries map
        // is the final line's expensive-entries subset — exactly the
        // entries a >2x bracket matters for.
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)), java.nio.charset.StandardCharsets.UTF_8)
          .replace("\\\"", "\"")
        // same scale factor only: bracketing a sf0.001 smoke against a
        // sf0.1 artifact would flag every query as a mover
        val sfOk = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(txt)
          .exists(_.group(1) == sfDir)
        if (!sfOk) Map.empty[String, Double]
        else {
          val body = txt.substring(txt.indexOf("\"queries\":{") + 11)
          val inner = body.substring(0, body.indexOf('}'))
          "\"([^\"]+)\":(-?[0-9.eE+]+)".r.findAllMatchIn(inner)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      }.toOption
    }.getOrElse(Map.empty)
    val movers = results.toSeq.filter { case (k, v) =>
      v > 0.0 && prevQ.get(k).exists { pv =>
        pv > 0.0 && math.max(v, pv) >= 0.5 &&
          (v / pv > 2.0 || pv / v > 2.0)
      }
    }.sortBy { case (k, v) => (-math.max(v / prevQ(k), prevQ(k) / v), k) }
      .take(8) // bound the added wall; worst swings first
    val brackets0 = movers.map { case (k, v) =>
      val fn = SparkEntry.queries(k)
      val times = (1 to 3).flatMap { _ =>
        val b0 = shufBytes.get(); val r0 = shufRows.get()
        val t0 = System.nanoTime()
        val t = scala.util.Try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.toOption
        Thread.sleep(1000) // listener bus settle
        t.map(sec0 => (sec0, shufBytes.get() - b0, shufRows.get() - r0))
      }
      System.gc()
      val runsJson = times.map(t => sec(t._1)).mkString("[", ",", "]")
      val sb = if (times.nonEmpty) times.last._2 / (1 << 20) else -1L
      val sr = if (times.nonEmpty) times.last._3 else -1L
      "\"" + esc(k) + s"""":{"prev":${sec(prevQ(k))},"main":${sec(v)},"runs":$runsJson,"shuffle_mib":$sb,"shuffle_rows":$sr}"""
    }
    val brackets = brackets0.mkString("{", ",", "}")
    // provenance stamp (round-13 ask 5): min-of-N vs min-of-3 artifacts
    // and a loaded-vs-quiet box must be distinguishable from the JSON
    // alone — the r12 sf0.1 artifact shipped a 3.3x q148 "regression"
    // that took an isolated re-measurement to adjudicate as ambient
    // contention. load1m_pre (ambient, before any work) + load1m (exit)
    // bracket the run; negative load (platform unsupported) is omitted.
    val heapGib = Runtime.getRuntime.maxMemory() / (1L << 30)
    val load1m = loadNow
    val loadJson =
      (if (loadPre >= 0) s""""load1m_pre":${sec(loadPre)},""" else "") +
        (if (load1m >= 0) s""""load1m":${sec(load1m)},""" else "")
    val provBase = s""""runs":$runs,"heap_gib":$heapGib,$loadJson"shuffle_partitions":"${esc(spark.conf.get("spark.sql.shuffle.partitions"))}""""
    val prov = s"""$provBase,"brackets":$brackets"""
    // run-1 map (full JSON/file only; same ordering as queries)
    val qs1 = results.toSeq.sortBy { case (k, v) => (-v, k) }
      .map { case (k, _) => "\"" + esc(k) + "\":" + sec(firstRuns.getOrElse(k, 0.0)) }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":${sec(total)},"unit":"sec",$prov,"queries":$qs,"queries_run1":$qs1,"failed":$failedJson,"sf":"${esc(sfDir)}"}"""
    println(json)
    // also land the JSON in a file so the recorded artifact never
    // depends on stdout-tail capture (a prior round's artifact lost
    // the JSON head to log truncation)
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.write(java.nio.file.Paths.get("target/bench.json"),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Exception => () }
    graft.ops.InferOps.cleanupScratch()
    spark.stop()
    // FINAL stdout line: a size-bounded copy of the headline. The
    // recorder keeps only the last ~2,000 chars of stdout (measured:
    // BENCH_r15.json's `tail` field is exactly 2,000 chars) and parses
    // only this line, so the whole line must fit that window. The full
    // 190-query map (~5,300 chars) cannot — so the budget is spent by
    // priority (round 15's lesson: a grown brackets blob starved the
    // query map and 16 queries were misread as "dropped_from_bench"):
    //   1. headline totals/provenance (always),
    //   2. every query present in the previous artifact's map that
    //      fits — the driver's round-over-round compare then sees no
    //      phantom drop as long as the previous line fit this budget
    //      (a full-map artifact does not); each key skipped for lack of
    //      room is logged to stderr,
    //   3. brackets, worst swings first, capped so they can never
    //      starve priority 2 again,
    //   4. remaining queries by descending time, filling what's left.
    // The FULL map + full brackets are in target/bench.json and in the
    // first println above. Timing methodology above is untouched.
    val lineBudget = 1900 // headroom under the 2,000-char window
    def lastLine(qsStr: String, brStr: String): String =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec",$provBase,"brackets":{$brStr},"queries":{$qsStr},"failed":$failedJson,"sf":"${esc(sfDir)}"}"""
    val entries = results.toSeq.sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => k -> ("\"" + esc(k) + "\":" + sec(v)) }
    var avail = lineBudget - lastLine("", "").length
    val pick = scala.collection.mutable.LinkedHashSet.empty[String]
    // priority 2: the previous artifact's visible set
    entries.foreach { case (k, e) =>
      if (prevQ.contains(k)) {
        if (e.length + 1 <= avail) { pick += k; avail -= e.length + 1 }
        else System.err.println(s"[bench] final line: previous-artifact " +
          s"key $k skipped (needs ${e.length + 1} chars, $avail left)")
      }
    }
    // priority 3: brackets, bounded (≈5 entries) so queries keep room
    val brFit = new StringBuilder
    brackets0.foreach { b =>
      if (brFit.length + b.length + 1 <= math.min(avail - 1, 800)) {
        if (brFit.nonEmpty) brFit.append(','); brFit.append(b)
      }
    }
    avail -= brFit.length
    // priority 4: most expensive remaining queries
    entries.foreach { case (k, e) =>
      if (!pick.contains(k) && e.length + 1 <= avail) {
        pick += k; avail -= e.length + 1
      }
    }
    val fit = entries.filter(e => pick.contains(e._1)).map(_._2).mkString(",")
    println(lastLine(fit, brFit.toString))
    if (failed.nonEmpty) sys.exit(1)
  }
}
