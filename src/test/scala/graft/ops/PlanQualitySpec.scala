package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: these lock in the scan pushdown /
  * broadcast / partial-aggregation properties the operators are
  * designed around — a regression here is a silent 100×-at-scale
  * cost even when results stay correct. */
class PlanQualitySpec extends AnyFunSuite with SparkSuite {

  private val d = "/root/testdata/sf0.001"

  // formatted mode keeps the full scan metadata (PushedFilters /
  // ReadSchema) that plain toString truncates
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("q02 selective scan pushes every predicate into the parquet reader") {
    val p = plan(Relational.q02ScanRevenue(spark, d))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(400))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("LessThan(l_quantity,24.0)"))
    // column pruning: scan reads only the 4 referenced columns
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"))
  }

  test("q04 snowflake joins broadcast all four dimensions") {
    val p = plan(Relational.q04RegionBrand(spark, d))
    // formatted mode mentions each node in tree + detail → ≥4 joins
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p.take(400))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
  }

  test("q01 aggregate has map-side partials") {
    val p = plan(Relational.q01PricingSummary(spark, d))
    assert(p.contains("partial_sum") || p.contains("HashAggregate"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      "more than one aggregate shuffle")
  }

  test("q26 brute-force kNN broadcasts the query side, not the corpus") {
    val p = plan(Similarity.q26KnnBrute(spark, d))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("q27 LSH kNN is a bucketed equi-join: broadcast query side, no cartesian/NLJ") {
    val p = plan(Similarity.q27KnnLsh(spark, d))
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "LSH candidate generation must stay an equi-join on (table, key)")
  }

  test("q37 IVF assigns cells as a projection: no row-amplifying join, one corpus shuffle") {
    val p = plan(Similarity.q37KnnIvf(spark, d))
    // the codebook is inlined as literals → assignment must NOT appear
    // as a centroid join + re-aggregation (the former 16× NLJ shape)
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
    // shuffles: probe join on cell + final per-query window — the
    // corpus is never exchanged more than once for assignment
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "unexpected extra shuffle in IVF plan")
  }

  test("IVF partitioned-by-cell layout prunes probe reads and matches q37 exactly") {
    import org.apache.spark.sql.functions.col
    val work = java.nio.file.Files.createTempDirectory("graftivflayout").toString
    val layout = s"$work/embeddings_by_cell"
    Similarity.ivfIndex(spark, d).write(Tables.embeddings(spark, d), layout)
    // a 2-query probe touches a strict SUBSET of the 16 cells: the
    // probe predicate must reach the scan as a PARTITION filter
    // (IN/INSET over cell) — directory-level pruning, the 100 TB
    // probes/cells read pattern
    val two = Similarity.ivfKnnPartitioned(spark, d, layout, queryMax = 2)
    val p = plan(two)
    val pf = """PartitionFilters: \[[^\]]*cell#\d+ IN(SET)? \(?([^)\],]+(, )?)+""".r
    assert(pf.findFirstIn(p).isDefined,
      "probe cells not pruned at partition level:\n" +
        p.substring(p.indexOf("PartitionFilters")).take(300))
    val inset = """cell#\d+ INSET ([\d, ]+)""".r.findFirstMatchIn(p)
      .map(_.group(1).split(",").length)
      .orElse("""cell#\d+ IN \(([^)]+)\)""".r.findFirstMatchIn(p)
        .map(_.group(1).split(",").length))
    assert(inset.exists(n => n > 0 && n < 16),
      s"expected a strict subset of the 16 cells, got $inset")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // the 2-query pruned probe matches q37 restricted to those queries
    // (per-query ranking is independent of the query set)
    assert(rows(two) ==
      rows(Similarity.q37KnnIvf(spark, d).filter(col("qid") < 2)))
    // and the full pruned probe returns the IDENTICAL top-5 (same
    // codebook, same probe set, same re-rank ordering)
    assert(rows(Similarity.ivfKnnPartitioned(spark, d, layout)) ==
      rows(Similarity.q37KnnIvf(spark, d)))
  }

  test("q77 bloom probe filters the fact side BELOW its shuffle, under a sort-merge join") {
    val df = BloomJoin.q77BloomJoin(spark, d)
    val p = df.queryExecution.executedPlan.toString
    // the regime under test: dim NOT broadcast (pinned SMJ)
    assert(p.contains("SortMergeJoin"), p.take(600))
    // the probe must sit on the scan side of the fact Exchange — i.e.
    // appear in a Filter BEFORE any shuffle writes fact rows. In the
    // tree string the probe's might_contain filter and the fact scan
    // share a codegen stage that feeds the Exchange.
    val pf = p.indexOf("Filter (bloommightcontain")
    assert(pf >= 0, "bloom probe missing from physical plan:\n" + p.take(800))
    // plans print top-down (parent before child), so the fact-side
    // Exchange must print BEFORE the probe Filter (probe below the
    // shuffle), and the next scan after the probe must be the fact
    // scan (o_custkey columns) with no Exchange in between
    val factExchange = p.indexOf("Exchange hashpartitioning(o_custkey")
    assert(factExchange >= 0 && factExchange < pf,
      "bloom probe runs AFTER the fact shuffle:\n" + p.take(1200))
    val nextScan = p.indexOf("Scan parquet", pf)
    val nextExchange = p.indexOf("Exchange", pf)
    assert(nextScan >= 0 && (nextExchange < 0 || nextScan < nextExchange),
      "probe filter not adjacent to the fact scan:\n" + p.take(1200))
    assert(p.substring(nextScan).take(400).contains("o_custkey"),
      "scan after the probe is not the fact scan:\n" + p.substring(nextScan).take(400))
  }

  test("q78 TF-IDF: no single-partition exchange; AQE free to pick the vocab join") {
    val p = plan(TextAnalysis.q78TfidfTerms(spark, d))
    // the per-doc top-3 window must partition by doc, never collapse
    // the corpus to one partition (rangepartitioning for the final
    // presentation sort is fine)
    assert(!p.contains("Exchange SinglePartition"),
      "global single-partition exchange in TF-IDF plan")
  }

  test("no mandatory broadcast hint over an unbounded aggregate (q76/q78/q79/q88)") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    // a hint over a subtree whose maxRows is statically unknown is a
    // mandatory multi-GB-at-100TB broadcast; 1-row scalar aggregates
    // (maxRows = Some(1)) are the only hints these plans may carry —
    // anything vocab/cluster-sized must be left to AQE's runtime stats
    def unbounded(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.isDefined && h.child.maxRows.isEmpty =>
          h.child.nodeName
      }
    assert(unbounded(TextAnalysis.q78TfidfTerms(spark, d)).isEmpty)
    assert(unbounded(TextAnalysis.q79BigramNll(spark, d)).isEmpty)
    assert(unbounded(TextAnalysis.q88VocabCoverage(spark, d)).isEmpty)
    assert(unbounded(Curation.q76DedupClusters(spark, d)).isEmpty)
  }

  test("q79 bigram model joins stay partitioned; no single-partition exchange") {
    val p = plan(TextAnalysis.q79BigramNll(spark, d))
    assert(!p.contains("Exchange SinglePartition"),
      "global single-partition exchange in bigram-LM plan")
    assert(!p.contains("CartesianProduct"))
  }

  test("q90 substring dedup: partial gram aggregate, equi-joins only, no cartesian") {
    val p = plan(Dedup.q90SubstrStats(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "substring dedup must never degenerate to an all-pairs join")
    // the ≥2-distinct-docs gate is the min≠max pair test (round 11:
    // the countDistinct form carried (h1,h2,doc) triples through an
    // extra dedup pass at the 1000× octave) — both legs must still
    // combine map-side
    assert(p.contains("partial_min") && p.contains("partial_max"),
      p.take(800))
    assert(!p.contains("partial_count(distinct"),
      "the distinct expansion is back — see the round-11 q90 1000× fix")
  }

  test("q92 semantic dedup joins on the blocking key, never all-pairs") {
    val p = plan(Dedup.q92SemanticDedup(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("label"), "blocking key must drive the self-join")
  }

  test("q93 packing shuffles once on the group key; no global sort before the fold") {
    val df = Curation.q93SeqPacking(spark, d)
    val p = df.queryExecution.executedPlan.toString
    // the fold's input sort is within partitions (flatMapSortedGroups),
    // not a global Exchange rangepartitioning before MapGroups
    val mapGroupsAt = p.indexOf("MapGroups")
    assert(mapGroupsAt >= 0, p.take(600))
    assert(!p.substring(mapGroupsAt).contains("rangepartitioning"),
      "packing must not global-sort below the group fold")
  }

  test("q80 incremental dedup anti-joins the index (no cartesian, no corpus re-agg)") {
    val df = Dedup.q80IncrementalDedup(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("leftanti"), p.take(600))
    assert(!p.contains("CartesianProduct"))
  }

  test("mergeUpsert plans as one anti-join + union; no cartesian") {
    // q84 itself returns the read-back snapshot (the merge runs inside
    // the write), so gate the merge expression directly
    import org.apache.spark.sql.functions.{col, lit}
    val cur = Tables.customer(spark, d)
    val batch = cur.filter(col("c_custkey") <= 10)
      .withColumn("c_mktsegment", lit("X"))
    val p = plan(MergeOps.mergeUpsert(cur, batch, "c_custkey"))
    assert(p.contains("LeftAnti"), p.take(600))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Union"))
  }

  test("q57 partitioned layout prunes at the directory level") {
    val p = plan(InferOps.q57PartitionedPrune(spark, d))
    assert("""PartitionFilters: \[lang#\d+ IN \(en,de\)\]""".r.findFirstIn(p).isDefined,
      "partition predicate missing:\n" + p.substring(p.indexOf("Scan parquet")).take(500))
  }

  test("whole-stage codegen covers the native cosine expression") {
    // parquet-backed input — a local relation would be constant-folded
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, d)
    val df = e.select(graft.functions.GraftFunctions.cosine_sim(
      org.apache.spark.sql.functions.col("embedding"),
      org.apache.spark.sql.functions.col("embedding")).as("selfsim"))
    // '*(n)' prefixes mark whole-stage-codegen stages in toString
    val p0 = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[cosinesimilarity""".r.findFirstIn(p0).isDefined, p0.take(300))
    // and it evaluates to 1.0 for self-similarity through codegen
    val vals = df.limit(5).collect().map(_.getDouble(0))
    vals.foreach(v => assert(math.abs(v - 1.0) < 1e-9))
  }
  test("q120 chunking is scan-local: no Exchange anywhere in the plan") {
    val p = plan(Audit.q120DocChunking(spark, d))
    // sequence+explode+substring must stay a projection pipeline —
    // the final orderBy is the only allowed exchange (range partition)
    assert(!p.contains("hashpartitioning("), p.take(600))
    assert("Exchange \\(".r.findAllIn(p).size <= 1, p.take(600))
  }

  test("q121 covariance shuffles only the tiny partial frame, never corpus x d^2") {
    val df = Audit.q121EmbeddingCovariance(spark, d)
    val p = plan(df)
    // exactly two exchanges: the (i, j) partial-aggregate hash
    // shuffle and the final orderBy range partition
    assert("Exchange \\(".r.findAllIn(p).size == 2, p.take(600))
    assert(p.contains("hashpartitioning(i#") || p.contains("hashpartitioning(i"), p.take(600))
    // and no join anywhere (the oracle's self-join shape must not leak in)
    assert(!p.contains("Join"), "covariance must not join")
  }

  test("q129 PIT join stays an equi-join on the key (no range-join NLJ)") {
    val p = plan(MergeOps.q129PitJoin(spark, d))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(600))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("q124 novelty grams shuffle 128-bit hash keys, not gram text") {
    val p = plan(Audit.q124NgramNovelty(spark, d))
    // the first-sighting aggregate and the join must key on (h1, h2)
    assert(p.contains("xxhash64"), p.take(400))
    assert(!p.contains("hashpartitioning(g#"), "gram text must not be a shuffle key")
  }

  test("q135 exact cosine join: prefix-filtered equi-joins only, never corpus x corpus") {
    val p = plan(SparseSim.q135CosineJoin(spark, d))
    // every join keys on (term) or (doc id) — an all-pairs fallback
    // here is the 125-billion-pair quadratic the operator exists to avoid
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "cosine join must never degenerate to all-pairs")
    // the candidate dot products combine map-side before the pair shuffle
    assert(p.contains("partial_sum"), p.take(800))
  }

  test("q136/q138 attribution: exactly one window pass each, no cartesian") {
    for (df <- Seq(EventOps.q136Attribution(spark, d),
        EventOps.q138AttributionModels(spark, d))) {
      // node-name match on the physical plan string (AQE wraps the
      // plan in a leaf AdaptiveSparkPlanExec, so a tree collect over
      // executedPlan cannot see the inner operators)
      val p = df.queryExecution.executedPlan.toString
      val windows = "(?m)^[\\s*+:-]*Window ".r.findAllIn(p).size
      // q138's two models ride ONE exploded credits array — a per-model
      // union would re-run the sort+window compute per branch
      assert(windows == 1, s"expected 1 Window operator, got $windows in:\n${p.take(1200)}")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    }
  }

  test("q151 repetition filter: no Window sort of the token stream, no cartesian") {
    val p = plan(TextAnalysis.q151RepetitionFilter(spark, d))
    // adjacency comes from the flatMap tokenizer, never a per-doc
    // window (the posexplode+lead draft paid a full token sort-shuffle)
    assert(!p.contains("Window"), "token-stream Window crept back in")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q154 phrase search: postings equi-joins, broadcast 1-row phrase, no Window") {
    val p = plan(Retrieval.q154PhraseSearch(spark, d))
    assert(!p.contains("Window"), "adjacency must come from the tokenizer")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q153 CDC extract is one co-partitioned full-outer join") {
    val p = plan(MergeOps.q153SnapshotDiff(spark, d))
    assert(p.contains("FullOuter"), p.take(400))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // both snapshot sides hash on the key; no other shuffle before the
    // presentation sort
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p.take(600))
  }

  test("q155 int8 quantization is scan-local: no join, no hash exchange") {
    val p = plan(Similarity.q155Int8Quant(spark, d))
    assert(!p.contains("Join"), "quantization must not join")
    assert(!p.contains("hashpartitioning("), p.take(600))
    // the presentation orderBy is the only allowed exchange
    assert("Exchange \\(".r.findAllIn(p).size <= 1, p.take(600))
  }

  test("q152/q157 quantized & hard-negative kNN broadcast the query side") {
    for (df <- Seq(Similarity.q152HardNegatives(spark, d),
        Similarity.q157KnnInt8(spark, d))) {
      val p = plan(df)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        p.take(400))
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("q156 curriculum positions: no Window, no single-partition exchange") {
    val p = plan(Curation.q156CurriculumOrder(spark, d))
    // the whole point: global positions WITHOUT row_number() over a
    // corpus-wide window collapsed to one partition
    assert(!p.contains("Window"), "global window crept back in")
    assert(!p.contains("Exchange SinglePartition"), p.take(600))
  }

  test("q164 Mann-Whitney: no unpartitioned rank window on the value frame") {
    val p = plan(EventOps.q164MannWhitney(spark, d))
    // per-user revenue SUMS are unbounded-domain, so the exclusive
    // running count must use the q156 range-partition + prefix-sum
    // shape, never `Window.orderBy(y)` with no partition. (The final
    // 1-row moment aggregate still exchanges P PARTIAL rows to one
    // partition — O(P), fine; what must not appear is a Window node,
    // which would mean the whole value frame sorts in one task.)
    assert(!p.contains("Window"), "unpartitioned rank window crept back in")
    assert(p.contains("MapPartitions"), "prefix-sum stamping pass missing:\n" + p.take(600))
  }

  test("co-purchase edges (q148/q158/q159) self-join on the order key with map-side partials") {
    val p = plan(Graph.coPurchaseStrength(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "edge build must stay an equi-join on the order key")
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p.take(600))
  }

  test("q165 weighted rank iteration: ranks equi-join edges on src + dst hash agg, no cartesian") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = Seq((1L, 2L, 3L, 3L), (2L, 1L, 3L, 3L)).toDF("src", "dst", "c", "wdeg")
    val ranks = Seq((1L, 100L), (2L, 100L)).toDF("node", "r")
    val p = plan(Graph.pushRound(e, ranks, Graph.WeightedPush.contrib,
      org.apache.spark.sql.functions.lit(1L)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "weighted mass push must equi-join on src, never all-pairs")
    assert(p.contains("HashAggregate"), p.take(600))
  }

  test("mass-push broadcast-ranks round: BroadcastHashJoin, no Exchange or Sort on the edge side") {
    // the broadcast/rescan tier of the rank core streams the persisted
    // edge frame through a BHJ against the vertex-sized ranks side; the
    // hint alone must carry the join (size-based broadcast is switched
    // off) and the edge side must reach the join without a shuffle or
    // sort (the attach tier combines its rounds on the driver and plans
    // no round query)
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col, count, lit}
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.storage.StorageLevel
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val bare = spark.range(5000)
        .select((col("id") % 50).as("src"), (col("id") % 37).as("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val deg = bare.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val ranks = deg.select(col("src").as("node"), lit(1000000L).as("r"))
      // broadcast/rescan tier: the bare frame, (node, r, deg) broadcasts
      val rounds = Seq(
        "broadcast" -> Graph.pushRound(bare.coalesce(64),
          broadcast(ranks.join(deg, col("node") === col("src"))
            .select(col("node"), col("r"), col("deg"))),
          Graph.UniformPush.contrib, lit(1L)))
      for ((tier, round) <- rounds) {
        val ex = round.queryExecution.executedPlan
        val bhj = ex.collect { case j: BroadcastHashJoinExec => j }
        assert(bhj.size == 1, s"$tier round lost its broadcast:\n$ex")
        val j = bhj.head
        val edgeSide = if (j.buildSide == BuildRight) j.left else j.right
        assert(edgeSide.collect { case x: InMemoryTableScanExec => x }.nonEmpty,
          s"$tier round streams the wrong side:\n$ex")
        assert(edgeSide.collect { case x: ShuffleExchangeExec => x }.isEmpty &&
          edgeSide.collect { case x: SortExec => x }.isEmpty,
          s"$tier round re-plans the edge side:\n$edgeSide")
        assert(round.count() == 37L) // one row per dst
      }
      bare.unpersist()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("q168 k-core round: two survivor semi-joins + degree agg, no cartesian") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val surv = Seq(1L, 2L).toDF("node")
    val p = plan(Graph.aliveEdges(e, surv))
    assert(p.toLowerCase.contains("leftsemi"), p.take(600))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "survivor restriction must be key semi-joins, never all-pairs")
  }

  test("q170 link prediction: wedge equi-join + anti-join, no cartesian") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val p = plan(Graph.linkPredict(e, minCn = 1))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "wedge enumeration must equi-join on the middle vertex, never all-pairs")
    assert(p.toLowerCase.contains("leftanti"),
      "existing-edge exclusion must be an anti-join:\n" + p.take(600))
    assert(p.contains("HashAggregate"), p.take(600))
  }

  test("q171 relaxation round: dist equi-joins edges on src + min hash agg") {
    import spark.implicits._
    val e = Seq((1L, 2L, 5L), (2L, 1L, 5L)).toDF("src", "dst", "w")
    val dist = Seq((1L, 0L)).toDF("node", "dcost")
    val p = plan(Graph.relaxRound(e, dist))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "relaxation must join dist to edges on src, never all-pairs")
    assert(p.contains("HashAggregate"), p.take(600))
  }

  test("q160/q171 pre-partitioned persisted edge frames skip the per-round Exchange+Sort") {
    // The round-10 layout fix, pinned as a plan diff: an edge frame
    // repartitioned+sorted on the round join key and PERSISTED keeps
    // that layout through every iteration (InMemoryRelation retains
    // partitioning AND ordering), so the per-round SMJ exchanges and
    // sorts only the vertex-sized side. The control shows the
    // alternative: a localCheckpoint degrades to Scan ExistingRDD and
    // the data-sized edge frame re-exchanges + re-sorts EVERY round —
    // O(E log E) shuffle per round instead of O(E) I/O at 100 TB.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.storage.StorageLevel
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val edges = spark.range(5000)
        .select((col("id") % 50).as("src"), (col("id") % 37).as("dst"))
      val labels = edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
      def smjSide(df: org.apache.spark.sql.DataFrame, left: Boolean): SparkPlan = {
        val smjs = df.queryExecution.executedPlan
          .collect { case j: SortMergeJoinExec => j }
        assert(smjs.nonEmpty, df.queryExecution.executedPlan.toString.take(600))
        if (left) smjs.head.left else smjs.head.right
      }
      def exchangesAndSorts(p: SparkPlan): (Int, Int) =
        (p.collect { case x: ShuffleExchangeExec => x }.size,
          p.collect { case x: SortExec => x }.size)
      // production shape (connectedComponents / bellman-ford build)
      val prepped = edges.repartition(col("src"))
        .sortWithinPartitions(col("src")).persist(StorageLevel.DISK_ONLY)
      prepped.count() // materialize
      // ccRound puts e on the LEFT; relaxRound puts it on the RIGHT
      val ccEdge = exchangesAndSorts(smjSide(Graph.ccRound(prepped, labels), left = true))
      assert(ccEdge == ((0, 0)),
        s"CC round re-plans the persisted edge side: $ccEdge")
      val dist = labels.select(col("node"), col("label").as("dcost"))
      val wprepped = edges.withColumn("w", col("dst") + 1L)
        .repartition(col("src")).sortWithinPartitions(col("src"))
        .persist(StorageLevel.DISK_ONLY)
      wprepped.count()
      val bfEdge = exchangesAndSorts(smjSide(Graph.relaxRound(wprepped, dist), left = false))
      assert(bfEdge == ((0, 0)),
        s"relax round re-plans the persisted edge side: $bfEdge")
      // control: a checkpointed frame pays Exchange+Sort every round
      val ckpt = edges.localCheckpoint(eager = true)
      val (ex, so) = exchangesAndSorts(smjSide(Graph.ccRound(ckpt, labels), left = true))
      assert(ex >= 1 && so >= 1,
        s"control should re-exchange+re-sort a checkpointed edge frame, got ($ex, $so)")
      prepped.unpersist(); wprepped.unpersist()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("q181 LPA round: one label equi-join + two hash aggregates, no cartesian, no window") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 2L)).toDF("node", "label")
    val p = plan(Graph.lpRound(e, labels))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "vote flow must equi-join labels to edges on src")
    // the argmax is an aggregate (max of (votes, -label)), never a
    // per-node window sort
    assert(!p.contains("Window"), p.take(600))
    assert(p.contains("HashAggregate"), p.take(600))
  }

  test("q172 band pairs: equi-join on (band_idx, band_val), no cartesian") {
    import spark.implicits._
    val hs = Seq((1L, 7L), (2L, 7L)).toDF("doc_id", "phash")
    val p = plan(Multimodal.bandPairs(hs))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must stay a band equi-join, never all-pairs")
  }

  test("q158 BFS round: frontier equi-join + one anti-join, no cartesian") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val dist = Seq((1L, 0L)).toDF("node", "hops")
    val p = plan(Graph.bfsRound(e, dist, dist.select(col("node")), h = 1))
    assert(p.toLowerCase.contains("leftanti"), p.take(600))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "BFS expansion must join frontier to edges on src, never all-pairs")
  }

  test("q160 CC round: one label equi-join + one min aggregate, no cartesian") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 2L)).toDF("node", "label")
    val p = plan(Graph.ccRound(e, labels))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "label propagation must equi-join on src")
    assert(p.contains("partial_min") || p.contains("HashAggregate"), p.take(600))
  }

  test("q159 triangles: wedge + closure are key joins (semi-join closure), no cartesian") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
    val e = edges.toDF("src", "dst")
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val p = plan(Graph.triangleCredits(e, deg))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "wedge build must equi-join on the low vertex; closure on (v, w)")
    assert(p.toLowerCase.contains("leftsemi"), p.take(800))
  }

  test("q137 SemDeDup policy self-joins on the blocking key, never all-pairs") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // gate the policy composition directly: q137's top-level frame
    // cross-joins three 1-row gate aggregates (bounded by construction),
    // which would trip a plan-wide no-cartesian assertion
    val e = Seq((1L, 0, Array(1f, 0f)), (2L, 0, Array(1f, 0f)),
      (3L, 1, Array(0f, 1f))).toDF("vec_id", "cell", "v")
    val p = plan(Dedup.semDedupPolicy(e, blockCol = "cell", vecCol = "v", tau = 0.9))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the quadratic term must run within cells, not across the corpus")
    assert(p.contains("cell"), "blocking key must drive the self-join")
  }

  test("q183 k-means assignment folds literal centroids into the scan: no join at all") {
    import spark.implicits._
    // the argmin against k driver-held centroids must be a codegen'd
    // expression over the corpus scan — any Join node here means the
    // centroids became a frame and the assignment pays k·N join work
    import org.apache.spark.sql.functions.col
    val codes = Seq((1L, Seq(0L, 0L)), (2L, Seq(9L, 9L))).toDF("vec_id", "cv")
    val cents = Array(Array(0L, 0L), Array(10L, 10L))
    val p = plan(codes.select(col("vec_id"),
      Cluster.bestOf(cents).getField("cid").as("cluster")))
    assert(!p.contains("Join"), p.take(600))
    assert(!p.contains("Exchange"), "assignment must be a map-only stage")
  }

  test("q184 PPR round: ranks equi-join edges on src + dst hash agg, no cartesian") {
    import spark.implicits._
    // one synthetic round through the public entry (iterations=1):
    // the seeded teleport must ride the aggregate, never a cartesian
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val p = plan(Graph.personalizedPageRank(e, Seq(1L).toDF("pk"),
      iterations = 1))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "seeded mass push must equi-join on src, never all-pairs")
    // round 15: the per-round join+aggregate executes behind each
    // round's localCheckpoint (broadcast-ranks shape), so the RETURNED
    // frame's plan is the readout — two equi-joins over the final
    // checkpointed ranks. Pin that the readout stays hash-join-shaped.
    assert(p.contains("Join"), p.take(600))
  }

  test("q114 per-chunk verification: parked shingle frame and pair aggregate never exchange") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    // the round-15 exchange inventory (the 1000× stage-dump cut): with
    // the shingle frame parked hash-partitioned by doc_id and sorted
    // (doc_id, k1, k2), one verification pass plans exactly TWO
    // exchanges — the candidate slice re-key to doc_a and the
    // expansion re-key to doc_b (Spark's subset-key co-partitioning
    // against the parked frame) — and the (doc_a, doc_b) aggregate
    // rides the join's doc_b partitioning with no exchange of its own
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sh = (1L to 40L).flatMap(d => (1L to 5L).map(i => (d, d * 100 + i, d * 200 + i)))
        .toDF("doc_id", "k1", "k2")
        .repartition(org.apache.spark.sql.functions.col("doc_id"))
        .sortWithinPartitions("doc_id", "k1", "k2")
        .persist(StorageLevel.DISK_ONLY)
      try {
        // materialize the cache FIRST — exactly the runtime ordering in
        // prefixJaccardPairs (the stats action precedes every
        // verification plan): an un-executed AQE-wrapped cache reports
        // unknown partitioning and would plan spurious exchanges
        sh.count()
        val cand = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
        val p = plan(Dedup.verificationCo(cand, sh))
        // tree block of the formatted plan: header + node lines, ends
        // at the first blank line; a node's child prints on the next
        // line, so parent→child invariants are sliding-window checks
        val tree = p.linesIterator.takeWhile(_.trim.nonEmpty).toSeq
        assert(tree.exists(_.contains("Exchange")), p.take(1500))
        tree.sliding(2).foreach {
          case Seq(a, b) =>
            assert(!(a.contains("Exchange") && b.contains("InMemoryTableScan")),
              s"parked shingle frame re-exchanged:\n${tree.mkString("\n")}")
            assert(!(a.contains("Sort (") && b.contains("InMemoryTableScan")),
              s"parked shingle frame re-sorted:\n${tree.mkString("\n")}")
            assert(!(a.contains("HashAggregate") && b.contains("Exchange")),
              s"pair aggregate exchanged instead of riding the join partitioning:\n${tree.mkString("\n")}")
          case _ => ()
        }
      } finally sh.unpersist()
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q185 neighbor sampling: src-partitioned window + equi-join, no global sort before ranks") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val df = Graph.neighborSample2Hop(e)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the rank window must be partitioned (Window ... partitionBy src),
    // never a single-partition global window
    val winSpecs = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("src")),
      winSpecs.mkString("\n"))
  }
}
