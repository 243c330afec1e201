package graft.ops

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Fixture coverage for the integer PageRank family (q148/q165/q184):
  * the oracle gate replays the same arithmetic in DuckDB over the
  * provisioned graph; these pin every variant in every tier of the
  * shared mass-push core against an independent in-spec replay on
  * hand-sized graphs, plus the distribution-independence invariant. */
class GraphRankSpec extends AnyFunSuite with SparkSuite with BeforeAndAfterAll {
  import spark.implicits._

  private val M = 1000000000000L

  /** Independent driver-side replay of the exact integer iteration. */
  private def replay(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val n = deg.size.toLong
    val tele = (M * 15L) / (100L * n)
    var r: Map[Long, Long] = deg.keys.map(_ -> M / n).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => (r(src) * 85L) / (100L * deg(src)) }.sum
      }
      r = deg.keys.map(k => k -> (tele + in.getOrElse(k, 0L))).toMap
    }
    r
  }

  // symmetrized path graph 1–2–3 plus a 4–5 pair: mixed degrees,
  // two components
  private val pathEdges: Seq[(Long, Long)] =
    Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (4L, 5L), (5L, 4L))

  test("pageRank matches an independent integer replay exactly") {
    val out = Graph.pageRank(pathEdges.toDF("src", "dst"), Graph.Iterations)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == replay(pathEdges, Graph.Iterations))
  }

  test("rescan (broadcast-ranks) tier is row-identical to the persisted shape") {
    // the 1000×-octave tier: per-round edge re-scan + broadcast vertex
    // frame must yield bit-identical ranks (order-free long sums)
    val df = pathEdges.toDF("src", "dst")
    val persisted = Graph.pageRank(df, Graph.Iterations)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val rescan = Graph.pageRank(df, Graph.Iterations, Graph.EdgeTier(chunked = true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rescan == persisted)
  }

  test("the hub of a star graph outranks every leaf") {
    val star = (2L to 6L).flatMap(l => Seq((1L, l), (l, 1L)))
    val out = Graph.pageRank(star.toDF("src", "dst"), Graph.Iterations)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((2L to 6L).forall(l => out(1L) > out(l)))
    assert(out == replay(star, Graph.Iterations))
  }

  /** Independent replay of the WEIGHTED integer iteration. */
  private def replayW(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
    val wdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val n = wdeg.size.toLong
    val tele = (M * 15L) / (100L * n)
    var r: Map[Long, Long] = wdeg.keys.map(_ -> M / n).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _, c) => (r(src) * 85L * c) / (100L * wdeg(src)) }.sum
      }
      r = wdeg.keys.map(k => k -> (tele + in.getOrElse(k, 0L))).toMap
    }
    r
  }

  test("weightedPageRank matches an independent integer replay exactly") {
    // triangle with one heavy edge pair: 1-2 carries 10x the strength
    val edges: Seq[(Long, Long, Long)] = Seq(
      (1L, 2L, 10L), (2L, 1L, 10L), (2L, 3L, 1L), (3L, 2L, 1L),
      (1L, 3L, 1L), (3L, 1L, 1L))
    val out = Graph.weightedPageRank(edges.toDF("src", "dst", "c"),
        Graph.Iterations)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == replayW(edges, Graph.Iterations))
  }

  test("weighted: heavy-tie partner outranks the light one; uniform c degenerates to unweighted") {
    val edges: Seq[(Long, Long, Long)] = Seq(
      (1L, 2L, 10L), (2L, 1L, 10L), (1L, 3L, 1L), (3L, 1L, 1L))
    val out = Graph.weightedPageRank(edges.toDF("src", "dst", "c"),
        Graph.Iterations)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // vertex 2 receives 10/11 of vertex 1's pushed mass, vertex 3 only
    // 1/11 — strength must translate to rank
    assert(out(2L) > out(3L))
    // with every c equal the weighted iteration IS the unweighted one
    // (r*85*c div (100*c*deg') == r*85 div (100*deg) when wdeg = c*deg
    // divides evenly; use c=1 so the floors align exactly)
    val uni = pathEdges.map { case (s, t) => (s, t, 1L) }
    val w = Graph.weightedPageRank(uni.toDF("src", "dst", "c"), Graph.Iterations)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val u = Graph.pageRank(pathEdges.toDF("src", "dst"), Graph.Iterations)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w == u)
  }

  test("result is independent of input partitioning and conserves bounded mass") {
    val df = pathEdges.toDF("src", "dst")
    val a = Graph.pageRank(df.repartition(1), Graph.Iterations).collect()
    val b = Graph.pageRank(df.repartition(7), Graph.Iterations).collect()
    assert(a.toSeq == b.toSeq)
    // floor arithmetic only ever loses mass — never exceeds M
    assert(a.map(_.getLong(2)).sum <= M)
  }

  /** Independent replay of the SEEDED (personalized) integer iteration:
    * the teleport share restarts only at the seeds that are vertices. */
  private def replayP(edges: Seq[(Long, Long)], seeds: Set[Long],
      iters: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val sv = seeds.filter(deg.contains)
    val ns = sv.size.toLong
    val tele = (M * 15L) / (100L * ns)
    var r: Map[Long, Long] = deg.keys.map(k => k -> (if (sv(k)) M / ns else 0L)).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => (r(src) * 85L) / (100L * deg(src)) }.sum
      }
      r = deg.keys.map(k => k -> (in.getOrElse(k, 0L) + (if (sv(k)) tele else 0L))).toMap
    }
    r
  }

  // a triangle 1-2-3 with a tail 3-4-5 and a separate 6-7 pair: mixed
  // degrees, two components, every vertex with in-edges
  private val mixed: Seq[(Long, Long)] = Seq((1L, 2L), (2L, 3L), (1L, 3L),
    (3L, 4L), (4L, 5L), (6L, 7L)).flatMap { case (a, b) => Seq((a, b), (b, a)) }
  private val mixedW: Seq[(Long, Long, Long)] =
    mixed.map { case (a, b) => (a, b, 1L + (a * b) % 5L) }
  private val mixedSeeds = Set(1L, 5L, 99L) // 99 is no vertex

  // every tier of the mass-push core, selected through the tier value:
  // attach (memory-backed), broadcast over the persisted frame, rescan
  // (chunked build: the source re-scanned per round) and SMJ (a zero
  // vertex ceiling forces the pre-partitioned layout)
  private val attach = Graph.EdgeTier(level = StorageLevel.MEMORY_AND_DISK)
  private val tiers: Seq[(String, Graph.EdgeTier)] = Seq(
    "attach" -> attach,
    "broadcast" -> Graph.EdgeTier(),
    "rescan" -> Graph.EdgeTier(chunked = true),
    "SMJ" -> Graph.EdgeTier(vertexCeiling = 0L))

  /** A corpus dir whose one-row lineitem gives the held tiers a content
    * key; its held entries are released and the dir deleted at the end. */
  private lazy val corpus: String = {
    val d = Files.createTempDirectory("graft-rank-held").toString
    spark.range(1).write.parquet(s"$d/lineitem.parquet")
    d
  }

  /** The attach tier holding its blocks as edge set `edgeSet` of [[corpus]]. */
  private def held(edgeSet: String): Graph.EdgeTier =
    attach.copy(hold = Some(Graph.Hold(spark, corpus, edgeSet)))

  /** The registry's held entries of `dir`: tag -> RDD id. */
  private def heldIn(dir: String): Map[String, Int] =
    CorpusArtifacts.held.collect { case (tag, `dir`, id) => tag -> id }.toMap

  override def afterAll(): Unit = {
    CorpusArtifacts.release(corpus, heldIn(corpus).keys.toSeq: _*)
    InferOps.deleteDir(corpus)
    super.afterAll()
  }

  // 3 rounds: mass crosses the whole triangle-and-tail component, and
  // the rescan tier's per-round reclaim pause stays short
  private val matrixIters = 3

  private def rankUnits(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap

  private val variants: Seq[(String, Graph.EdgeTier => Map[Long, Long], Map[Long, Long])] = Seq(
    ("uniform", t => rankUnits(Graph.pageRank(mixed.toDF("src", "dst"), matrixIters, t)),
      replay(mixed, matrixIters)),
    ("weighted", t => rankUnits(Graph.weightedPageRank(mixedW.toDF("src", "dst", "c"),
      matrixIters, t)), replayW(mixedW, matrixIters)),
    ("seeded", t => rankUnits(Graph.personalizedPageRank(mixed.toDF("src", "dst"),
      mixedSeeds.toSeq.toDF("pk"), matrixIters, t)), replayP(mixed, mixedSeeds, matrixIters)))

  for ((tierName, tier) <- tiers; (variant, run, want) <- variants)
    test(s"$variant PageRank in the $tierName tier matches its integer replay") {
      assert(run(tier) == want)
    }

  /** Replay with the oracle's semantics, for any directed edge list
    * (src, dst, c): each round's ranks are GROUP BY dst over the edges
    * whose src holds a rank (teleport at every reached dst, or only at
    * reached seeds), and the readout inner-joins the degree (Σc when
    * `weighted`, else the out-edge count). */
  private def replayJoin(edges: Seq[(Long, Long, Long)], weighted: Boolean,
      seeds: Option[Set[Long]], iters: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (s, es) =>
      s -> (if (weighted) es.map(_._3).sum else es.size.toLong) }
    val starts = seeds.fold(deg.keySet)(_.filter(deg.contains))
    val tele = (M * 15L) / (100L * starts.size)
    var r: Map[Long, Long] =
      deg.keys.map(k => k -> (if (starts(k)) M / starts.size else 0L)).toMap
    for (_ <- 1 to iters) {
      r = edges.filter(e => r.contains(e._1)).groupBy(_._2).map { case (dst, es) =>
        val in = es.map { case (src, _, c) =>
          (r(src) * 85L * (if (weighted) c else 1L)) / (100L * deg(src)) }.sum
        dst -> (in + (if (seeds.forall(_(dst))) tele else 0L))
      }
    }
    r.filter { case (k, _) => deg.contains(k) }
  }

  // directed: a 1→2→3→1 cycle, 5 is a source (no in-edges), 4 a sink
  // (no out-edges, so no degree), and 6 is reached only from 5 — it
  // holds a rank after round 1 only, and its edge to 2 then carries
  // nothing; seed 4 is a sink, seed 6 dies out
  private val directed: Seq[(Long, Long)] =
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 1L), (5L, 6L), (6L, 2L))
  private val directedW: Seq[(Long, Long, Long)] =
    directed.map { case (a, b) => (a, b, 1L + (a * b) % 5L) }
  private val directedSeeds = Set(2L, 4L, 6L)

  private val directedVariants: Seq[(String, Graph.EdgeTier => Map[Long, Long], Map[Long, Long])] = Seq(
    ("uniform", t => rankUnits(Graph.pageRank(directed.toDF("src", "dst"), matrixIters, t)),
      replayJoin(directedW, weighted = false, None, matrixIters)),
    ("weighted", t => rankUnits(Graph.weightedPageRank(directedW.toDF("src", "dst", "c"),
      matrixIters, t)), replayJoin(directedW, weighted = true, None, matrixIters)),
    ("seeded", t => rankUnits(Graph.personalizedPageRank(directed.toDF("src", "dst"),
      directedSeeds.toSeq.toDF("pk"), matrixIters, t)),
      replayJoin(directedW, weighted = false, Some(directedSeeds), matrixIters)))

  for ((tierName, tier) <- tiers; (variant, run, want) <- directedVariants)
    test(s"$variant PageRank over a directed graph in the $tierName tier matches the oracle-semantics replay") {
      assert(run(tier) == want)
    }

  // NULL endpoints beside a real vertex 0: a NULL dst must not land on
  // 0, and a NULL src must not count as a vertex; every tier drops both
  // edges, so each variant answers as over the edges without them
  private val nullEnds: Seq[(Option[Long], Option[Long])] =
    (mixed ++ Seq((0L, 1L), (1L, 0L))).map { case (a, b) => (Some(a), Some(b)) } ++
      Seq((Some(2L), None), (None, Some(1L)))
  private val nullEndsW: Seq[(Option[Long], Option[Long], Long)] =
    nullEnds.map { case (a, b) => (a, b, 1L + (a.getOrElse(3L) * b.getOrElse(4L)) % 5L) }
  private val realEnds: Seq[(Long, Long)] =
    nullEnds.collect { case (Some(a), Some(b)) => (a, b) }
  private val realEndsW: Seq[(Long, Long, Long)] =
    nullEndsW.collect { case (Some(a), Some(b), c) => (a, b, c) }
  private val nullSeeds = Set(0L, 5L)

  for ((tierName, tier) <- tiers.filterNot(_._1 == "rescan"))
    test(s"every PageRank variant in the $tierName tier drops edges with a NULL endpoint") {
      assert(rankUnits(Graph.pageRank(nullEnds.toDF("src", "dst"), matrixIters, tier)) ==
        replay(realEnds, matrixIters))
      assert(rankUnits(Graph.weightedPageRank(nullEndsW.toDF("src", "dst", "c"),
        matrixIters, tier)) == replayW(realEndsW, matrixIters))
      assert(rankUnits(Graph.personalizedPageRank(nullEnds.toDF("src", "dst"),
        nullSeeds.toSeq.toDF("pk"), matrixIters, tier)) ==
        replayP(realEnds, nullSeeds, matrixIters))
    }

  test("an edge strength one past the int64-safe bound fails with one message at every tier") {
    val e = (mixedW :+ ((1L, 2L, Graph.MaxSafeEdgeStrength + 1))).toDF("src", "dst", "c")
    // the held tier twice: the warm call checks the held blocks' maxC
    val heldTwice = Seq("held", "held warm").map(_ -> held("overflow"))
    val messages = (tiers ++ heldTwice).map { case (tierName, tier) =>
      tierName -> intercept[IllegalArgumentException] {
        Graph.weightedPageRank(e, matrixIters, tier).collect()
      }.getMessage
    }
    assert(messages.map(_._2).distinct.size == 1, messages)
    assert(heldIn(corpus).contains("attach:overflow/weighted"), "the warm call ran held")
    assert(messages.head._2.contains(s"max edge strength ${Graph.MaxSafeEdgeStrength + 1} "),
      messages.head._2)
  }

  test("the attach tier matches the replays at 1, 7 and 200 shuffle partitions") {
    val conf = spark.conf
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      // at 200 most dst partitions, and so most edge blocks, are empty
      for (parts <- Seq(1, 7, 200)) {
        conf.set("spark.sql.shuffle.partitions", parts.toLong)
        // keep every dst partition of the tiny attached frame
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", false)
        for ((variant, run, want) <- variants ++ directedVariants)
          assert(run(attach) == want, s"$variant at $parts partitions")
      }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("a memory-backed tier past a forced ceiling falls through to the SQL tiers") {
    val forced = attach.copy(vertexCeiling = 0L)
    for ((variant, run, want) <- variants ++ directedVariants)
      assert(run(forced) == want, variant)
  }

  /** The stage count of each job started by `call`, counted up to a
    * marker job: the listener bus delivers events in order, so every
    * earlier job is counted once the marker's start arrives. */
  private def stagesOf(call: => Unit): Seq[Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == "marker"))
          marked.countDown()
        else started.add(j.stageInfos.size)
    }
    sc.addSparkListener(listener)
    try {
      call
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1)).count() finally sc.setJobDescription(null)
      assert(marked.await(60, java.util.concurrent.TimeUnit.SECONDS))
      started.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("attach-tier pageRank runs one Spark job per round") {
    val df = mixed.toDF("src", "dst")
    def jobs(rounds: Int): Int = stagesOf(Graph.pageRank(df, rounds, attach).collect()).size
    assert(jobs(6) - jobs(3) == 3)
  }

  test("a held warm attach-tier call runs only its round jobs, one stage each") {
    val rounds = 4
    // the personalized call's per-call seed-set collect: the distinct's
    // shuffle-map stage and its result stage
    val seedCollectJobs = 2
    // a warm call must not evaluate its edges
    def unbuilt: org.apache.spark.sql.DataFrame = sys.error("a warm call built its edges")
    val calls: Seq[(String, (Int, => org.apache.spark.sql.DataFrame) => Unit)] = Seq(
      "uniform" -> ((k, e) => Graph.pageRank(e, k, held("mixed")).collect()),
      "weighted" -> ((k, e) => Graph.weightedPageRank(e, k, held("mixed")).collect()),
      "seeded" -> ((k, e) => Graph.personalizedPageRank(e, mixedSeeds.toSeq.toDF("pk"), k,
        held("mixed")).collect()))
    for ((variant, call) <- calls) {
      call(1, if (variant == "weighted") mixedW.toDF("src", "dst", "c")
        else mixed.toDF("src", "dst"))
      val stages = stagesOf(call(rounds, unbuilt))
      // the collected readout is a local frame: collecting it starts no job
      val want = if (variant == "seeded") rounds + seedCollectJobs else rounds
      assert(stages.size == want, s"$variant: ${stages.size} jobs for $rounds rounds")
      if (variant != "seeded") assert(stages.forall(_ == 1), s"$variant: stages per job $stages")
    }
  }

  test("an unheld attach-tier call leaves the block manager as it found it") {
    val sc = spark.sparkContext
    def stored(): Map[Int, Long] =
      sc.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
    // what earlier tests left may be cleaned meanwhile: nothing is added
    def added(before: (Map[Int, Long], collection.Set[Int])): Map[Int, Long] =
      stored().filter { case (id, _) => !before._1.contains(id) } ++
        (sc.getPersistentRDDs.keySet -- before._2).map(_ -> -1L)
    for ((variant, run, want) <- variants) {
      val before = (stored(), sc.getPersistentRDDs.keySet)
      assert(run(attach) == want, variant)
      assert(added(before).isEmpty, variant)
    }
  }

  test("the attach build's broadcasts are destroyed once its blocks exist") {
    // the build's degree join, as attachEdges plans it; what the
    // ContextCleaner would free only after some later GC
    val e = mixed.toDF("src", "dst")
    val qe = e.join(broadcast(e.groupBy("src").count()), "src")
      .repartition(col("dst")).queryExecution
    qe.toRdd.count()
    val built = new AdaptiveSparkPlanHelper {}.collect(qe.executedPlan) {
      case b: BroadcastExchangeLike => b.relationFuture.get()
    }
    assert(built.nonEmpty, qe.executedPlan)
    Graph.releaseBroadcasts(qe)
    built.foreach(b => intercept[org.apache.spark.SparkException](b.value))
  }

  test("two edge sets held over one corpus dir each return their own replay") {
    for (_ <- 1 to 2) { // cold, then warm
      assert(rankUnits(Graph.pageRank(mixed.toDF("src", "dst"), matrixIters,
        held("two-mixed"))) == replay(mixed, matrixIters))
      assert(rankUnits(Graph.pageRank(directed.toDF("src", "dst"), matrixIters,
        held("two-directed"))) == replayJoin(directedW, weighted = false, None, matrixIters))
    }
    val ids = heldIn(corpus)
    val both = Seq("attach:two-mixed/uniform", "attach:two-directed/uniform").map(ids)
    assert(both.distinct.size == 2 && both.forall(spark.sparkContext.getPersistentRDDs.contains),
      ids)
    // past a forced ceiling a held entry is released and the SQL tiers answer
    assert(rankUnits(Graph.pageRank(mixed.toDF("src", "dst"), matrixIters,
      held("two-mixed").copy(vertexCeiling = 0L))) == replay(mixed, matrixIters))
    assert(!heldIn(corpus).contains("attach:two-mixed/uniform"))
    assert(!spark.sparkContext.getPersistentRDDs.contains(both.head))
  }

  test("q148 and q184 share one held entry") {
    val d = Files.createTempDirectory("graft-rank-shop").toString
    val sc = spark.sparkContext
    try {
      // one order per undirected edge of `mixed`, so the co-purchase
      // graph is `mixed`; the smallest brand's parts are q184's seeds
      mixed.filter { case (a, b) => a < b }.zipWithIndex
        .flatMap { case ((a, b), o) => Seq((o.toLong, a), (o.toLong, b)) }
        .toDF("l_orderkey", "l_partkey").write.parquet(s"$d/lineitem.parquet")
      (1L to 7L).map(p => (p, if (mixedSeeds(p)) "Brand#1" else "Brand#2"))
        .toDF("p_partkey", "p_brand").write.parquet(s"$d/part.parquet")
      assert(rankUnits(SparkEntry.queries("q148_pagerank")(spark, d)) ==
        replay(mixed, Graph.Iterations))
      val after148 = (heldIn(d), sc.getPersistentRDDs.keySet)
      assert(after148._1.keySet == Set("attach:copurchase/uniform"), after148._1)
      SparkEntry.queries("q184_personalized_pagerank")(spark, d).collect()
      assert((heldIn(d), sc.getPersistentRDDs.keySet) == after148)
    } finally {
      CorpusArtifacts.release(d, heldIn(d).keys.toSeq: _*)
      InferOps.deleteDir(d)
    }
  }

  test("the eviction hook fires once the rounds stop reading the source, never in the rescan tier") {
    def fired(tier: Graph.EdgeTier): Boolean = {
      var evicted = false
      Graph.pageRank(mixed.toDF("src", "dst"), 1, tier.copy(evict = () => evicted = true))
        .collect()
      evicted
    }
    assert(fired(Graph.EdgeTier(level = StorageLevel.MEMORY_AND_DISK)))
    assert(fired(Graph.EdgeTier(chunked = true, vertexCeiling = 0L)))
    assert(!fired(Graph.EdgeTier(chunked = true)))
  }
}
