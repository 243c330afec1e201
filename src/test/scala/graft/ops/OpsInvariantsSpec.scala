package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-operator invariants: the approximate paths must find what
  * the exact paths find (recall on the planted near-duplicates), and
  * derived metadata must match its defining formula. */
class OpsInvariantsSpec extends AnyFunSuite with SparkSuite {

  private val d = "/root/testdata/sf0.01"

  test("banded MinHash (q22) recalls every exact-Jaccard near-dup pair (q23)") {
    val exact = Dedup.q23NgramJaccard(spark, d)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Dedup.q22MinHashLsh(spark, d)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "expected planted near-dups in testdata")
    val missed = exact -- approx
    assert(missed.isEmpty, s"LSH missed exact pairs: $missed")
  }

  test("capExactPairs: identity below the cap, deterministic seeded subsample above it") {
    import spark.implicits._
    val pairs = (1L to 500L).map(i => (i, i + 1000L, 0.9)).toDF("doc_a", "doc_b", "jaccard")
    // below the cap the frame passes through untouched — every row
    val below = RecallGates.capExactPairs(pairs, cap = 1000L)
      .collect().map(_.getLong(0)).toSet
    assert(below.size == 500)
    // above the cap: a strict, reproducible subsample near the budget
    val once = RecallGates.capExactPairs(pairs, cap = 100L)
      .collect().map(_.getLong(0)).toSet
    val again = RecallGates.capExactPairs(pairs, cap = 100L)
      .collect().map(_.getLong(0)).toSet
    assert(once == again, "subsample must be deterministic")
    assert(once.nonEmpty && once.size < 500, s"expected a strict subsample, got ${once.size}")
    assert(once.size <= 200, s"subsample far over budget: ${once.size} for cap 100")
  }

  test("SimHash (q24) surfaces the near-exact pairs (jaccard ≥ 0.9)") {
    // SimHash approximates term-set cosine, not Jaccard: pairs near
    // the 0.6 Jaccard threshold can legitimately exceed the Hamming
    // cut; the planted near-exact duplicates must not
    val exact = Dedup.q23NgramJaccard(spark, d)
      .filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.q24SimHash(spark, d)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && (exact -- sim).isEmpty)
  }

  test("LSH (q27), IVF (q37) and PQ (q89) kNN overlap the brute-force top-5 (q26)") {
    def top(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getAs[Long]("qid"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nid")).toSet }
    val brute = top(Similarity.q26KnnBrute(spark, d))
    val lsh = top(Similarity.q27KnnLsh(spark, d))
    val ivf = top(Similarity.q37KnnIvf(spark, d))
    val pq = top(Similarity.q89KnnPq(spark, d))
    // approximate methods must return full result sets with sane recall
    assert(lsh.keySet == brute.keySet && ivf.keySet == brute.keySet
      && pq.keySet == brute.keySet)
    // NB: map over a Seq of keys — mapping the key *Set* to counts
    // would deduplicate equal counts before summing
    def recall(m: Map[Long, Set[Long]]) =
      brute.keys.toSeq.map(q => (m(q) & brute(q)).size).sum / (brute.size * 5.0)
    // floors match the q61 gate; measured 0.96 LSH / 0.70 IVF here
    // (sf0.01) with the seeded k-means codebook — deterministic for
    // fixed data + seeds
    assert(recall(lsh) >= 0.7, s"LSH recall@5 ${recall(lsh)}")
    assert(recall(ivf) >= 0.6, s"IVF recall@5 ${recall(ivf)}")
    assert(recall(pq) >= 0.6, s"PQ recall@5 ${recall(pq)}")
  }

  test("hot-bucket guard: all-identical corpus yields linear candidates, not a clique") {
    import spark.implicits._
    val n = 300
    val docs = (0 until n).map(i =>
      (i.toLong, "en", "the same exact boilerplate text repeated over and over again"))
      .toDF("doc_id", "lang", "text")
    val cand = Dedup.minhashCandidates(docs).collect()
    // every bucket is one degenerate hot bucket → star pairing around
    // doc 0: exactly n-1 candidate pairs instead of n(n-1)/2 ≈ 45k
    assert(cand.length == n - 1, s"expected ${n - 1} star pairs, got ${cand.length}")
    assert(cand.forall(r => r.getLong(0) == 0L), "star pivot must be the min doc_id")
    // and keep-smallest dedup still removes every duplicate
    val verified = Dedup.jaccardVerify(docs, Dedup.minhashCandidates(docs), 0.6)
    assert(verified.count() == n - 1)
  }

  test("near-identical >cap cluster stays output-proportional and fully dedups") {
    import spark.implicits._
    // 300 NEAR-duplicates (cluster size > HotBucketCap = 256, but
    // each doc perturbs one token so band buckets shatter into
    // sub-cap groups) plus unrelated background docs. Every cluster
    // pair is a genuine ≥0.6 near-dup, so the candidate count must be
    // output-proportional — bounded by the true all-pairs count, with
    // no band-amplification blow-up beyond it — and keep-smallest
    // dedup must drop every non-minimal member. (The star trade on a
    // bucket that actually exceeds the cap is pinned by the
    // all-identical-corpus test above, where no shattering occurs.)
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val cluster = (0 until 300).map(i => (i.toLong, "en", s"$base extra$i"))
    val others = (0 until 20).map(i =>
      (1000L + i, "en", (1 to 30).map(j => s"uniq${i}w$j").mkString(" ")))
    val docs = (cluster ++ others).toDF("doc_id", "lang", "text")
    val nCand = Dedup.minhashCandidates(docs).count()
    val allPairs = 300L * 299 / 2
    assert(nCand <= allPairs, s"candidates amplified past all-pairs: $nCand > $allPairs")
    val surviving = CorpusPipeline(docs).dedupFuzzyJaccard(threshold = 0.6)
      .result.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surviving == (others.map(_._1).toSet + 0L),
      s"cluster members leaked through dedup: ${surviving - 0L -- others.map(_._1).toSet}")
    spark.catalog.clearCache()
  }

  test("fuzzy dedup shares ONE cached shingle frame across its legs") {
    // the candidate leg, both verify-join legs, and the size
    // aggregate must all read the persisted shingle frame — the
    // annotated/filtered upstream evaluates once, not per leg: the
    // optimized plan shows ≥3 InMemoryRelation readers (banded path)
    // and ≥2 (exact path), each replacing a full upstream re-scan
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    for ((exact, minUses) <- Seq((false, 3), (true, 2))) {
      val res = CorpusPipeline(docs)
        .dedupFuzzyJaccard(threshold = 0.6, exact = exact).result
      val plan = res.queryExecution.optimizedPlan.toString
      val uses = "InMemoryRelation".r.findAllIn(plan).size
      assert(uses >= minUses,
        s"exact=$exact: expected >= $minUses cache readers, got $uses")
      spark.catalog.clearCache()
    }
  }

  test("pipeline run() materializes the result and releases the scoped shingle cache") {
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val p = CorpusPipeline(docs).dedupFuzzyJaccard(threshold = 0.6)
    val out = p.run()
    assert(out.count() > 0)
    // the scoped persist must not outlive the pipeline: nothing left
    // in the cache manager once run() returns
    assert(spark.sharedState.cacheManager.isEmpty,
      "scoped shingle cache survived run()")
  }

  test("pipeline writeResult lands the corpus durably and releases the scoped cache") {
    spark.catalog.clearCache()
    val work = java.nio.file.Files.createTempDirectory("graftpipeout").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val p = CorpusPipeline(docs).dedupFuzzyJaccard(threshold = 0.6)
    // count the lazy result BEFORE writeResult: afterwards the scoped
    // cache is gone and the count would re-run the whole pipeline
    val expected = p.result.count()
    val out = p.writeResult(s"$work/corpus")
    assert(out.count() == expected)
    assert(spark.sharedState.cacheManager.isEmpty,
      "scoped shingle cache survived writeResult()")
    // the returned frame reads the LAYOUT, not the pipeline lineage:
    // its input files are the written path and its plan carries none
    // of the pipeline's join/window machinery
    assert(out.inputFiles.nonEmpty && out.inputFiles.forall(_.contains(work)))
    assert(!out.queryExecution.optimizedPlan.toString.contains("Join"))
  }

  test("pipeline banded fuzzy dedup matches the exact variant on this corpus") {
    val docs = Tables.documents(spark, d)
    def surviving(exact: Boolean): Set[Long] =
      CorpusPipeline(docs)
        .annotateQuality()
        .filterLangs(Set("en", "de", "fr"))
        .filterQuality(min = 15)
        .dedupExact()
        .dedupFuzzyJaccard(threshold = 0.6, exact = exact)
        .result.select("doc_id").collect().map(_.getLong(0)).toSet
    val banded = surviving(exact = false)
    val exactSet = surviving(exact = true)
    assert(banded == exactSet,
      s"banded-candidate path diverged: only-banded=${banded -- exactSet} only-exact=${exactSet -- banded}")
  }

  test("IVF kNN degrades gracefully on corpora with 0 or 1 centroid vectors") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graftivf").toString
    def write(ids: Seq[Long]): Unit =
      ids.map(i => (i, Array.fill(4)(0.5f + i * 0.01f), 0))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
    // no vec_id < 10 → no query vectors → empty result, no crash
    // (the k-means codebook fits fine on 3 vectors)
    write(Seq(100L, 101L, 102L))
    assert(Similarity.q37KnnIvf(spark, work).count() == 0)
    // exactly one centroid → single-cell assignment still ranks the
    // corpus for the lone query (vec_id 5): both others are neighbors
    write(Seq(5L, 100L, 101L))
    val rows = Similarity.q37KnnIvf(spark, work).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(2))).toSet ==
      Set((5L, 100L), (5L, 101L)))
  }

  test("compaction rewrites a shattered layout into the computed file count, row-for-row") {
    import scala.jdk.CollectionConverters._
    val work = java.nio.file.Files.createTempDirectory("graftcompact")
    val frag = s"$work/frag"
    val out = s"$work/out"
    val src = Tables.documents(spark, "/root/testdata/sf0.001")
    src.repartition(64).write.parquet(frag)
    def parquetFiles(dir: String): Seq[java.nio.file.Path] =
      scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get(dir)))(
        _.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq)
    assert(parquetFiles(frag).size == 64)
    val parts = InferOps.compact(spark, frag, out, targetBytes = 1L << 20)
    assert(parquetFiles(out).size == parts && parts < 64)
    assert(spark.read.parquet(out).count() == src.count())
  }

  test("multimodal metadata comes from a REAL decode of real PNG/BMP bytes") {
    val rows = Multimodal.q31MultimodalMeta(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // format sniffed from magic bytes must match what was encoded
      assert(r.getAs[String]("fmt") == Multimodal.fixtureFormat(id))
      // dimensions from the decoded raster, sums from decoded pixels
      val w = Multimodal.ImagePixels.width(id)
      val h = Multimodal.ImagePixels.height(id)
      assert(r.getAs[Long]("width") == w && r.getAs[Long]("height") == h)
      assert(r.getAs[Long]("channels") == 3L)
      var sr = 0L
      for (y <- 0 until h; x <- 0 until w)
        sr += Multimodal.ImagePixels.r(id, x, y)
      assert(r.getAs[Long]("sum_r") == sr,
        s"decoded red-channel sum diverged for doc $id")
    }
  }

  /** Components of undirected (doc_a, doc_b) pairs, as q76, q94 and
    * q180 compute them. */
  private def cc(pairs: org.apache.spark.sql.DataFrame,
      maxRounds: Int = Curation.ClusterRounds) =
    Graph.connectedComponents(Graph.undirected(pairs, "doc_a", "doc_b"),
      Curation.ClusterTier, maxRounds)

  test("connected components: chains collapse to min label, components stay disjoint") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3 → needs multiple propagation rounds),
    // triangle 10-11-12, isolated edge 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val labels = cc(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // the round bound cuts propagation early but must still return a
    // labeling over every node (partial convergence, not a crash)
    val partial = cc(edges, maxRounds = 1)
    assert(partial.count() == 9)
    // an empty edge set yields an empty labeling, not an NPE from the
    // NULL sum in the convergence check
    val none = cc(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(none.count() == 0)
    // q76's real near-dup edge set yields a non-empty labeling
    val real = cc(Dedup.jaccardPairs(
      Tables.documents(spark, "/root/testdata/sf0.001"), 0.6)
      .select(col("doc_a"), col("doc_b")))
    assert(real.count() > 0)
  }

  test("connected components: path diameter at maxIter converges; beyond it stays bounded") {
    import spark.implicits._
    // a path 0-1-…-19 has diameter 19 — the adversarial shape for
    // 1-hop min-label flow (label 0 moves one hop per round); the
    // default bound of 20 rounds is exactly enough: 19 propagation
    // rounds + the unchanged-sum round that detects convergence
    val path = (0L until 19L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = cc(path)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 20 && labels.forall(_._2 == 0L))
    // a diameter BEYOND the bound terminates with a complete-but-
    // partially-converged labeling instead of spinning — a regime
    // near-dup edge sets never reach
    val long = (0L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val partial = cc(long, maxRounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(partial.length == 31)
    assert(partial.exists(_._2 != 0L), "5 rounds cannot fully converge diameter 30")
  }

  test("incremental dedup admits only fingerprints unseen in the corpus index") {
    import spark.implicits._
    val corpusIdx = Seq("already ingested").toDF("text")
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
    val batch = Seq(
      (100L, "already ingested"),   // dup vs corpus → rejected
      (101L, "fresh   doc"),        // normalizes same as 102 → one keeper
      (102L, "fresh doc"),
      (103L, "another doc")).toDF("doc_id", "text")
    val admitted = Dedup.incrementalDedup(batch, corpusIdx)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(admitted == Map(101L -> 2L, 103L -> 1L))
  }

  test("inference query returns one row per lineitem column with settled types") {
    val rows = InferOps.q32SchemaInfer(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 11)
    val types = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(types("l_quantity") == "float")
    assert(types("l_shipdate") == "date") // midnight-datetime quirk
    assert(types("l_returnflag") == "text")
  }
}
