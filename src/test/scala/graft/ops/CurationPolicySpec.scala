package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Substring dedup (q90/q91), semantic dedup (q92), sequence packing
  * (q93), and keep-best cluster representatives (q94): synthetic
  * shapes with hand-computable answers, plus structural invariants
  * on the provisioned testdata.
  */
class CurationPolicySpec extends AnyFunSuite with SparkSuite {

  private val d = "/root/testdata/sf0.01"
  import spark.implicits._

  // ----- q90/q91: exact cross-doc substring coverage -----

  test("substrCoverage marks exactly the tokens inside a shared k-gram") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c q"),
      (3L, "a b")
    ).toDF("doc_id", "text")
    val cov = Dedup.substrCoverage(docs, k = 3)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos")) ->
        (r.getAs[String]("tok"), r.getAs[Int]("covered")))
      .toMap
    // only "a b c" occurs in two docs; it covers A:{1,2,3} and B:{3,4,5}
    // (filter + keySet, NOT collect-to-tuple: Map.collect over tuple
    // results rebuilds a Map and silently dedups by first element)
    val covered = cov.filter(_._2._2 == 1).keySet
    assert(covered == Set((1L, 1), (1L, 2), (1L, 3), (2L, 3), (2L, 4), (2L, 5)))
    // a doc shorter than k contributes no grams, so nothing is covered
    assert(cov.keySet.count(_._1 == 3L) == 2)
  }

  test("substring removal keeps exactly the uncovered tokens, in order") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c q")
    ).toDF("doc_id", "text")
    val cleaned = Dedup.substrRemove(docs, k = 3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(cleaned == Map(1L -> "d e f", 2L -> "x y q"))
  }

  test("substring removal streams a 100k-token document without an aggregation-buffer array") {
    // a book-length doc: 100k distinct tokens with the duplicated
    // 8-gram planted mid-document; the sorted-group reconstruction
    // must stream it (the old collect_list shape materialized all
    // 100k (pos, tok) structs in one aggregation buffer)
    val shared = (1 to 8).map(i => s"dup$i")
    val n = 100000
    val big = ((1 to 50000).map(i => s"w$i") ++ shared ++
      (50001 to (n - 8)).map(i => s"w$i")).mkString(" ")
    val docs = Seq((1L, big), (2L, shared.mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.substrRemove(docs, k = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val (nTok, kept, cleaned) = out(1L)
    assert(nTok == n.toLong)
    assert(kept == n - 8L, "exactly the shared 8-gram is removed")
    val expected = ((1 to 50000).map(i => s"w$i") ++
      (50001 to (n - 8)).map(i => s"w$i")).mkString(" ")
    assert(cleaned == expected)
    assert(out(2L) == ((8L, 0L, "")), "the whole short doc is duplicated away")
  }

  test("q90 stats are internally consistent on testdata") {
    val rows = Dedup.q90SubstrStats(spark, d).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (n, starts, covered) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_dup_starts"), r.getAs[Long]("covered_tokens"))
      assert(covered <= n)
      // every dup start covers its own position, and distinct starts
      // cover at least one distinct position each only when disjoint —
      // the safe invariant is: coverage is at least one position per
      // start run, i.e. covered >= min(1, starts), and zero iff zero
      assert((starts == 0) == (covered == 0))
    }
    // the planted near-duplicate docs guarantee a non-degenerate gate
    assert(rows.count(_.getAs[Long]("covered_tokens") > 0) > 0)
  }

  // ----- q92: SemDeDup keep-first -----

  test("q92 drops only vectors with an earlier same-label near-dup keeper") {
    val rows = Dedup.q92SemanticDedup(spark, d).collect()
    assert(rows.length == 500)
    val dropped = rows.filter(_.getAs[Int]("dropped") == 1)
    assert(dropped.nonEmpty, "expected planted near-dup embeddings")
    dropped.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("keeper_id")))
      assert(r.getAs[Long]("keeper_id") < r.getAs[Long]("vec_id"))
    }
    // keepers must themselves be rows of the output (every vector is
    // reported exactly once)
    val ids = rows.map(_.getAs[Long]("vec_id")).toSet
    assert(dropped.forall(r => ids.contains(r.getAs[Long]("keeper_id"))))
    rows.filter(_.getAs[Int]("dropped") == 0)
      .foreach(r => assert(r.isNullAt(r.fieldIndex("keeper_id"))))
  }

  test("semDedupByCell runs the identical policy over the durable IVF cell layout") {
    val small = "/root/testdata/sf0.001"
    val layout = java.nio.file.Files.createTempDirectory("ivf_semdedup").toString
    Similarity.ivfIndex(spark, small).write(Tables.embeddings(spark, small), layout)
    val out = Dedup.semDedupByCell(spark, layout, 0.45).collect()
    // independent in-memory replay of the policy within each persisted
    // cell: drop iff an earlier same-cell vector has round(cos, 6) ≥ τ
    val vecs = spark.read.parquet(layout).select("vec_id", "cell", "v").collect()
      .map(r => (r.getLong(0), r.getAs[Number]("cell").intValue(),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map(p => p._1 * p._2).sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = vecs.map { case (id, cell, v) =>
      val keepers = vecs.filter { case (id2, cell2, v2) =>
        cell2 == cell && id2 < id &&
          BigDecimal(cos(v2, v)).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.45
      }.map(_._1)
      id -> (if (keepers.isEmpty) None else Some(keepers.min))
    }.toMap
    assert(out.length == vecs.length)
    out.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      expected(id) match {
        case Some(k) =>
          assert(r.getAs[Int]("dropped") == 1 && r.getAs[Long]("keeper_id") == k,
            s"vec $id: expected drop with keeper $k")
        case None =>
          assert(r.getAs[Int]("dropped") == 0 && r.isNullAt(r.fieldIndex("keeper_id")),
            s"vec $id: expected keep")
      }
    }
    assert(out.exists(_.getAs[Int]("dropped") == 1),
      "fixture should contain at least one same-cell near-dup")
  }

  // ----- q93: greedy sequence packing -----

  test("packGreedy opens a new bin on overflow and isolates oversized docs") {
    val docs = Seq(
      // source s1, cap 10: [4,5] -> bin0 (9), [3] overflows -> bin1,
      // [25] oversized -> bin2 alone, [2] -> bin3
      (1L, "s1", 4L), (2L, "s1", 5L), (3L, "s1", 3L), (4L, "s1", 25L), (5L, "s1", 2L),
      // source s2 independent: restarts at bin 0
      (6L, "s2", 10L), (7L, "s2", 1L)
    ).toDF("doc_id", "source", "n_tokens")
    val out = Curation.packGreedy(docs, cap = 10L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("bin"), r.getAs[Long]("bin_fill"))).toMap
    assert(out == Map(
      1L -> (0L, 4L), 2L -> (0L, 9L), 3L -> (1L, 3L), 4L -> (2L, 25L), 5L -> (3L, 2L),
      6L -> (0L, 10L), 7L -> (1L, 1L)))
  }

  test("q93 packing matches an independent per-source replay of the fold") {
    val rows = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), TextAnalysis.tokenCount(col("text")).as("nt"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected: Map[Long, (Long, Long)] =
      rows.groupBy(_._2).iterator.flatMap { case (_, ds) =>
        var bin = 0L; var fill = 0L
        ds.sortBy(_._1).map { case (id, _, nt) =>
          if (fill > 0L && fill + nt > Curation.PackCap) { bin += 1; fill = nt }
          else fill += nt
          id -> ((bin, fill))
        }
      }.toMap
    val got = Curation.q93SeqPacking(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("bin"), r.getAs[Long]("bin_fill"))).toMap
    assert(got == expected)
  }

  // ----- q94: keep-best-quality representatives -----

  test("clusterKeepBest picks the highest-quality member, not the min id") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, "en", base),
      // near-dup of doc 1 (trigram jaccard ~18/21) with three extra
      // stopwords -> strictly higher quality score than doc 1
      (2L, "en", base + " the of and"),
      (9L, "en", "totally unrelated text with no shared trigrams at all here")
    ).toDF("doc_id", "lang", "text")
    val out = Curation.clusterKeepBest(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Long]("rep_id"), r.getAs[Int]("is_rep"))).toMap
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L, "docs 1,2 must cluster together")
    assert(out(1L)._2 == 2L && out(2L)._2 == 2L, "higher-quality doc 2 must be the rep")
    assert(out(1L)._3 == 0 && out(2L)._3 == 1)
    assert(out(9L) == ((9L, 9L, 1)), "singleton is its own rep")
  }

  test("q94 agrees with q76 clustering and elects one rep per cluster") {
    val q94 = Curation.q94ClusterKeepBest(spark, d).collect()
    assert(q94.length == 500)
    val byCluster = q94.groupBy(_.getAs[Long]("cluster"))
    byCluster.foreach { case (c, rs) =>
      assert(rs.count(_.getAs[Int]("is_rep") == 1) == 1)
      val rep = rs.find(_.getAs[Int]("is_rep") == 1).get
      assert(rs.forall(_.getAs[Long]("rep_id") == rep.getAs[Long]("doc_id")))
      val best = rs.map(r => (r.getAs[Long]("quality_score"), -r.getAs[Long]("doc_id"))).max
      assert((rep.getAs[Long]("quality_score"), -rep.getAs[Long]("doc_id")) == best,
        s"cluster $c rep is not argmax(quality, -doc_id)")
    }
    // q76's multi-doc clusters appear identically here
    val q76 = Curation.q76DedupClusters(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    q76.foreach { case (id, c) =>
      assert(q94.find(_.getAs[Long]("doc_id") == id).get.getAs[Long]("cluster") == c)
    }
  }

  // ----- q95: leakage-safe split -----

  test("q95 never splits a near-dup pair across train and holdout") {
    val rows = Curation.q95LeakageSafeSplit(spark, d).collect()
    assert(rows.length == 500)
    // every cluster is entirely on one side of the split
    rows.groupBy(_.getAs[Long]("cluster")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[String]("split")).toSet.size == 1)
    }
    // in particular every exact-Jaccard near-dup PAIR shares its split
    val split = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val pairs = Dedup.q23NgramJaccard(spark, d)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(split(a) == split(b), s"pair ($a,$b) straddles") }
    // and both sides are populated (the 90/10 LCG bucketing is live)
    assert(split.values.toSet == Set("train", "holdout"))
  }

  // ----- q96: incremental fuzzy dedup -----

  test("q96 batch-vs-index finds exactly q22's cross-boundary pairs") {
    // same bands, same hashes, no saturated buckets at this SF ⇒ the
    // incremental probe must equal the full-corpus result restricted
    // to (corpus < 400 ≤ batch) pairs
    val full = Dedup.q22MinHashLsh(spark, d).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .filter { case (a, b) => a < 400 && b >= 400 }
      .toSet
    val inc = Dedup.q96IncrementalMinhash(spark, d).collect()
      .map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("batch_id")))
      .toSet
    assert(full.nonEmpty, "expected planted near-dups across the boundary")
    assert(inc == full, s"incremental=${inc.toSeq.sorted} full=${full.toSeq.sorted}")
  }

  // ----- CorpusPipeline integration of the policy stages -----

  test("pipeline stages reproduce their query twins on the corpus") {
    val docs = Tables.documents(spark, d)

    // removeDuplicatedSubstrings ≡ q91 cleaned text
    val viaPipeline = CorpusPipeline(docs).removeDuplicatedSubstrings().result
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaQuery = Dedup.q91SubstrRemove(spark, d)
      .select(col("doc_id"), col("cleaned_text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaPipeline == viaQuery)

    // keepBestPerCluster ≡ q94's representatives
    val kept = CorpusPipeline(docs).keepBestPerCluster().result
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val reps = Curation.q94ClusterKeepBest(spark, d)
      .filter(col("is_rep") === 1).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == reps && kept.size < 500)

    // assignSplit ≡ q95's split per doc
    val splitPipe = CorpusPipeline(docs).assignSplit().result
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val splitQuery = Curation.q95LeakageSafeSplit(spark, d)
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(splitPipe == splitQuery)

    // packSequences ≡ q93's bins
    val binsPipe = CorpusPipeline(docs).packSequences().result
      .select(col("doc_id"), col("bin"), col("bin_fill")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val binsQuery = Curation.q93SeqPacking(spark, d)
      .select(col("doc_id"), col("bin"), col("bin_fill")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(binsPipe == binsQuery)

    // assignShards ≡ q100's shard/pos per doc
    val shardPipe = CorpusPipeline(docs).assignShards(8).result
      .select(col("doc_id"), col("shard"), col("pos")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val shardQuery = Curation.q100ShardAssign(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(shardPipe == shardQuery)
  }

  // ----- q100: deterministic shard assignment -----

  test("shardAssign partitions the corpus into dense, reproducible shards") {
    val docs = Tables.documents(spark, d)
    val n = docs.count()
    val rows = Curation.shardAssign(docs, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every document lands exactly once
    assert(rows.length == n && rows.map(_._1).distinct.length == n)
    // positions are dense 1..|shard| within every shard
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      assert(0 <= shard && shard < 8)
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length))
    }
    // deterministic: a re-run (fresh plan, different partitioning)
    // produces the identical assignment
    val again = Curation.shardAssign(docs.repartition(7), 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sorted.toSeq == again.sorted.toSeq)
    // and the order within a shard is not just doc_id order (the LCG
    // permutes) — a sorted-input artifact would defeat the shuffle
    val firstShard = rows.filter(_._2 == rows.head._2).sortBy(_._3).map(_._1)
    assert(firstShard != firstShard.sorted)
  }
}
