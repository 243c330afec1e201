package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Oracle-gated recall bounds for the approximate operators whose raw
 * outputs are engine-specific (rows-only checked): q22 banded
 * MinHash, q24 SimHash, q27 LSH kNN, q37 IVF kNN, q89 PQ kNN
 * (floor ≥0.6 top-5 overlap, same as IVF).
 *
 * Their hashing can't be reproduced in ANSI SQL, but their QUALITY
 * can be gated: each component row states whether the approximate
 * result clears a fixed recall floor against the exact baseline
 * computed in the same engine run. The oracle is the all-true VALUES
 * list — if recall ever regresses below a floor, the Spark side emits
 * `false` and the driver's hash compare goes red. Floors match the
 * OpsInvariantsSpec assertions (ANN: ≥0.7 LSH / ≥0.6 IVF top-5
 * overlap — measured 0.88–0.96 LSH and 0.70–0.74 IVF at sf0.01/0.1
 * with the seeded k-means codebook; MinHash: ≤1% of NEAR-EXACT
 * (jaccard ≥ 0.9) pairs missed — the 5×4 banding's promise is the
 * S-curve, not zero-miss: per-pair miss probability at j=0.9 is
 * (1−0.9⁴)⁵ ≈ 0.5% (monotone decreasing in j), so 1% is the
 * operator's own bound on the ≥0.9 band; at j=0.6 the same banding
 * misses ~50% per pair by design, so no sub-0.9 floor is stated —
 * it would measure the corpus's similarity distribution, not the
 * banding. Misses were 0 through the 50× octave and 3 of 7,900
 * ≥0.6 pairs (0.04%) at 100×; floor(1%·N)=0 keeps the gate at
 * zero-miss on any corpus under ~100 hi pairs;
 * SimHash: zero misses inside the banding's structural
 * Hamming ≤ 6 guarantee plus ≤5% of ≥0.9 pairs missed overall —
 * measured 0 on the provisioned corpora, 2.6% at a derived 10×).
 *
 * All comparisons are lazy joins over tiny result sets (tens of
 * rows) — the dominant cost is the underlying operators themselves.
 */
object RecallGates {

  /** Tags of the gate's per-corpus artifacts (Verify releases them
   *  after the query). They are memoized ([[CorpusArtifacts]]) so the
   *  gate audits the approximate operators against once-materialized
   *  baselines instead of re-running the scans it exists to make
   *  unnecessary; the sketches under audit re-run live every time.
   *  - `brute`: the exact ANN baseline (q26's ~50 (qid, nid) pairs,
   *    queries×k of driver footprint);
   *  - `exact_pairs`: the exact-Jaccard pair baseline (q23's output
   *    above the gate threshold, capped by [[capExactPairs]]);
   *  - `shingles`: the checkpointed shingle frame, INPUT PREP shared
   *    by every dedup leg, so a warm gate run doesn't re-materialize
   *    millions of shingle rows it already holds. */
  private[graft] val Artifacts = Seq("brute", "exact_pairs", "shingles")

  private def shingleFrame(s: SparkSession, d: String): DataFrame =
    CorpusArtifacts.memo(s, "shingles", d, "documents")(
      Dedup.shingleRows(Tables.documents(s, d)).localCheckpoint(true))

  /** Pair budget for the exact dedup baseline's driver collect. The
   *  ANN brute baseline needs no cap — it is structurally ≤
   *  queries×k (50) rows. The exact-Jaccard pair set, though, grows
   *  with near-dup density: 7,900 pairs at the 100× octave is fine,
   *  but at 1000× the collected baseline itself becomes the
   *  quadratic the gate exists to audit around. Above the cap the
   *  baseline is deterministically subsampled (seeded pair-hash
   *  filter, independent of every sketch seed, so the measured miss
   *  rate stays an unbiased estimate of the population rate) BEFORE
   *  collecting; below it, the frame passes through untouched. */
  private[ops] val ExactPairCap = 100000L

  /** Deterministic pre-collect subsample of an exact pair baseline —
   *  identity when the pair count is within `cap`. Seeded (61) hash
   *  of the PAIR IDs: reproducible across runs, uncorrelated with
   *  the minhash/simhash seeds whose recall it measures. */
  private[ops] def capExactPairs(pairs: DataFrame,
      cap: Long = ExactPairCap): DataFrame = {
    // materialize the pair frame ONCE before counting: the count and
    // the subsequent filter+collect would otherwise each evaluate the
    // exact-Jaccard pair join — paying the quadratic baseline twice
    // at exactly the large-octave scale the cap exists to bound
    val p = pairs.localCheckpoint(true)
    val n = p.count()
    if (n <= cap) p
    else p.filter(
      pmod(xxhash64(col("doc_a"), col("doc_b"), lit(61L)), lit(1000L))
        < lit(math.max(1L, cap * 1000L / n)))
  }

  def q61ApproxRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Cold-run baseline builds overlap (round 16, guide §2.6): the ANN
    // brute baseline (embeddings) and the shingle+exact-Jaccard
    // baseline (documents) touch disjoint tables and were the two
    // serialized eager blocks of the gate's run-1 cost (the memoized
    // warm path returns from cache instantly either way). Same
    // computations, same collected artifacts — only WHEN they run
    // changes; Bench's queries_run1 map now discloses the residual
    // cold cost per query.
    val (bruteSeq, exactSeq) = Par.run2(
      () => CorpusArtifacts.memo(s, "brute", d, "embeddings")(
        Similarity.q26KnnBrute(s, d).select(col("qid"), col("nid"))
          .as[(Long, Long)].collect().toIndexedSeq),
      () => CorpusArtifacts.memo(s, "exact_pairs", d, "documents")(
        capExactPairs(Dedup.jaccardPairsFromShingles(shingleFrame(s, d), 0.6)
            .select(col("doc_a"), col("doc_b"), col("jaccard")))
          .as[(Long, Long, Double)].collect().toIndexedSeq))
    val brute = bruteSeq.toDF("qid", "nid")
    val lsh = Similarity.q27KnnLsh(s, d)
      .select(col("qid"), col("nid"), lit(1).as("l"))
    val ivf = Similarity.q37KnnIvf(s, d)
      .select(col("qid"), col("nid"), lit(1).as("i"))
    val pq = Similarity.q89KnnPq(s, d)
      .select(col("qid"), col("nid"), lit(1).as("p"))
    val annRows = brute
      .join(lsh, Seq("qid", "nid"), "left")
      .join(ivf, Seq("qid", "nid"), "left")
      .join(pq, Seq("qid", "nid"), "left")
      .agg(count(lit(1)).as("tot"),
        count(col("l")).as("lhits"), count(col("i")).as("ihits"),
        count(col("p")).as("phits"))
      .select(explode(array(
        struct(lit("ivf_knn").as("component"),
          (col("tot") > 0 && col("ihits") >= col("tot") * 0.6).as("ok")),
        struct(lit("lsh_knn").as("component"),
          (col("tot") > 0 && col("lhits") >= col("tot") * 0.7).as("ok")),
        struct(lit("pq_knn").as("component"),
          (col("tot") > 0 && col("phits") >= col("tot") * 0.6).as("ok")))).as("r"))
      .select(col("r.component"), col("r.ok"))

    // ≥99% of exact near-dup pairs (above the stated threshold) must
    // appear among the approximate pairs — deterministic with the
    // fixed data + hash seeds; a >HotBucketCap degenerate cluster
    // would legitimately trade tail pairs for boundedness (Dedup
    // .bandedPairs), which this corpus doesn't contain.
    // ONE materialized shingle pass feeds the exact baseline (first
    // evaluation only — memoized above) and both live sketch legs.
    // localCheckpoint (not persist) keeps the frame out of the
    // cache manager and the legs LAZY — the dedup and ANN stages of
    // the final union overlap inside one job instead of serializing
    // into a collect-then-evaluate sequence. The checkpointed blocks
    // are PINNED while the documents keep their content key (or until
    // Verify releases [[Artifacts]]) — deliberate: the gate re-runs
    // per suite, and re-materializing millions of shingle rows per run
    // dwarfed the block footprint.
    val shingles = shingleFrame(s, d) // built by the overlapped leg above
    val exact = exactSeq.toDF("doc_a", "doc_b", "jaccard")
    val mh = Dedup.minhashEstPairs(shingles)
      .select(col("doc_a"), col("doc_b"), lit(1).as("m"))
    // ONE signature frame serves both the banded pair generation and
    // the per-pair Hamming audit below; the three occurrences share
    // one computation through ReusedExchange (identical aggregate
    // subtrees over the checkpointed shingles), so no separate
    // materialization job is needed
    val sigs = Dedup.simhashSignatures(shingles)
    val sh = Dedup.simhashPairsFromSigs(sigs)
      .select(col("doc_a"), col("doc_b"), lit(1).as("h"))
    // the simhash floor states what the operator PROMISES, not what
    // one corpus happened to deliver (a 10× scale run exposed the
    // difference): ZERO misses inside the pair-block banding's
    // structural guarantee (Hamming ≤ 6), and ≤5% of all ≥0.9 pairs
    // missed overall — covering the probabilistic 7..12 window and
    // the rare ≥0.9 pair whose Hamming exceeds the operator's own
    // ≤12 acceptance (a simhash model error no banding can reach).
    // On the provisioned corpora the measured miss rate is 0.
    val dedupRows = exact
      .join(mh, Seq("doc_a", "doc_b"), "left")
      .join(sh, Seq("doc_a", "doc_b"), "left")
      .join(sigs.select(col("doc_id").as("doc_a"), col("simhash").as("ha")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("simhash").as("hb")), Seq("doc_b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .agg(
        count(when(col("jaccard") >= 0.9 && col("m").isNull, 1)).as("mh_hi_missed"),
        // SimHash approximates term-set cosine, not Jaccard: only the
        // near-exact (≥0.9) pairs are held to the recall floor
        count(when(col("jaccard") >= 0.9, 1)).as("hi_tot"),
        count(when(col("jaccard") >= 0.9 && col("h").isNull
          && col("hamming") <= 6, 1)).as("sh_guar_missed"),
        count(when(col("jaccard") >= 0.9 && col("h").isNull, 1)).as("sh_missed"))
      .select(explode(array(
        struct(lit("minhash_lsh").as("component"),
          // the ≤1% floor is scoped to jaccard ≥ 0.9 pairs (hi_tot,
          // the simhash treatment): ONLY there is 1% the 5×4
          // banding's own S-curve bound (per-pair miss (1−j⁴)⁵ ≤
          // 0.53% at j=0.9, monotone ↓). At j=0.6 the same banding
          // misses ~50% per pair BY DESIGN — a sub-0.9 floor would
          // gate the corpus's pair-similarity distribution, not the
          // operator. floor(1% of N)=0 below 100 pairs, so small
          // corpora still demand zero hi misses (100× measured
          // 3/7,900 over ALL ≥0.6 pairs = 0.04%)
          (col("hi_tot") > 0 && col("mh_hi_missed") <= col("hi_tot") * 0.01).as("ok")),
        struct(lit("simhash").as("component"),
          (col("hi_tot") > 0 && col("sh_guar_missed") === 0
            && col("sh_missed") <= col("hi_tot") * 0.05).as("ok")))).as("r"))
      .select(col("r.component"), col("r.ok"))

    annRows.union(dedupRows).orderBy(col("component"))
  }

  val q61Sql: String =
    """SELECT * FROM (VALUES
      | ('ivf_knn', true), ('lsh_knn', true),
      | ('minhash_lsh', true), ('pq_knn', true), ('simhash', true)
      |) t(component, ok) ORDER BY component""".stripMargin

  /** Error-bounded gates for the sketch aggregates — the 100 TB
   *  percentile/distinct path is the sketch, so the sketch gets a
   *  quantified correctness bound against the exact computation, not
   *  just a smoke test: HLL distinct within 5% relative error,
   *  approx_percentile (rank-error sketch) within 1% value error at
   *  p50/p90/p99. Both sketches are deterministic for fixed input. */
  def q65SketchError(s: SparkSession, d: String): DataFrame = {
    // deterministic ~2% slice: the EXACT side of the comparison (full
    // percentile buffers every value; countDistinct shuffles every
    // key) is what a sketch exists to avoid — bounding the gate's
    // population keeps the error check meaningful at a fixed cost
    // instead of scaling the exact computation with the corpus
    val stats = Tables.lineitem(s, d).filter(col("l_quantity") === 1).agg(
      expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99))").as("ap"),
      expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").as("ep"),
      // rsd 0.02 against a 5% gate: the bound sits at 2.5 standard
      // deviations of the sketch instead of 1 (the default rsd 0.05
      // legitimately exceeded 5% on the sf0.001 key population)
      approx_count_distinct(col("l_orderkey"), 0.02).as("acd"),
      // exact side via collect_set, NOT countDistinct: a distinct
      // aggregate mixed with the percentile buffers forces an Expand
      // plan that replays every buffer per replicate (measured 6.5s
      // vs 0.5s on the same slice); the set is bounded by the slice
      size(collect_set(col("l_orderkey"))).cast("long").as("cd"))
    stats.select(explode(array(
      struct(lit("hll_distinct").as("component"),
        (abs(col("acd") - col("cd")) <= col("cd") * 0.05).as("ok")),
      struct(lit("pctl_sketch").as("component"),
        aggregate(
          zip_with(col("ap"), col("ep"), (a, e) => abs(a - e) <= abs(e) * 0.01),
          lit(true), (acc, x) => acc && x).as("ok")))).as("r"))
      .select(col("r.component"), col("r.ok"))
      .orderBy(col("component"))
  }

  val q65Sql: String =
    """SELECT * FROM (VALUES
      | ('hll_distinct', true), ('pctl_sketch', true)
      |) t(component, ok) ORDER BY component""".stripMargin
}
