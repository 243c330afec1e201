package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Deduplication operators over `documents` — exact, fingerprint,
 * exact n-gram Jaccard, MinHash+LSH banding, and SimHash.
 *
 * Scale design (100 TB):
 *  - exact dedup is a single hash aggregate on the dedup key (min-id
 *    keeper) — map-side partials make it shuffle-light;
 *  - exact Jaccard joins on shingles, which is skew-prone at scale;
 *    it is therefore restricted by a cheap blocking key (lang) and
 *    exists as the *verifier* for the candidate pairs that the
 *    banded-MinHash path (q22) generates — banding is the scale
 *    path: candidates only collide on whole-band agreement;
 *  - SimHash reduces each doc to 64 bits; banded prefix join finds
 *    Hamming-near pairs without an all-pairs product.
 */
object Dedup {
  import Tables._

  /** Exploded (doc_id, lang, shingle) rows via a typed flatMap — a
   *  column-expression formulation re-evaluates the regex split
   *  inside every element_at after Catalyst inlines the projection
   *  (3 splits per shingle); tokenizing once per document in JVM
   *  code is ~5× cheaper and stays fully distributed. Expects
   *  (doc_id, lang, text) columns. */
  def shingleRows(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .flatMap { case (id, lang, text0) =>
        // user-facing entry point (CorpusPipeline): tolerate NULL text
        // rather than NPE-ing an executor task. A NULL lang stays NULL
        // (not ""): the blocked joins downstream use lang as an equi
        // key, and SQL NULL never equi-matches — mapping it to ""
        // would conflate null-lang docs with genuine empty-string-lang
        // docs and diverge from the q23/q40 oracles on such rows.
        val text = Option(text0).getOrElse("")
        val toks = text.trim.split("\\s+")
        if (toks.length < 3) Iterator.empty
        else toks.sliding(3).map(_.mkString(" ")).toSet[String]
          .iterator.map(sh => (id, lang, sh))
      }
      .toDF("doc_id", "lang", "s")
  }

  private def shingleRows(s: SparkSession, d: String): DataFrame =
    shingleRows(documents(s, d))

  /** Exact lang-blocked Jaccard pairs ≥ threshold over 3-gram
   *  shingles: (doc_a, doc_b, co, jaccard). Shared by q23, q40 and
   *  CorpusPipeline.dedupFuzzyJaccard(exact = true). All-pairs over
   *  shared shingles — the ORACLE-faithful formulation; skew-prone as
   *  a primary path at scale (a viral shingle makes one join key
   *  huge), which is why the banded-MinHash candidate generator below
   *  is the pipeline default. */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    jaccardPairsFromShingles(shingleRows(docs), threshold)

  /** jaccardPairs over a pre-built (possibly persisted) shingle
   *  frame — lets a caller share ONE shingle computation across the
   *  self-join legs and the size aggregate (CorpusPipeline does). */
  def jaccardPairsFromShingles(sh: DataFrame, threshold: Double): DataFrame = {
    val (co, sizes) = coOccurrence(sh)
    jaccardFromCo(co, sizes, threshold)
  }

  /** Shared lang-blocked co-occurrence core: per-doc shingle sizes and
   *  ordered-pair shared-shingle counts — the join both Jaccard (q23)
   *  and containment (q83) score from. */
  private def coOccurrence(sh: DataFrame): (DataFrame, DataFrame) = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val co = sh.as("a")
      .join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("co"))
    (co, sizes)
  }

  private def jaccardFromCo(co: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame =
    co.join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      // RAW division, no round(…, 6): both engines divide the same
      // exact integers, so the doubles are bit-identical — while a
      // rational that is a true half at the 7th decimal (e.g. k/640)
      // makes Spark's BigDecimal-HALF_UP and DuckDB's multiply-round
      // disagree on the SAME input double (seen on q79 at 10×)
      .withColumn("jaccard", col("co") * lit(1.0) / (col("sa.n") + col("sb.n") - col("co")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("co"), col("jaccard"))

  /** Exact Jaccard computed ONLY for the given candidate (doc_a,
   *  doc_b) pairs — the verification leg behind a banded candidate
   *  generator. Work is proportional to candidate count × shingles
   *  per doc, never all-pairs; lang blocking matches jaccardPairs so
   *  the two paths agree wherever both emit a pair. */
  def jaccardVerify(docs: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame =
    jaccardVerifyFromShingles(shingleRows(docs), candidates, threshold)

  /** jaccardVerify over a pre-built (possibly persisted) shingle
   *  frame — candidate generation and verification can then share a
   *  single shingling pass. */
  def jaccardVerifyFromShingles(sh: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val co = candidates
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"),
        col("doc_b") === col("b.doc_id") && col("a.s") === col("b.s") &&
          col("a.lang") === col("b.lang"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("co"))
    jaccardFromCo(co, sizes, threshold)
  }

  /** Candidate pairs from a banded (doc_id, band, key) layout with a
   *  hot-bucket guard: buckets of ≤ `cap` rows pair as a full clique;
   *  a degenerate bucket (boilerplate-heavy corpora, all-identical
   *  docs) pairs as a STAR around its min doc_id — O(n) pairs instead
   *  of O(n²). The star is a deliberate recall trade in the capped
   *  case: keep-smallest dedup still drops every member similar to
   *  the bucket minimum (the dominant case in a hot bucket, where
   *  members collide on identical band keys), but a pair (y, x) whose
   *  similarity exceeds the threshold only via a non-min y is not
   *  emitted — bounded work over exhaustive recall, logged here
   *  rather than hidden. Below the cap nothing changes. The window
   *  runs on the same (band, key) shuffle the join needs anyway.
   *
   *  Cap sizing: per-bucket clique work is ≤ cap², and for a bucket
   *  filled with GENUINE near-dups the clique output is real result
   *  rows — the cost is output-proportional, so a generous cap is
   *  cheap where it matters. The q61 gate at the 100× octave caught
   *  the old cap of 64 star-pairing through ±3%-perturbed clone
   *  families of ~100 docs that share band keys without clearing the
   *  pair threshold (families of 50 at the 50× octave still fit — a
   *  cliff exactly at the cap): true same-copy pairs inside those
   *  buckets were dropped. 256 clears duplication multiplicities
   *  through the 200× octave; the residual star beyond the cap is
   *  the permanent boundedness contract (an adversarial million-doc
   *  identical-text bucket stays O(n)), with the wasted sub-threshold
   *  clique work bounded by bands·cap² per family and discarded by
   *  the est_jaccard filter downstream. */
  private[ops] def bandedPairs(banded: DataFrame, cap: Int = HotBucketCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"), col("key"))
    val sized = banded
      .withColumn("bn", count(lit(1)).over(w))
      .withColumn("bmin", min(col("doc_id")).over(w))
    val cold = sized.filter(col("bn") <= cap)
      .select(col("doc_id"), col("band"), col("key"))
    val cliques = cold.as("a")
      .join(cold.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val stars = sized.filter(col("bn") > cap && col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("doc_a"), col("doc_id").as("doc_b"))
    cliques.union(stars).distinct()
  }

  private val HotBucketCap = 256

  /** Exact dedup: keeper = min doc_id per identical text. */
  def q20DedupExact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))
      .select(col("keeper"), col("n_dups"))
      .orderBy(col("keeper"))

  val q20Sql: String =
    """SELECT min(doc_id) AS keeper, count(*) AS n_dups
      |FROM documents GROUP BY text ORDER BY keeper""".stripMargin

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.6), blocked by
   *  lang. co/sizes are exact integers, so the similarity is
   *  engine-independent. */
  def q23NgramJaccard(s: SparkSession, d: String): DataFrame =
    jaccardPairs(documents(s, d), 0.6).orderBy(col("doc_a"), col("doc_b"))

  val q23Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, string_split_regex(regexp_replace(text, '^[ \t\n\v\f\r]+|[ \t\n\v\f\r]+$', '', 'g'), '[ \t\n\v\f\r]+') AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |co AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS co
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, co, co*1.0/(x.n + y.n - co) AS jaccard
      |FROM co JOIN sizes x ON x.doc_id = doc_a JOIN sizes y ON y.doc_id = doc_b
      |WHERE co*1.0/(x.n + y.n - co) >= 0.6
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Apply dedup end-to-end: drop every doc that appears as the
   *  higher id of a near-dup pair (greedy keep-smallest — for a
   *  chain a<b<c every non-minimal member pairs with a smaller doc,
   *  so exactly the cluster minimum survives), then aggregate the
   *  surviving corpus. The anti-join is the scalable "materialize
   *  the deduped corpus" step after candidate generation. */
  def q40DedupApply(s: SparkSession, d: String): DataFrame = {
    val dupIds = q23NgramJaccard(s, d).select(col("doc_b")).distinct()
    documents(s, d)
      .join(dupIds, col("doc_id") === col("doc_b"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  val q40Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, string_split_regex(regexp_replace(text, '^[ \t\n\v\f\r]+|[ \t\n\v\f\r]+$', '', 'g'), '[ \t\n\v\f\r]+') AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |co AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS co
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |dups AS (
      |  SELECT DISTINCT doc_b FROM co
      |  JOIN sizes x ON x.doc_id = doc_a JOIN sizes y ON y.doc_id = doc_b
      |  WHERE co*1.0/(x.n + y.n - co) >= 0.6)
      |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id NOT IN (SELECT doc_b FROM dups)
      |GROUP BY lang ORDER BY lang""".stripMargin

  private val MinHashK = 20 // signature length
  private val Bands = 5     // → 4 rows per band (AND within, OR across)

  /** MinHash + LSH banding: k=20 xxhash64-minhashes per doc, banded
   *  5×4; candidate pairs collide on a whole band (AND-composition
   *  keeps buckets tiny — Spark ML's approxSimilarityJoin joins on
   *  single hash values, which explodes on same-domain corpora).
   *  Estimated Jaccard = fraction of agreeing minhashes, filtered at
   *  ≥ 0.5. One shuffle for signatures + one small candidate join:
   *  the linear-ish 100 TB path for fuzzy dedup. Engine-specific
   *  hashing → rows-only check. */
  def q22MinHashLsh(s: SparkSession, d: String): DataFrame =
    minhashEstPairs(shingleRows(s, d))

  /** q22's body over a pre-built (possibly persisted) shingle frame —
   *  RecallGates shares one shingling pass across q22/q23/q24. */
  def minhashEstPairs(sh: DataFrame): DataFrame = {
    val sig = minhashSignatures(sh)
    val cand = bandedPairs(mkBanded(sig))
    minhashVerify(cand, "doc_a", sig, "doc_b", sig)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Signature-agreement verification shared by the full-corpus
    * (q22) and incremental (q96) paths: est_jaccard = agreeing
    * minhash coordinates / K, round 6, kept at ≥ 0.5. ONE definition
    * so the two paths cannot drift — CurationPolicySpec pins their
    * equivalence, and a threshold change must hit both at once. */
  private def minhashVerify(cand: DataFrame, aId: String, sigA: DataFrame,
      bId: String, sigB: DataFrame): DataFrame = {
    val agree = (0 until MinHashK)
      .map(i => when(col(s"sa.m$i") === col(s"sb.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sigA.as("sa"), col(aId) === col("sa.doc_id"))
      .join(sigB.as("sb"), col(bId) === col("sb.doc_id"))
      .withColumn("est_jaccard", round(agree / lit(MinHashK.toDouble), 6))
      .filter(col("est_jaccard") >= 0.5)
      .select(col(aId), col(bId), col("est_jaccard"))
  }

  /** All k minhashes in ONE hash aggregate over exploded shingles. */
  private def minhashSignatures(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(
        min(xxhash64(lit(0), col("s"))).as("m0"),
        (1 until MinHashK).map(i => min(xxhash64(lit(i), col("s"))).as(s"m$i")): _*)

  /** Signature rows → exploded (doc_id, band, key) with whole-band
   *  keys (AND within a band, OR across bands). */
  private def mkBanded(sig: DataFrame, bands: Int = Bands): DataFrame = {
    val bandKeys = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * MinHashK / bands until (b + 1) * MinHashK / bands)
          .map(i => col(s"m$i")): _*).as("key"))
    }
    sig.select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
  }

  /** Banded-MinHash candidate (doc_a, doc_b) pairs for an arbitrary
   *  (doc_id, lang, text) corpus — the scale-path candidate source
   *  CorpusPipeline feeds into jaccardVerify.
   *
   *  Banding is FINER than q22's (10 bands × 2 rows vs 5 × 4): every
   *  4-row band collision implies both 2-row sub-band collisions, so
   *  below the hot-bucket cap the candidate set is a strict superset
   *  of q22's, and the miss probability for a true Jaccard-0.6 pair
   *  drops from ≈50% to ≈1.2% (1-(1-0.6²)¹⁰). Exact verification
   *  prunes the extra false positives. Caveat: finer bands fill
   *  buckets faster, so on boilerplate-heavy corpora the cap's star
   *  pairing can engage earlier than q22's — the cap trades tail
   *  recall for bounded work in BOTH paths, it is not superset-
   *  preserving once it engages. */
  def minhashCandidates(docs: DataFrame): DataFrame =
    minhashCandidatesFromShingles(shingleRows(docs))

  /** minhashCandidates over a pre-built (possibly persisted) shingle
   *  frame. */
  def minhashCandidatesFromShingles(sh: DataFrame): DataFrame =
    bandedPairs(mkBanded(minhashSignatures(sh), bands = 10))

  /** Corpus size past which q24 moves from pair-block (C(8,2)=28
   *  tables, 16-bit keys) to triple-block banding (C(8,3)=56 tables,
   *  24-bit keys). The pair-block design's 65,536 buckets/table hold
   *  ~76 docs each at 5M docs — every bucket is then dominated by
   *  16-bit HASH collisions, and the capped star-pairing still emits
   *  ~140M mostly-false candidates whose verification join was the
   *  1000× scratch death (63 GiB insufficient, found by the round-12
   *  ladder sweep — the q53 class of data-dependent-precondition bug,
   *  this time in a BANDING parameter). 24-bit keys defer bucket
   *  saturation 256×; the octaves ≤100× keep the 28-table plan
   *  unchanged. */
  private[ops] val SimhashTripleBlockDocs = 1000000L

  /** SimHash: 64-bit signature over shingle xxhash64s; near-pairs =
   *  some shared block-combination table key ∧ Hamming distance ≤ 12
   *  (see [[simhashPairsFromSigs]] for the Manku banding). Banding
   *  turns the all-pairs comparison into selective equi-joins; the
   *  blocks-per-key choice is sized to the corpus (see
   *  [[SimhashTripleBlockDocs]] — a banding parameter is a
   *  data-dependent precondition like any sketch capacity).
   *
   *  Disclosure: past the triple-block threshold the STRUCTURAL
   *  recall guarantee narrows from Hamming ≤ 6 (pair tables) to
   *  Hamming ≤ 5 (triple tables) while the emitted predicate stays
   *  Hamming ≤ 12 — so the logical pair set can differ across the
   *  corpus-size threshold: 6-bit-distant pairs are guaranteed below
   *  it and only probabilistically banded above it. That is the
   *  documented price of deferring bucket saturation 256×; a caller
   *  needing the ≤ 6 guarantee at >10⁶ docs must widen the lattice
   *  (more blocks), not lower the threshold.
   *  Spark-hash-specific → rows-only check. */
  def q24SimHash(s: SparkSession, d: String): DataFrame = {
    // one metadata-cheap count job per corpus key, not per invocation
    val n = CorpusArtifacts.memo(s, "doc_count", d, "documents")(documents(s, d).count())
    simhashPairsFromSigs(simhashSignatures(shingleRows(s, d)),
      blocksPerKey = if (n > SimhashTripleBlockDocs) 3 else 2)
  }

  /** 64-bit SimHash signatures over a shingle frame — one explode +
   *  ONE hash aggregate computes all 64 sign-sums in a single pass.
   *  Features are the same 3-gram shingles the Jaccard verifier uses
   *  (unigram token sets are near-identical across a small-vocab
   *  corpus, which washes out the signature). Exposed so recall
   *  diagnostics can measure Hamming distances of reference pairs. */
  def simhashSignatures(sh0: DataFrame): DataFrame = {
    val tok = sh0
      .select(col("doc_id"), col("s").as("t"))
      .withColumn("h", xxhash64(col("t")))
    val bitSums = (0 until 64).map(i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1)).as(s"b$i"))
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("simhash"))
  }

  /** q24's body over a pre-built (possibly persisted) shingle frame.
   *
   *  Candidate generation is multi-block banding (the permute-and-
   *  split scheme of Manku et al., WWW'07 "Detecting Near-Duplicates
   *  for Web Crawling"): the 64-bit fingerprint splits into 8 8-bit
   *  blocks and every PAIR of blocks forms a table key — C(8,2)=28
   *  tables with 16-bit keys. Pigeonhole: Hamming ≤ 6 leaves ≥2
   *  blocks clean, so some pair-table key matches — a STRUCTURAL
   *  recall guarantee; Hamming 7..12 pairs collide with high
   *  probability (≥2 clean blocks unless the errors spread across
   *  ≥7 of the 8 blocks).
   *
   *  Why not single blocks (the earlier 8×8 design): 8-bit keys give
   *  only 256 buckets per band, so past ~16k docs (256 × the hot-
   *  bucket cap) EVERY bucket saturates and the cap's star-pairing
   *  destroys within-bucket recall — a 10× scale-up run tripped the
   *  q61 gate with Hamming-1 pairs missed. 16-bit keys defer
   *  saturation by 256× (~16.7M docs/table at the current hot-bucket
   *  cap of 256 — 65,536 buckets × cap); at corpora past
   *  that, pass `blocksPerKey = 3` to [[simhashPairsFromSigs]]
   *  (C(8,3)=56 tables, 24-bit keys, guarantee Hamming ≤ 5). */
  def simhashPairs(sh0: DataFrame): DataFrame =
    simhashPairsFromSigs(simhashSignatures(sh0))

  /** [[simhashPairs]] over a pre-built (possibly checkpointed)
   *  signature frame — callers that also need the signatures (e.g.
   *  the q61 Hamming-aware recall gate) share ONE signature pass. */
  /** `blocksPerKey` picks the saturation/guarantee trade on the
   *  Manku combination lattice: keys are every `blocksPerKey`-subset
   *  of the 8 fingerprint blocks, giving C(8,k) tables of 8k-bit
   *  keys and a structural collision guarantee for Hamming ≤ 8−k
   *  (≤ 8−k errors leave ≥ k blocks clean → that subset's table
   *  collides). k=2 (default): 28 tables, 16-bit keys, guarantee ≤6 —
   *  right up to ~16.7M docs/table at the hot-bucket cap (65,536
   *  buckets × cap 256). k=3: 56 tables, 24-bit keys, guarantee ≤5,
   *  saturation deferred another 256× — the >16.7M-docs-per-table
   *  setting. k=1 is rejected: 8-bit
   *  keys are the documented production recall cliff above. */
  def simhashPairsFromSigs(sigs: DataFrame, blocksPerKey: Int = 2): DataFrame = {
    require(blocksPerKey >= 2 && blocksPerKey <= 4,
      s"blocksPerKey must be in [2,4], got $blocksPerKey")
    val block = (b: Int) => shiftright(col("simhash"), b * 8).bitwiseAND(lit(0xFFL))
    val tables = (0 until 8).combinations(blocksPerKey).toSeq.zipWithIndex
    val banded = sigs.select(col("doc_id"),
      explode(array(tables.map { case (blks, t) =>
        struct(lit(t).as("band"),
          blks.map(block).reduce((acc, b) =>
            shiftleft(acc, 8).bitwiseOR(b)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
    bandedPairs(banded)
      .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sa.simhash").bitwiseXOR(col("sb.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 12)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Embedding near-dup: same-label blocking, exact cosine ≥ 0.45.
   *  At scale the label is any cheap partition key (cluster id from
   *  IVF, LSH bucket, …): the quadratic blow-up stays within blocks. */
  def q25EmbeddingNearDup(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = embeddings(s, d).select(col("vec_id"), col("label"), col("embedding"))
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim",
        round(graft.functions.GraftFunctions.cosine_sim(col("a.embedding"), col("b.embedding")), 6))
      .filter(col("sim") >= 0.45)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"), col("sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val q25Sql: String =
    """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
      | round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      |   / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
      |      * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS sim
      |FROM embeddings a JOIN embeddings b
      |  ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      |   / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
      |      * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) >= 0.45
      |ORDER BY vec_a, vec_b""".stripMargin

  /** q83: asymmetric n-gram CONTAINMENT — cont(A→B) = |A∩B| / |A|
   *  over 3-gram shingle sets. Jaccard misses the quote/boilerplate
   *  relationship (a short doc wholly quoted inside a long one has
   *  tiny Jaccard but containment ≈ 1), and training-data curation
   *  needs exactly that signal to drop embedded duplicates. Same
   *  lang-blocked co-occurrence join as q23 (shareable shingle pass,
   *  banded candidates apply unchanged at scale); emits ordered pairs
   *  where EITHER direction clears the threshold, with both
   *  directional scores. */
  def q83Containment(s: SparkSession, d: String): DataFrame = {
    val (co, sizes) = coOccurrence(shingleRows(s, d))
    co.join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("cont_a", col("co") * lit(1.0) / col("sa.n"))
      .withColumn("cont_b", col("co") * lit(1.0) / col("sb.n"))
      .filter(col("cont_a") >= 0.8 || col("cont_b") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("co"), col("cont_a"), col("cont_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q83Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, string_split_regex(regexp_replace(text, '^[ \t\n\v\f\r]+|[ \t\n\v\f\r]+$', '', 'g'), '[ \t\n\v\f\r]+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g
      |  WHERE len(t) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |co AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS co
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, co,
      | co * 1.0 / sa.n AS cont_a,
      | co * 1.0 / sb.n AS cont_b
      |FROM co JOIN sizes sa ON co.doc_a = sa.doc_id
      |        JOIN sizes sb ON co.doc_b = sb.doc_id
      |WHERE co * 1.0 / sa.n >= 0.8 OR co * 1.0 / sb.n >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Incremental (batch-vs-index) exact dedup — the 100 TB ingestion
   *  shape: a continuously-growing corpus must dedup each NEW batch
   *  without rescanning the corpus text. The corpus is represented by
   *  its fingerprint INDEX (a narrow fp column — persisted bucketed
   *  by fp via [[writeFpIndex]], so the anti-join needs no shuffle on
   *  the index side; q80 recomputes it inline for the oracle's sake);
   *  a new batch is (1) deduped within itself keeping the min doc_id
   *  per fp, then (2) anti-joined against the index. Both steps
   *  shuffle only batch-sized data on fp; the corpus side of the
   *  anti-join reads one narrow column.
   *
   *  Returns admitted rows: (doc_id, fp, n_batch_dups). */
  def incrementalDedup(batch: DataFrame, corpusIndex: DataFrame): DataFrame = {
    val withinBatch = batch
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_batch_dups"))
    withinBatch.join(corpusIndex.select(col("fp")), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"), col("n_batch_dups"))
  }

  /** Build the corpus fingerprint index ONCE as a durable table
    * BUCKETED by fp — the pre-paid shuffle that makes continuous
    * ingestion affordable: every subsequent batch anti-joins against
    * the bucketed reader with ZERO exchange on the index side (its
    * bucketing IS its partitioning — BucketingSpec pins the plan), so
    * per-batch cost is O(batch), never O(corpus). One narrow-column
    * corpus scan + one shuffle, paid once. */
  def writeFpIndex(corpus: DataFrame, table: String, buckets: Int = 8): Unit =
    corpus
      .select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
      .write.mode("overwrite").bucketBy(buckets, "fp").sortBy("fp")
      .format("parquet").saveAsTable(table)

  /** q80: documents with doc_id < 400 play the already-ingested
   *  corpus, the rest arrive as the new batch. Oracle: the same
   *  split, keep-min, and NOT EXISTS in SQL. */
  def q80IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val corpusIndex = docs.filter(col("doc_id") < 400)
      .select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
    val batch = docs.filter(col("doc_id") >= 400).select(col("doc_id"), col("text"))
    incrementalDedup(batch, corpusIndex).orderBy(col("doc_id"))
  }

  val q80Sql: String =
    """WITH fp AS (
      |  SELECT doc_id,
      |   md5(regexp_replace(trim(lower(text)), '[ \t\n\v\f\r]+', ' ', 'g')) AS fp
      |  FROM documents),
      |batch AS (
      |  SELECT fp, min(doc_id) AS doc_id, count(*) AS n_batch_dups
      |  FROM fp WHERE doc_id >= 400 GROUP BY fp)
      |SELECT b.doc_id, b.fp, b.n_batch_dups
      |FROM batch b
      |WHERE NOT EXISTS (SELECT 1 FROM fp c WHERE c.doc_id < 400 AND c.fp = b.fp)
      |ORDER BY b.doc_id""".stripMargin

  // ----- incremental FUZZY (banded-MinHash) dedup ------------------

  /** The corpus LSH index ([[DurableIndex]]) as durable bucketed
   *  tables — the fuzzy twin of [[writeFpIndex]], completing the
   *  continuous-ingestion story: exact dedup anti-joins a fingerprint
   *  index (q80); NEAR-dup detection probes a banded-MinHash index.
   *  Two tables: `<base>_bands` (doc_id, bkey) bucketed by the single
   *  fused band key (band id hashed INTO the key so the probe is a
   *  one-column equi-join that rides the bucketing), and
   *  `<base>_sigs` (doc_id, m0..m19) bucketed by doc_id for the
   *  verification join. Both derive from ONE signature frame — the
   *  shingling flatMap and the 20-way minhash aggregate, the most
   *  expensive computation of a build — which the write persists once
   *  per build or micro-batch while the two table writes overlap.
   *  Band keys and signatures are PER-DOCUMENT artifacts, so appends
   *  (Spark validates the bucket spec, one file per touched bucket)
   *  union to one whole-corpus build and compaction ≡ a rebuild from
   *  the surviving corpus, row for row — the q166/q179 gates. Both
   *  shuffles are paid once; per-batch cost is O(batch). */
  val LshIndex: DurableIndex = DurableIndex("doc_id", Seq(
      DurableIndex.Part("_bands", DurableIndex.Buckets(8, "bkey", sorted = true), bandKeys),
      DurableIndex.Part("_sigs", DurableIndex.Buckets(8, "doc_id", sorted = false))),
    b => minhashSignatures(shingleRows(b)))

  /** (doc_id, bkey) band rows of a signature frame: one fused key per
   *  (band, band hash). */
  private def bandKeys(sig: DataFrame): DataFrame =
    mkBanded(sig).select(col("doc_id"), xxhash64(col("band"), col("key")).as("bkey"))

  /** Batch-vs-index fuzzy dedup: the batch's band keys probe the
   *  index band table (equi-join on the fused key — shuffles only
   *  batch-sized data when the index is bucketed), candidates are
   *  verified by signature agreement (est. Jaccard ≥ 0.5, q22's
   *  threshold). Hot-bucket caveat: the full-corpus path (q22) caps
   *  saturated buckets via star pairing; the probe join has no cap,
   *  so a batch key hitting a boilerplate-saturated index bucket
   *  fans out to every index doc in it — bounded by per-key index
   *  frequency, which the cap bounds at INDEX BUILD time if needed.
   *  Returns (batch_id, corpus_id, est_jaccard). */
  def minhashBatchVsIndex(batchSh: DataFrame, idxBands: DataFrame,
      idxSigs: DataFrame): DataFrame =
    minhashBatchVsIndexSig(minhashSignatures(batchSh), idxBands, idxSigs)

  /** [[minhashBatchVsIndex]] over PRECOMPUTED batch signatures — the
   *  audit path probes the same batch against two index generations,
   *  and recomputing the batch's shingling + 20-way minhash per probe
   *  was the one redundant pass left in the q179 stage dump (round
   *  16, guide §1.2); callers persist the signature frame across the
   *  probes. Same rows, same pairs as the one-shot form. */
  private[ops] def minhashBatchVsIndexSig(bsig: DataFrame, idxBands: DataFrame,
      idxSigs: DataFrame): DataFrame = {
    val cand = bandKeys(bsig).withColumnRenamed("doc_id", "batch_id")
      .join(idxBands.select(col("bkey"), col("doc_id").as("corpus_id")), "bkey")
      .select(col("batch_id"), col("corpus_id")).distinct()
    minhashVerify(cand, "batch_id", bsig, "corpus_id", idxSigs)
  }

  /** [[minhashBatchVsIndex]] against an [[LshIndex]] at `table`. */
  def incrementalMinhashIndexed(s: SparkSession, batch: DataFrame,
      table: String): DataFrame = {
    val Seq(bands, sigs) = LshIndex.read(s, table)
    minhashBatchVsIndex(shingleRows(batch), bands, sigs)
  }

  /** q96: same corpus/batch split convention as q80 (doc_id < 400 is
   *  the already-indexed corpus); the index is recomputed inline for
   *  the driver check — the durable-table path is
   *  [[incrementalMinhashIndexed]], plan-pinned in BucketingSpec.
   *  Engine-specific hashing → rows-only check; quality gated by the
   *  CurationPolicySpec equivalence to q22's cross-boundary pairs. */
  def q96IncrementalMinhash(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val isig = LshIndex.build(corpus)
    minhashBatchVsIndex(shingleRows(batch), bandKeys(isig), isig)
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  // ----- LSH index compaction (tombstone removal, bucket rewrite) ---

  /** q166: the compaction gate (all-true VALUES oracle, the q144
   *  style) — the maintenance path the round-9 verdict flagged as
   *  missing (the index grew monotonically; deleted or superseded
   *  docs kept matching probes forever). One run = one full
   *  lifecycle: build the [[LshIndex]] over the whole corpus,
   *  tombstone a deterministic subset (doc_id % 10 = 3), compact both
   *  tables into a new generation, and audit it against an index
   *  REBUILT from the surviving corpus ([[auditLshIndexEquiv]]):
   *
   *   - `compact_tombstones_gone`: no tombstoned doc_id survives in
   *     either compacted table;
   *   - `compact_bands_equiv`: compacted band rows ≡ rebuilt band
   *     rows (multiset equality via per-(doc_id, bkey) counts);
   *   - `compact_sigs_equiv`: compacted signatures ≡ rebuilt
   *     signatures (full join on doc_id, all 20 minhash columns
   *     compared);
   *   - `compact_probe_equiv`: the behavioral check — a fresh batch
   *     probed against the compacted index returns EXACTLY the pairs
   *     the rebuilt index returns.
   *
   *  Compaction can be audited without re-reading any document text:
   *  filter-then-keep ≡ rebuild-from-surviving-corpus by the index's
   *  per-document contract. Overwrite-mode writes make the query
   *  idempotent across bench repeats. */
  def q166LshCompaction(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val base = s"graft_lshc_${math.abs(d.hashCode).toString}"
    LshIndex.write(corpus, base)
    val tomb = corpus.filter(col("doc_id") % 10 === 3).select(col("doc_id"))
    // the compacted generation and the rebuilt reference index touch
    // disjoint table sets — overlap the two builds (guide §2.6)
    Par.run2(
      () => LshIndex.compact(s, base, s"${base}_gen2", tomb),
      () => LshIndex.write(corpus.join(broadcast(tomb), Seq("doc_id"), "left_anti"),
        s"${base}_ref"))
    DurableIndex.gate(s,
      auditLshIndexEquiv(s, s"${base}_gen2", s"${base}_ref", tomb, shingleRows(batch))
        .map { case (leg, ok) => (s"compact_$leg", ok) })
  }

  /** The four index-equivalence audit legs shared by q166 (batch
   *  compaction) and q179 (stream-maintained index): tombstones gone
   *  from both tables, band rows multiset-equal, signatures
   *  row-equal, and a fresh probe batch behaviorally identical.
   *  Every leg is an O(index) equi-join — no quadratic, no text
   *  re-read. Returns (leg, ok) pairs; callers prefix the leg
   *  names. */
  private def auditLshIndexEquiv(s: SparkSession, candBase: String,
      refBase: String, tomb: DataFrame, probeSh: DataFrame): Seq[(String, Boolean)] = {
    val Seq(cBands, cSigs) = LshIndex.read(s, candBase)
    val Seq(rBands, rSigs) = LshIndex.read(s, refBase)
    def counts(df: DataFrame) =
      df.groupBy(col("doc_id"), col("bkey")).agg(count(lit(1)).as("n"))
    // ONE batch signature frame feeds both probes (round 16, guide
    // §1.2): the two probes differ only in which index generation they
    // hit; shingling + minhash of the probe batch is identical
    val bsig = minhashSignatures(probeSh).persist(StorageLevel.MEMORY_AND_DISK)
    def probe(bands: DataFrame, sigs: DataFrame) =
      minhashBatchVsIndexSig(bsig, bands, sigs).select(col("batch_id"), col("corpus_id"))
    // the probe leg is planned BEFORE bsig is filled: on the cache's
    // estimated size its joins stay partitioned the way the full join
    // needs; planned after the fill, the known few-KB size turns them
    // into broadcasts whose outputs the full join must re-shuffle
    val probeLeg = DurableIndex.compared(probe(cBands, cSigs), probe(rBands, rSigs),
      Seq("batch_id", "corpus_id")).filter(col("mismatch")).groupBy().count()
    probeLeg.queryExecution.executedPlan
    // the four audit legs are independent counts over already-written
    // tables — overlap them (guide §2.6); bsig is filled once first, so
    // the probes read its blocks instead of racing the legs to fill it
    val legs = try {
      bsig.queryExecution.toRdd.count()
      Par.run(Seq(
        () => LshIndex.tombstonesLeft(s, candBase, tomb),
        () => DurableIndex.mismatches(counts(cBands), counts(rBands), Seq("doc_id", "bkey")),
        () => DurableIndex.mismatches(cSigs, rSigs, Seq("doc_id")),
        // collect() runs the plan made above (count() would re-plan)
        () => probeLeg.collect().head.getLong(0)))
    } finally { bsig.unpersist(); () }
    Seq(
      ("bands_equiv", legs(1) == 0L),
      ("probe_equiv", legs(3) == 0L),
      ("sigs_equiv", legs(2) == 0L),
      ("tombstones_gone", legs(0) == 0L))
  }

  val q166Sql: String =
    """SELECT * FROM (VALUES
      | ('compact_bands_equiv', true), ('compact_probe_equiv', true),
      | ('compact_sigs_equiv', true), ('compact_tombstones_gone', true)
      |) t(component, ok) ORDER BY component""".stripMargin

  // ----- stream-maintained LSH index (q179) -------------------------

  /** q179: the banded-MinHash index maintained from a LIVE STREAM —
   *  the round-10 verdict's missing leg of the continuous-ingestion
   *  story (q63 maintains the EXACT-fingerprint index from a stream;
   *  the fuzzy index was batch-append only). One run is one full
   *  [[DurableIndex]] lifecycle, the q63 discipline applied to the
   *  fuzzy index:
   *
   *   1. the corpus is staged as 3 files (keyed by its content, so a
   *      corpus rewritten in place is restaged) and streamed one file
   *      per micro-batch; each batch's band rows and signatures append
   *      into the durable bucketed tables — per-batch cost O(batch),
   *      never O(corpus);
   *   2. tombstones (CDC deletes arriving after ingestion;
   *      doc_id % 10 = 7) are compacted away into a new generation;
   *   3. the compacted stream-built generation is audited against an
   *      index BUILT IN ONE BATCH from the surviving corpus — band
   *      multiset equality, signature equality, tombstone absence,
   *      and behavioral probe equivalence ([[auditLshIndexEquiv]],
   *      the q166 legs), plus the batch-count check proving the
   *      stream really split.
   *
   *  Equivalence holds by construction (band keys and signatures are
   *  per-document artifacts; every doc lands in exactly one
   *  micro-batch), which is exactly what makes it a GATE: any
   *  cross-document state accidentally introduced into the index
   *  build breaks stream/batch parity here first. DROPs + overwrite
   *  writes keep the query idempotent across bench repeats (appends
   *  would otherwise accumulate). */
  def q179StreamLshIndex(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val stage = DurableIndex.stage(s, "slsh_src", d, "documents", docs)
    val base = s"graft_slsh_${math.abs(d.hashCode).toString}"
    val (gen2, ref) = (s"${base}_gen2", s"${base}_ref")
    Seq(base, gen2, ref).foreach(LshIndex.drop(s, _))
    val nBatches = DurableIndex.streamFiles(s, stage, docs.schema)(
      LshIndex.write(_, base, append = true))
    val tomb = docs.filter(col("doc_id") % 10 === 7).select(col("doc_id"))
    // compacted generation ∥ batch-rebuilt reference (disjoint tables)
    Par.run2(
      () => LshIndex.compact(s, base, gen2, tomb),
      () => LshIndex.write(docs.join(broadcast(tomb), Seq("doc_id"), "left_anti"), ref))
    DurableIndex.gate(s,
      auditLshIndexEquiv(s, gen2, ref, tomb, shingleRows(docs.filter(col("doc_id") >= 450)))
        .map { case (leg, ok) => (s"stream_$leg", ok) } :+
        (("stream_saw_batches", nBatches == 3)))
  }

  val q179Sql: String =
    """SELECT * FROM (VALUES
      | ('stream_bands_equiv', true), ('stream_probe_equiv', true),
      | ('stream_saw_batches', true), ('stream_sigs_equiv', true),
      | ('stream_tombstones_gone', true)
      |) t(component, ok) ORDER BY component""".stripMargin

  // ----- exact cross-document substring (k-gram) deduplication ------

  /** Token-gram length for substring dedup (matches q71's 8-gram
   *  decontamination convention; Lee et al., "Deduplicating Training
   *  Data Makes Language Models Better" use 50 BPE tokens — the
   *  window is a tuning knob, the machinery is identical). */
  val SubstrK = 8

  /** Per-token duplicated-span coverage: every position `p` of every
   *  document, flagged iff some k-gram that CONTAINS `p` also occurs
   *  in at least one OTHER document. This is the token-level view of
   *  exact substring dedup — any duplicated span of length ≥ k marks
   *  all of its tokens, so `covered` is exactly the set of tokens a
   *  suffix-array-based remover would delete.
   *
   *  Shape (and why it scales): one k-gram hash aggregate over the
   *  corpus (count DISTINCT docs per gram — map-side partials apply),
   *  one join of gram starts against the duplicated-gram set on the
   *  gram key, then a per-document window (`max` over the trailing
   *  k-1 starts) to convert start flags into position coverage. No
   *  self-join on documents, no quadratic term anywhere: cost is
   *  O(tokens) rows through two shuffles (gram key, doc key).
   *
   *  The gram key is a 128-bit hash (two independent xxhash64
   *  streams), never the gram text: the key is purely internal — the
   *  dup decision (seen in ≥2 docs) is made and consumed inside this
   *  plan, so only a 128-bit collision (~2⁻⁹⁶ at 10⁸ grams) could
   *  perturb a result. The earlier string-keyed formulation OOM'd the
   *  round-5 100× verify (60M-row octave, 8 GiB heap): 32 concurrent
   *  string-keyed hash-agg tasks over ~10⁸ variable-width gram keys
   *  exhausted the heap where two-long keys aggregate in a
   *  fixed-width map and shuffle ~4× narrower. Returns
   *  (doc_id, pos, tok, covered). */
  private[ops] def substrCoverage(docs: DataFrame, k: Int = SubstrK): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = docs.select(col("doc_id"), col("text")).as[(Long, String)]
    // gram starts: (doc_id, pos, gram), pos 1-based, pos ∈ [1, n-k+1].
    // Typed flatMap, NOT a transform(sequence, slice+concat_ws) column
    // expression: the expression formulation re-copies k elements per
    // gram outside codegen and measured ~15× slower than tokenizing
    // once per document in JVM code (same finding as shingleRows).
    // The gram string exists only inside this stage: it is hashed to
    // (h1, h2) before anything shuffles.
    val starts = toks.flatMap { case (id, text0) =>
      val t = Option(text0).getOrElse("").trim.split("\\s+")
      if (t.length < k) Iterator.empty
      else Iterator.tabulate(t.length - k + 1)(i => (id, i + 1, t.slice(i, i + k).mkString(" ")))
    }.toDF("doc_id", "pos", "gram")
      .select(col("doc_id"), col("pos"),
        xxhash64(col("gram")).as("h1"),
        xxhash64(lit("graft-substr-2"), col("gram")).as("h2"))
      // materialize ONCE: the dup aggregate and the dupStarts join
      // both read this frame, and ReuseExchange cannot share them
      // (the aggregate leg partial-aggregates below its exchange, the
      // join leg shuffles raw rows) — without the checkpoint the
      // corpus-wide tokenize+hash flatMap, the dominant stage, runs
      // twice (the prefixJaccardPairs finding, ~2× wall)
      .localCheckpoint(true)
    // grams seen in ≥ 2 distinct documents. min≠max ⟺ countDistinct≥2
    // but plans as two trivially partial-aggregable longs instead of a
    // distinct aggregate — the countDistinct form carried
    // (h1,h2,doc_id) triples through an extra dedup pass over the
    // ~5·10⁸ gram rows at the 1000× octave for a predicate that never
    // needed the exact count
    val dup = starts.groupBy(col("h1"), col("h2"))
      .agg(min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"))
      .filter(col("dmin") =!= col("dmax"))
      .select(col("h1"), col("h2"))
    val dupStarts = starts.join(dup, Seq("h1", "h2"))
      .select(col("doc_id"), col("pos"), lit(1).as("dupstart"))
    // every token position, with its token (needed by the remover)
    val positions = toks.flatMap { case (id, text0) =>
      val t = Option(text0).getOrElse("").trim.split("\\s+")
      Iterator.tabulate(t.length)(i => (id, i + 1, t(i)))
    }.toDF("doc_id", "pos", "tok")
    // position p is covered iff a dup gram STARTS in [p-k+1, p]
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(k - 1), org.apache.spark.sql.expressions.Window.currentRow)
    positions
      .join(dupStarts, Seq("doc_id", "pos"), "left")
      .withColumn("dupstart", coalesce(col("dupstart"), lit(0)))
      .withColumn("covered", max(col("dupstart")).over(w))
      .select(col("doc_id"), col("pos"), col("tok"), col("dupstart"), col("covered"))
  }

  /** q90: per-document exact-substring duplication statistics —
   *  token count, duplicated-gram starts, tokens covered by a
   *  cross-document duplicated k-gram, and the coverage fraction
   *  (raw division: identical integer inputs make the double
   *  bit-identical across engines; BASELINE.md's rounding rule). */
  def q90SubstrStats(s: SparkSession, d: String): DataFrame =
    substrCoverage(documents(s, d))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("dupstart")).cast("long").as("n_dup_starts"),
        sum(col("covered")).cast("long").as("covered_tokens"))
      .withColumn("dup_frac", col("covered_tokens") * lit(1.0) / col("n_tokens"))
      .orderBy(col("doc_id"))

  private val q90Base: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \\t\\n\\v\\f\\r]+|[ \\t\\n\\v\\f\\r]+$$', '', 'g'), '[ \\t\\n\\v\\f\\r]+') AS t
      |  FROM documents),
      |starts AS (
      |  SELECT doc_id, i AS pos, array_to_string(t[i:i+${SubstrK - 1}], ' ') AS gram
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-${SubstrK - 1})) AS i) g),
      |dup AS (SELECT gram FROM starts GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      |flags AS (
      |  SELECT s.doc_id, s.pos, 1 AS dupstart
      |  FROM starts s JOIN dup USING (gram)),
      |pos AS (
      |  SELECT doc_id, i AS pos, t[i] AS tok
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
      |cov AS (
      |  SELECT p.doc_id, p.pos, p.tok, coalesce(f.dupstart, 0) AS dupstart,
      |   max(coalesce(f.dupstart, 0)) OVER (
      |     PARTITION BY p.doc_id ORDER BY p.pos
      |     ROWS BETWEEN ${SubstrK - 1} PRECEDING AND CURRENT ROW) AS covered
      |  FROM pos p LEFT JOIN flags f ON p.doc_id = f.doc_id AND p.pos = f.pos)""".stripMargin

  val q90Sql: String =
    s"""$q90Base
      |SELECT doc_id, count(*) AS n_tokens,
      | CAST(sum(dupstart) AS BIGINT) AS n_dup_starts,
      | CAST(sum(covered) AS BIGINT) AS covered_tokens,
      | sum(covered) * 1.0 / count(*) AS dup_frac
      |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q91: exact substring REMOVAL — the cleaned corpus itself: every
   *  token covered by a cross-document duplicated k-gram is deleted
   *  and the survivors re-joined in order. */
  def q91SubstrRemove(s: SparkSession, d: String): DataFrame =
    substrRemove(documents(s, d)).orderBy(col("doc_id"))

  /** q91's core over any (doc_id, text) frame — also the
   *  CorpusPipeline.removeDuplicatedSubstrings stage.
   *
   *  Reconstruction is the q93 sorted-group shape: `groupByKey(doc)` +
   *  `flatMapSortedGroups(pos)` streams each document's (pos, tok,
   *  covered) rows in order off a SPILL-BACKED iterator and appends
   *  survivors to one builder — never materializing an O(doc-length)
   *  struct array in an aggregation buffer the way collect_list +
   *  array_sort would (a 1M-token book is one sorted stream here, not
   *  one in-heap array; the output string itself is the only O(doc)
   *  allocation, inherent to the operator). */
  private[ops] def substrRemove(docs: DataFrame, k: Int = SubstrK): DataFrame = {
    import docs.sparkSession.implicits._
    substrCoverage(docs, k)
      .select(col("doc_id"), col("pos"), col("tok"), col("covered"))
      .as[(Long, Int, String, Int)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("pos")) { (id: Long, it: Iterator[(Long, Int, String, Int)]) =>
        var n = 0L
        var kept = 0L
        val sb = new java.lang.StringBuilder
        it.foreach { case (_, _, tok, covered) =>
          n += 1
          if (covered == 0) {
            kept += 1
            if (sb.length > 0) sb.append(' ')
            sb.append(tok)
          }
        }
        Iterator.single((id, n, kept, sb.toString))
      }
      .toDF("doc_id", "n_tokens", "kept_tokens", "cleaned_text")
  }

  val q91Sql: String =
    s"""$q90Base
      |SELECT doc_id, count(*) AS n_tokens,
      | CAST(count(*) FILTER (WHERE covered = 0) AS BIGINT) AS kept_tokens,
      | coalesce(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE covered = 0), '') AS cleaned_text
      |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----- embedding semantic dedup with an explicit keep policy -----

  /** q92: SemDeDup-style semantic deduplication (Abbas et al. 2023):
   *  within each blocking cell, a vector is DROPPED iff an earlier
   *  (smaller vec_id) vector in the same cell has cosine ≥ τ; its
   *  keeper is the smallest such earlier vector. Where q25 merely
   *  LISTS near-dup pairs, this emits the curation decision — every
   *  vector with kept/dropped status and keeper attribution.
   *
   *  Blocking follows q25's contract (the label column stands in for
   *  any cheap partition key — IVF cell, LSH bucket): the quadratic
   *  term stays within blocks, and both engines block identically so
   *  the result is exact by construction given the blocking. Keep-
   *  first (min-id) rather than SemDeDup's farthest-from-centroid
   *  tie-break keeps the policy deterministic and oracle-checkable;
   *  the output is integer-only so no floating-point value crosses
   *  the engine boundary (the τ comparison uses q25's round-6 guard,
   *  proven stable through the 50× gate). */
  def q92SemanticDedup(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    semDedupPolicy(
      embeddings(s, d).select(col("vec_id"), col("label"), col("embedding")),
      blockCol = "label", vecCol = "embedding", tau = 0.45)
  }

  /** The SemDeDup keep/drop policy over any (vec_id, block, vector)
   *  frame — ONE implementation shared by the label-blocked q92 and
   *  the IVF-cell-blocked production path [[semDedupByCell]], so the
   *  two can never diverge on policy: within each block, a vector is
   *  dropped iff an earlier (smaller vec_id) same-block vector has
   *  cosine ≥ τ; its keeper is the smallest such earlier id. */
  private[ops] def semDedupPolicy(e: DataFrame, blockCol: String,
      vecCol: String, tau: Double): DataFrame = {
    val dropped = e.as("a").join(e.as("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim",
        round(graft.functions.GraftFunctions.cosine_sim(col(s"a.$vecCol"), col(s"b.$vecCol")), 6))
      .filter(col("sim") >= tau)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(min(col("a.vec_id")).as("keeper_id"))
    e.select(col("vec_id"), col(blockCol))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col(blockCol),
        when(col("keeper_id").isNotNull, 1).otherwise(0).as("dropped"),
        col("keeper_id"))
      .orderBy(col("vec_id"))
  }

  /** SemDeDup blocked by the DURABLE IVF cell assignment — the
   *  production composition the q92 scaladoc promises: the blocking
   *  key is the ANN index's own coarse partition
   *  ([[Similarity.ivfIndex]] writes the corpus partitioned by
   *  cell), so the quadratic term runs within cells the layout
   *  already co-locates — each `cell=<c>/` directory is one
   *  self-contained block, no label oracle needed, and at 100 TB the
   *  self-join shuffles on a key whose cardinality grows with the
   *  corpus (the q25 blocking contract). Same policy, same τ
   *  semantics as q92 via [[semDedupPolicy]]; output carries the cell
   *  instead of the label. */
  def semDedupByCell(s: SparkSession, layout: String, tau: Double): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    semDedupPolicy(
      s.read.parquet(layout).select(col("vec_id"), col("cell"), col("v")),
      blockCol = "cell", vecCol = "v", tau = tau)
  }

  /** Full-corpus SemDeDup at 100 TB shape: the blocking layout uses
   *  CORPUS-SCALED cells (the frozen-artifact index of
   *  [[Similarity.fitScaledIndex]], ~500 vectors/cell), so the within-cell quadratic is bounded per cell
   *  and LINEAR in the corpus overall — the q25 blocking contract
   *  made concrete for the semantic-dedup path. Policy and τ
   *  semantics are [[semDedupPolicy]], identical to q92/q137 (the
   *  policies cannot diverge); only the blocking fineness differs.
   *  Finer cells trade recall (more boundary-straddling pairs) for
   *  bounded cost — BASELINE.md (round 8) records the measured trade
   *  at each octave. Writes the layout under `out`, its artifact
   *  beside it, and returns the full keep/drop frame. */
  def semDedupScaled(s: SparkSession, d: String, out: String,
      tau: Double): DataFrame = {
    Similarity.fitScaledIndex(s, d, out)._1.write(embeddings(s, d), out)
    semDedupByCell(s, out, tau)
  }

  /** q137's τ (q92's value) and the truth-subsample prefix cap: the
   *  unblocked quadratic ground truth is computed over vec_id <
   *  [[SemDedupTruthCap]] only, so the gate's exact baseline stays a
   *  FIXED cost (≤ cap²/2 cosines) at every octave while the policy
   *  under audit runs on the full corpus. A prefix subsample is
   *  CLOSED under "earlier vector": every earlier vector of a member
   *  is itself a member, so the blocked policy restricted to the
   *  prefix equals the policy run on the prefix — the restriction is
   *  exact, not approximate. */
  private[graft] val SemDedupTau = 0.45
  private[graft] val SemDedupTruthCap = 2000L

  /** Drop-ids of the unblocked truth policy on the vec_id <
   *  [[SemDedupTruthCap]] prefix of corpus `d` (sorted) — the exact
   *  baseline all three SemDeDup gates (q137/q143/q190) compare
   *  against, memoized like q61's exact baselines: a deterministic
   *  artifact of the corpus, ≤ [[SemDedupTruthCap]] ids of driver
   *  footprint, while the AUDITED policy legs always run live.
   *  Round-15 shape fix (measured, stage dump): the old
   *  constant-block semDedupPolicy call hash-partitioned on the
   *  constant, so the cap² quadratic ran in ONE task (~4-5 s, twice
   *  per gate per bench run, in three gates). Here the capped frame
   *  broadcasts as the earlier side and the quadratic streams over
   *  the vec_id-partitioned later side — same pairs, same
   *  round(cosine, 6) ≥ τ predicate, same min-keeper semantics,
   *  fully parallel. */
  private[ops] def semTruthDropIds(s: SparkSession, d: String): Seq[Long] =
    CorpusArtifacts.memo(s, "sem_truth", d, "embeddings") {
      graft.functions.GraftFunctions.register(s)
      import s.implicits._
      val capped = embeddings(s, d)
        .filter(col("vec_id") < SemDedupTruthCap)
        .select(col("vec_id"), col("embedding"))
        // distribute the streamed side of the quadratic: the join key
        // below is a constant, so the probe side's own partitioning is
        // the only parallelism source
        .repartition(col("vec_id"))
      val a = broadcast(capped
        .select(col("vec_id").as("a_id"), col("embedding").as("va"),
          lit(0).as("blk")))
      capped.select(col("vec_id").as("b_id"), col("embedding").as("vb"),
          lit(0).as("blk"))
        .join(a, Seq("blk"))
        .filter(col("a_id") < col("b_id"))
        .withColumn("sim", round(
          graft.functions.GraftFunctions.cosine_sim(col("va"), col("vb")), 6))
        .filter(col("sim") >= SemDedupTau)
        .select(col("b_id")).distinct()
        .as[Long].collect().sorted.toIndexedSeq
    }

  /** The truth-drop frame the gates join against (vec_id column). */
  private def semTruthDrops(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    semTruthDropIds(s, d).toDF("vec_id")
  }

  /** The q137 cell-blocked policy over an already-capped (vec_id,
   *  cell, v) layout slice — what q143's single-probe leg runs and
   *  what SemDedupCellSpec pins on fixtures. */
  private[graft] def semDedupCappedPolicy(capped: DataFrame, tau: Double): DataFrame =
    semDedupPolicy(capped, blockCol = "cell", vecCol = "v", tau = tau)

  /** MULTI-PROBE SemDeDup on the vec_id < `cap` prefix (exact
   *  restriction by prefix-closure, the q137 contract): identical
   *  keep/drop policy, but candidate
   *  pairs come from the top-`probes` cell overlay
   *  ([[Similarity.withProbeCells]]) instead of the single primary
   *  cell. Cross-cell misses — a near-dup pair straddling one cell
   *  boundary — dominate single-probe's measured losses (37 % recall
   *  at sf0.1, BASELINE round-8); with each vector additionally
   *  probing its runner-up cell, such a pair still meets in one of
   *  the probed cells. Structural guarantees, both q143-gated:
   *  multi-probe drops ⊇ single-probe drops (probe element 0 IS the
   *  primary cell, so every single-probe candidate survives) and
   *  ⊆ the unblocked truth (blocking only ever prunes pairs). Scale
   *  shape: still banded — pair work grows by at most probes² per
   *  cell collision (measured ~2–3× at probes = 2), never corpus². */
  private[graft] def semDedupMultiProbeCapped(s: SparkSession, d: String,
      tau: Double, probes: Int = 2, cap: Long = SemDedupTruthCap): DataFrame =
    multiProbePolicy(
      Similarity.withProbeCells(s, d, probes).filter(col("vec_id") < cap), tau)

  /** Policy core over a (vec_id, v, cells) frame: explode the probe
   *  cells, pair within any shared cell, keep the earliest keeper.
   *  A pair sharing BOTH probe cells appears twice in the join; the
   *  min-aggregate collapses it, so the policy is set-semantics
   *  identical to [[semDedupPolicy]] over the implied pair set. */
  private def multiProbePolicy(probed: DataFrame, tau: Double): DataFrame = {
    val exploded = probed.select(col("vec_id"), col("v"),
      explode(col("cells")).as("cell"))
    val dropped = exploded.as("a").join(exploded.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim",
        round(graft.functions.GraftFunctions.cosine_sim(col("a.v"), col("b.v")), 6))
      .filter(col("sim") >= tau)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(min(col("a.vec_id")).as("keeper_id"))
    probed.select(col("vec_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("keeper_id").isNotNull, 1).otherwise(0).as("dropped"),
        col("keeper_id"))
      .orderBy(col("vec_id"))
  }
  /** Recall floor for the cell blocking vs the unblocked truth at
   *  τ = [[SemDedupTau]], on the truth subsample. STATED HONESTLY
   *  (the round-8 minhash-floor lesson): this is a measured
   *  regression TRIPWIRE, not the operator's theoretical bound.
   *  τ = 0.45 pairs are only moderately similar, and a single-probe
   *  blocking misses any pair straddling a cell boundary by design —
   *  the measured IVF-cell recall on the capped subsample is 28.6 %
   *  (4/14) at sf0.01 and 37.0 % (50/135) at sf0.1 (BASELINE.md
   *  round-8) vs the 1/16 ≈ 6 % a cells-ignore-geometry
   *  assignment would deliver (and 11 % for q92's label blocking). The 0.15 floor trips on a broken codebook or
   *  corrupted layout (recall collapses toward random) while not
   *  pretending cross-cell misses are avoidable. */
  private[ops] val SemDedupRecallFloor = 0.15

  /** q137: the PRODUCTION SemDeDup composition ([[semDedupByCell]]
   *  over the durable [[Similarity.ivfLayoutDir]] layout), gated the
   *  q61 way — the oracle is the all-true VALUES list, so any
   *  regression in the layout or the blocking flips a row to false
   *  and the driver's hash compare goes red. Components:
   *
   *   - `cell_layout_complete`: the durable layout holds exactly the
   *     corpus's vectors — row count and distinct vec_id count both
   *     equal the source count (a lost or duplicated vector is a
   *     broken index, whatever the policy says);
   *   - `cell_assign_durable`: every vector's PARTITION DIRECTORY in
   *     the durable layout equals the cell the shared definition
   *     ([[Similarity.withCell]]) assigns it today — the layout and
   *     the in-memory path can never disagree about where a vector
   *     lives (one O(n) equi-join, full corpus, no quadratic);
   *   - `cell_drops_sound`: on the truth subsample, every cell-
   *     blocked drop is also an unblocked-truth drop — blocks
   *     partition the pair space, so a blocked policy can only MISS
   *     drops, never manufacture them (SemDedupCellSpec's subset
   *     test, oracle-visible here);
   *   - `cell_recall`: the cell blocking recovers ≥
   *     [[SemDedupRecallFloor]] of the unblocked truth drops on the
   *     subsample (see the floor's scaladoc for what it does and
   *     does not claim).
   *
   *  Scale shape: BOTH quadratic legs (unblocked truth AND the
   *  audited cell-blocked policy) run on the vec_id <
   *  [[SemDedupTruthCap]] prefix — exact by prefix-closure
   *  (SemDedupCellSpec pins the restriction equality), so the gate
   *  is FIXED-COST at every octave while the full-corpus evidence
   *  (completeness + assignment parity) stays O(n) scans. The
   *  full-corpus quadratic-within-cells policy remains a library
   *  call ([[semDedupByCell]]); at a fixed 16-cell codebook its
   *  per-cell population grows with the corpus, so a 100 TB
   *  deployment runs it with a corpus-scaled cell count (the q25
   *  contract) — the gate deliberately does not make the per-round
   *  bench pay that quadratic. */
  def q137SemDedupCell(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val layout = Similarity.ivfLayoutDir(s, d)
    val stored = s.read.parquet(layout)
      .select(col("vec_id"), col("cell").cast("int").as("cell"), col("v"))
    val src = embeddings(s, d)
    val completeness = stored
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("vec_id")).as("n_ids"))
      .crossJoin(src.agg(count(lit(1)).as("n_src")))
      .select((col("n_rows") === col("n_src") &&
        col("n_ids") === col("n_src")).as("layout_ok"))
    val parity = stored.select(col("vec_id"), col("cell"))
      .join(Similarity.withCell(s, d)
        .select(col("vec_id"), col("cell").as("cell_now")), Seq("vec_id"), "full")
      .agg(count(when(col("cell").isNull || col("cell_now").isNull ||
        col("cell") =!= col("cell_now"), 1)).as("mismatches"))
      .select((col("mismatches") === 0).as("assign_ok"))
    // unblocked ground truth on the prefix subsample — the memoized
    // parallel exact baseline ([[semTruthDropIds]]; the O(cap²) scan
    // the cell blocking exists to avoid)
    val truthDrops = semTruthDrops(s, d)
    // the audited policy, restricted to the same prefix BEFORE the
    // self-join: equal to the full-corpus policy's restriction
    // because a prefix is closed under "earlier same-cell vector"
    val cellDrops = semDedupPolicy(
      stored.filter(col("vec_id") < SemDedupTruthCap),
      blockCol = "cell", vecCol = "v", tau = SemDedupTau)
      .filter(col("dropped") === 1).select(col("vec_id"))
    val gate = truthDrops.withColumn("t", lit(1))
      .join(cellDrops.withColumn("c", lit(1)), Seq("vec_id"), "full")
      .agg(count(col("t")).as("truth"),
        count(when(col("t").isNotNull && col("c").isNotNull, 1)).as("hit"),
        count(when(col("t").isNull, 1)).as("extra"))
    completeness.crossJoin(parity).crossJoin(gate)
      .select(explode(array(
        struct(lit("cell_assign_durable").as("component"), col("assign_ok").as("ok")),
        struct(lit("cell_drops_sound").as("component"),
          (col("extra") === 0).as("ok")),
        struct(lit("cell_layout_complete").as("component"), col("layout_ok").as("ok")),
        struct(lit("cell_recall").as("component"),
          // truth == 0 is vacuously ok: a legitimately duplicate-free
          // corpus has no drops to recover, which is not a recall
          // failure (requiring truth > 0 made the all-true oracle a
          // latent false alarm for new/derived corpora)
          (col("truth") === 0 ||
            col("hit") >= col("truth") * SemDedupRecallFloor).as("ok")))).as("r"))
      .select(col("r.component"), col("r.ok"))
      .orderBy(col("component"))
  }

  val q137Sql: String =
    """SELECT * FROM (VALUES
      | ('cell_assign_durable', true), ('cell_drops_sound', true),
      | ('cell_layout_complete', true), ('cell_recall', true)
      |) t(component, ok) ORDER BY component""".stripMargin

  /** q190: PRODUCTION SemDeDup routed over the SCALED two-level
   *  layout (round-15, verdict ask 7) — q137's composition with the
   *  blocking swapped from the fixed 16-cell probe codebook to the
   *  corpus-scaled frozen-artifact layout q189 maintains
   *  ([[Similarity.scaledLayoutDir]]): cell count = n/500 (flat-
   *  degenerate at the provisioned dirs, two-level past the ~1 M-
   *  vector ceiling — the 1000× dir's 2 M vectors engage the tier
   *  naturally), so the per-cell quadratic stays bounded by
   *  [[Similarity.ScaledCellPop]]² and TOTAL policy work stays
   *  linear in the corpus — the 100 TB shape q137's scaladoc
   *  promises ("a 100 TB deployment runs it with a corpus-scaled
   *  cell count"). Gate components mirror q137's, re-based on the
   *  frozen artifact:
   *
   *   - `scaled_layout_complete`: the durable scaled layout holds
   *     exactly the corpus's vectors;
   *   - `scaled_assign_durable`: every vector's partition directory
   *     equals the cell the persisted FROZEN artifact assigns it
   *     today ([[Similarity.scaledIndexAt]] — the artifact,
   *     not a refit, is the definition at this tier);
   *   - `scaled_drops_sound`: on the truth prefix, every scaled-cell
   *     drop is an unblocked-truth drop (blocking only prunes);
   *   - `scaled_recall`: the scaled blocking recovers ≥
   *     [[SemDedupRecallFloor]] of unblocked truth drops on the
   *     prefix. Honest tier note: finer cells prune MORE boundary
   *     pairs than the 16-cell blocking, so this leg is exactly the
   *     tripwire the floor's scaladoc describes — it certifies the
   *     codebook/layout are sane, not that cross-cell misses shrink.
   *
   *  Both quadratic legs run on the vec_id < [[SemDedupTruthCap]]
   *  prefix (exact by prefix-closure — the same SemDedupCellSpec
   *  restriction argument: a prefix is closed under "earlier
   *  same-cell vector" for ANY cell definition). */
  def q190SemDedupScaledCells(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val layout = Similarity.scaledLayoutDir(s, d)
    val stored = s.read.parquet(layout)
      .select(col("vec_id"), col("cell").cast("int").as("cell"), col("v"))
    val src = embeddings(s, d)
    val completeness = stored
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("vec_id")).as("n_ids"))
      .crossJoin(src.agg(count(lit(1)).as("n_src")))
      .select((col("n_rows") === col("n_src") &&
        col("n_ids") === col("n_src")).as("layout_ok"))
    val parity = stored.select(col("vec_id"), col("cell"))
      .join(Similarity.scaledIndexAt(s, layout).build(src)
        .select(col("vec_id"), col("cell").as("cell_now")), Seq("vec_id"), "full")
      .agg(count(when(col("cell").isNull || col("cell_now").isNull ||
        col("cell") =!= col("cell_now"), 1)).as("mismatches"))
      .select((col("mismatches") === 0).as("assign_ok"))
    val truthDrops = semTruthDrops(s, d)
    val cellDrops = semDedupPolicy(
      stored.filter(col("vec_id") < SemDedupTruthCap),
      blockCol = "cell", vecCol = "v", tau = SemDedupTau)
      .filter(col("dropped") === 1).select(col("vec_id"))
    val gate = truthDrops.withColumn("t", lit(1))
      .join(cellDrops.withColumn("c", lit(1)), Seq("vec_id"), "full")
      .agg(count(col("t")).as("truth"),
        count(when(col("t").isNotNull && col("c").isNotNull, 1)).as("hit"),
        count(when(col("t").isNull, 1)).as("extra"))
    completeness.crossJoin(parity).crossJoin(gate)
      .select(explode(array(
        struct(lit("scaled_assign_durable").as("component"), col("assign_ok").as("ok")),
        struct(lit("scaled_drops_sound").as("component"),
          (col("extra") === 0).as("ok")),
        struct(lit("scaled_layout_complete").as("component"), col("layout_ok").as("ok")),
        struct(lit("scaled_recall").as("component"),
          (col("truth") === 0 ||
            col("hit") >= col("truth") * SemDedupRecallFloor).as("ok")))).as("r"))
      .select(col("r.component"), col("r.ok"))
      .orderBy(col("component"))
  }

  val q190Sql: String =
    """SELECT * FROM (VALUES
      | ('scaled_assign_durable', true), ('scaled_drops_sound', true),
      | ('scaled_layout_complete', true), ('scaled_recall', true)
      |) t(component, ok) ORDER BY component""".stripMargin

  /** q143: the MULTI-PROBE SemDeDup gate, q137's style (all-true
   *  VALUES oracle). Components:
   *
   *   - `probe2_primary_parity`: probe element 0 equals the
   *     single-cell assignment for EVERY vector (full corpus, O(n))
   *     — the overlay and the durable layout can never disagree
   *     about a vector's primary cell;
   *   - `probe2_superset`: on the truth subsample, every
   *     single-probe drop is also a multi-probe drop (structural:
   *     the primary cell is probed, so no candidate pair is lost);
   *   - `probe2_sound`: multi-probe drops ⊆ unblocked truth drops
   *     (blocking only prunes the pair space);
   *   - `probe2_gain`: multi-probe recovers at least as many truth
   *     drops as single-probe (the measured STRICT gain per octave
   *     is recorded in BASELINE.md — a gate can only
   *     assert non-regression without lying on a corpus whose
   *     misses aren't cross-cell);
   *   - `probe2_work_bounded`: distinct multi-probe candidate pairs
   *     ≤ 4× single-probe candidates + 64 on the subsample — the
   *     probes² collision bound as a measured tripwire (a hot
   *     runner-up cell that breaks the linear-work story trips it).
   *
   *  Scale shape: the three quadratic legs all run on the vec_id <
   *  [[SemDedupTruthCap]] prefix (fixed cost at every octave); the
   *  parity leg is one O(n) equi-join. */
  def q143SemDedupMultiProbe(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val cap = SemDedupTruthCap
    val parity = Similarity.withProbeCells(s, d, 2)
      .select(col("vec_id"), col("cells").getItem(0).as("c0"))
      .join(Similarity.withCell(s, d).select(col("vec_id"), col("cell")),
        Seq("vec_id"), "full")
      .agg(count(when(col("c0").isNull || col("cell").isNull ||
        col("c0") =!= col("cell"), 1)).as("mm"))
      .select((col("mm") === 0).as("parity_ok"))
    val truthDrops = semTruthDrops(s, d)
    val layoutCapped = s.read.parquet(Similarity.ivfLayoutDir(s, d))
      .select(col("vec_id"), col("cell").cast("int").as("cell"), col("v"))
      .filter(col("vec_id") < cap)
    val singleDrops = semDedupCappedPolicy(layoutCapped, SemDedupTau)
      .filter(col("dropped") === 1).select(col("vec_id"))
    val multiDrops = semDedupMultiProbeCapped(s, d, SemDedupTau)
      .filter(col("dropped") === 1).select(col("vec_id"))
    val flags = truthDrops.withColumn("t", lit(1))
      .join(singleDrops.withColumn("sp", lit(1)), Seq("vec_id"), "full")
      .join(multiDrops.withColumn("mp", lit(1)), Seq("vec_id"), "full")
      .agg(
        count(when(col("sp").isNotNull && col("mp").isNull, 1)).as("lost"),
        count(when(col("mp").isNotNull && col("t").isNull, 1)).as("extra"),
        count(when(col("t").isNotNull && col("sp").isNotNull, 1)).as("s_hit"),
        count(when(col("t").isNotNull && col("mp").isNotNull, 1)).as("m_hit"))
    val explodedCapped = Similarity.withProbeCells(s, d, 2)
      .filter(col("vec_id") < cap)
      .select(col("vec_id"), explode(col("cells")).as("cell"))
    val candM = explodedCapped.as("a").join(explodedCapped.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
      .agg(count(lit(1)).as("cand_m"))
    val single = layoutCapped.select(col("vec_id"), col("cell"))
    val candS = single.as("a").join(single.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .agg(count(lit(1)).as("cand_s"))
    parity.crossJoin(flags).crossJoin(candM).crossJoin(candS)
      .select(explode(array(
        struct(lit("probe2_gain").as("component"),
          (col("m_hit") >= col("s_hit")).as("ok")),
        struct(lit("probe2_primary_parity").as("component"),
          col("parity_ok").as("ok")),
        struct(lit("probe2_sound").as("component"),
          (col("extra") === 0).as("ok")),
        struct(lit("probe2_superset").as("component"),
          (col("lost") === 0).as("ok")),
        struct(lit("probe2_work_bounded").as("component"),
          (col("cand_m") <= col("cand_s") * 4 + 64).as("ok")))).as("r"))
      .select(col("r.component"), col("r.ok"))
      .orderBy(col("component"))
  }

  val q143Sql: String =
    """SELECT * FROM (VALUES
      | ('probe2_gain', true), ('probe2_primary_parity', true),
      | ('probe2_sound', true), ('probe2_superset', true),
      | ('probe2_work_bounded', true)
      |) t(component, ok) ORDER BY component""".stripMargin

  // ---------------------------------------------------------------
  // q114: EXACT similarity self-join via prefix filtering (no LSH,
  // no blocking key)
  // ---------------------------------------------------------------

  /** All shingle-set Jaccard pairs ≥ `threshold`, EXACTLY, via the
   *  prefix-filtering principle (Chaudhuri/Ganti/Kaushik SSJoin;
   *  Bayardo/Ma/Srikant all-pairs): order every set by one global
   *  rarity order (ascending corpus frequency); if jac(A,B) ≥ t then
   *  |A∩B| ≥ ⌈t·|A|⌉, so A and B MUST share an element inside their
   *  first n−⌈t·n⌉+1 elements — joining only those prefixes finds
   *  every qualifying pair with no false negatives, then an exact
   *  verification on the full sets removes false positives.
   *
   *  This is the third point in the engine's similarity-join design
   *  space: q23 is exact but needs a blocking key (lang) to bound the
   *  self-join; q22's banded MinHash scales unblocked but is
   *  probabilistic. Prefix filtering is exact AND unblocked — the
   *  join touches only each set's rarest few elements, so hot
   *  shingles ("the quick brown") never become join keys; skew is
   *  excluded by construction, not capped after the fact.
   *
   *  Scale: shingles carry a 128-bit internal key (two xxhash64
   *  streams, the q90 lesson — fixed-width agg state, narrow
   *  shuffle); the global order is (corpus_freq, k1, k2), realized
   *  per-doc by one window over the doc's own shingles (no global
   *  rank materialization); the candidate size-filter |B| ≥ ⌈t·|A|⌉
   *  and PPJoin's positional bound (see [[prefixCandidatePairs]])
   *  both prune before verification. */
  /** Verification-expansion budget (rows) before [[prefixJaccardPairs]]
   *  switches to chunked sequential verification. The expansion join
   *  (candidates × per-doc shingles) is the operator's one
   *  scratch-quadratic-feeling term: it is LINEAR in candidates but
   *  its shuffle lives all at once, and at the 1000× octave
   *  (~1.5·10⁸ candidates × ~200 shingles ≈ 3·10¹⁰ rows × 32 B) it
   *  alone exceeded this container's 64 GiB free scratch — the two
   *  round-11 `No space left on device` deaths. Chunking partitions
   *  the CANDIDATE space by pmod(xxhash64(doc_a, doc_b), C) — each
   *  pair's full co-occurrence count completes inside its own chunk,
   *  so chunks are disjoint final results, not partial counts — and
   *  runs one chunk's expansion at a time, checkpointing the
   *  pair-sized chunk results between passes, so peak scratch is 1/C
   *  of the single-pass plan at the cost of C probe passes over the
   *  (parked, pre-partitioned) shingle frame. Candidate-space (not
   *  shingle-space pmod(k1, C), the round-12 design) is the round-15
   *  cut from the stage-attributed 1000× dump: shingle-space chunking
   *  re-exchanged the cand frame and the sh slices once per pass and
   *  re-aggregated cross-chunk partials (~7.2·10⁹ total shuffle rows
   *  at 1000×); with the sh frame parked hash-partitioned by doc_id
   *  and the chunk classes keyed on the pair, every per-chunk join is
   *  exchange-free on the sh side and the pair aggregate inherits the
   *  join's doc_b partitioning — the only per-chunk exchanges are the
   *  chunk's own candidate slice and its expansion rows, each moved
   *  exactly once. The 5·10⁸-row default budgets ~20 GB raw
   *  (~10 GB lz4'd — the hash columns barely compress) of live
   *  expansion shuffle per chunk: sf0.1 and below stay single-pass
   *  (≤10⁸ expansion rows — identical result, C = 1), 100× runs
   *  C = 2, and 1000× lands C = 16. On a real cluster per-executor
   *  scratch is ~1000× larger and the budget env
   *  (SPARK_GRAFT_Q114_MAX_EXPANSION) lifts accordingly. */
  private val Q114MaxExpansionRows: Long =
    sys.env.get("SPARK_GRAFT_Q114_MAX_EXPANSION").map(_.toLong)
      .getOrElse(500000000L)

  /** One verification pass: count shared shingles per candidate pair
   *  by probing the pair slice into the parked shingle frame twice.
   *  Factored out of [[prefixJaccardPairs]] so PlanQualitySpec can
   *  pin the exchange inventory on a controlled fixture: with `sh`
   *  hash-partitioned by doc_id and sorted (doc_id, k1, k2), this
   *  fragment plans exactly TWO exchanges — the candidate slice
   *  (pair-sized) and the expansion re-key to doc_b — while the
   *  parked frame and the pair aggregate never exchange. */
  private[ops] def verificationCo(candPart: DataFrame, sh: DataFrame): DataFrame =
    candPart
      .join(sh.select(col("doc_id").as("doc_a"), col("k1"), col("k2")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("k1"), col("k2")),
        Seq("doc_b", "k1", "k2"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("co"))

  def prefixJaccardPairs(docs: DataFrame, threshold: Double,
      maxExpansionRows: Long = Q114MaxExpansionRows): DataFrame = {
    // Park the shingle frame ONCE, hash-partitioned by doc_id and
    // sorted (doc_id, k1, k2) — the graph build's `li` device
    // (ops/Graph.scala pageRank persist). This frame feeds FIVE
    // downstream references (freq, prefix window, both verification
    // joins, sizes); DISK_ONLY persist materializes the shingling
    // flatMap once (the round-12 localCheckpoint motive) AND — unlike
    // localCheckpoint, which degrades to Scan ExistingRDD and loses
    // its partitioning (pinned by PlanQualitySpec's "q160/q171
    // pre-partitioned persisted edge frames" test) — retains the
    // HashPartitioning + ordering, so every verification join below
    // is exchange-free and sort-free on the sh side. The round-14
    // stage-attributed 1000× dump showed the old checkpointed frame's
    // slices re-exchanged once per chunk pass — the bulk of 7.2·10⁹
    // total shuffle rows; parking it partitioned is the named cut.
    // storage tier by corpus size (measured round 15): DISK_ONLY at
    // every octave cost ~1.7× wall at sf0.1 — five downstream reads
    // each paying disk+lz4 where the old checkpoint was memory-
    // resident. Below ~1 M docs (≲5 GB deserialized shingles) the
    // parked frame rides MEMORY_AND_DISK; past that, DISK_ONLY keeps
    // the unified pool free for the expansion joins (the graph edge-
    // frame rule). Same partitioning either way — plan and results
    // are tier-independent.
    val parkLevel =
      if (docs.select(col("doc_id")).count() <= 1000000L)
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      else org.apache.spark.storage.StorageLevel.DISK_ONLY
    val sh = shingleRows(docs)
      .select(col("doc_id"),
        xxhash64(col("s")).as("k1"), xxhash64(col("s"), lit(1)).as("k2"))
      .repartition(col("doc_id"))
      .sortWithinPartitions(col("doc_id"), col("k1"), col("k2"))
      .persist(parkLevel)
    // doc_id-partitioned input ⇒ this aggregate is itself exchange-free
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val stats = sizes.agg(count(lit(1)).as("docs"), sum(col("n")).as("tot")).head()
    val totShingles = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    // checkpoint the candidate set: it is pair-sized (≪ shingle rows),
    // the chunk decision needs its count anyway, and the checkpoint
    // cuts lineage so the candidate stage's shuffles (freq, window,
    // prefix join) become reclaimable before the expansion passes
    // need the scratch
    val cand = prefixCandidatePairs(sh, sizes, threshold, positional = true)
      .localCheckpoint()
    val avgN = if (stats.getLong(0) == 0L) 0.0
      else totShingles.toDouble / stats.getLong(0)
    val expansionEst = cand.count() * avgN
    val chunks = math.min(16L,
      math.max(1L, math.ceil(expansionEst / maxExpansionRows).toLong)).toInt

    // One chunk's verification: probe the pair slice into the parked
    // shingle frame twice. Exchange inventory per chunk — the entire
    // point of the round-15 shape:
    //   join 1 (on doc_a): candPart exchanges (pair-sized / C); the sh
    //     side's HashPartitioning(doc_id) + (doc_id, k1, k2) ordering
    //     satisfy SMJ's distribution AND ordering — no exchange, no
    //     sort. Output inherits doc_a partitioning.
    //   join 2 (on doc_b, k1, k2): the sh side's doc_id partitioning
    //     is a subset of the join keys, so only the expansion side
    //     exchanges — re-keyed to HashPartitioning(doc_b) to stay
    //     co-partitioned with the parked frame (Spark's subset-key
    //     shuffle spec) — and the sh side again needs no exchange and
    //     no sort.
    //   pair aggregate: the join output's doc_b partitioning is a
    //     subset of the (doc_a, doc_b) grouping keys — NO exchange;
    //     per-task hash state is the partition's pair count.
    // So each expansion row moves exactly once, and the parked frame
    // never moves at all. (PlanQualitySpec pins the zero-sh-side-
    // exchange shape; BenchOne's widest-exchange tripwire guards the
    // row mass at the bench level.)
    def coOf(candPart: DataFrame): DataFrame = verificationCo(candPart, sh)

    val co =
      if (chunks == 1) coOf(cand)
      else {
        // sequential chunk loop over DISJOINT candidate classes
        // (pmod of the pair hash — skew-free regardless of clone
        // structure): each pass expands only its pairs, checkpoints
        // the pair-sized FINAL counts for that class (candidate-space
        // chunking needs no cross-chunk re-aggregation — a pair's
        // whole count lives in its own chunk), and lets the finished
        // pass's expansion shuffle files be reclaimed (the GC nudge)
        // before the next pass starts.
        val parts = (0 until chunks).map { c =>
          val slice = cand.filter(
            pmod(xxhash64(col("doc_a"), col("doc_b")), lit(chunks.toLong))
              === lit(c.toLong))
          val done = coOf(slice).localCheckpoint()
          System.gc()
          // let the async cleaner actually unlink (1000×-class only —
          // the small-C octaves don't carry the scratch pressure)
          if (chunks >= 4) Thread.sleep(3000)
          done
        }
        parts.reduce(_ union _)
      }
    co.join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      // raw division: BASELINE.md's rational-rounding rule
      .withColumn("jaccard",
        col("co") * lit(1.0) / (col("n_a") + col("n_b") - col("co")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("co"), col("n_a"), col("n_b"),
        col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The candidate stage of [[prefixJaccardPairs]], factored so the
   *  spec can measure the positional filter's pruning. With
   *  `positional` on, PPJoin's positional upper bound (Xiao/Wang/Lin/
   *  Yu, "Efficient Similarity Joins for Near Duplicate Detection")
   *  runs on every prefix match BEFORE the distinct: a match at
   *  (1-based) rarity-order positions (iₐ, i_b) bounds the overlap by
   *  1 + min(|A|−iₐ, |B|−i_b) — every other common element sits
   *  strictly after both positions. The FIRST common element in the
   *  global order realizes the tightest such bound and lies inside
   *  both prefixes for any qualifying pair, so requiring the bound to
   *  reach the minimum overlap α = t/(1+t)·(|A|+|B|) prunes with ZERO
   *  false negatives. The exact-rational ceil is deliberately dropped
   *  and an epsilon subtracted: FP rounding can then only WEAKEN the
   *  prune, never break exactness.
   *
   *  Adjudicated NON-change (round 13, verdict ask 3): PPJoin's
   *  index-prefix asymmetry — joining only the smaller side's SHORT
   *  prefix (n − ⌈2t/(1+t)·n⌉ + 1 positions) — was implemented,
   *  measured, and REVERTED. Under the positional filter it is
   *  mathematically redundant: for the smaller side X,
   *  1 + n_x − pos_x ≥ α ≥ 2t/(1+t)·n_x already forces pos_x inside
   *  the short index prefix, so the filtered match set is IDENTICAL
   *  and the distinct's input does not shrink. Making the join sides
   *  asymmetric also breaks exchange reuse (Catalyst pushes the
   *  one-sided filter down), which forced a corpus-sized barrier.
   *  Same-day 1000× A/B (BenchOne, 48 g, 128 partitions):
   *  symmetric 889.4 s / 160.0 GiB / 7.246e9 shuffle rows vs
   *  asymmetric+barrier 950.9 s / 162.0 GiB / 7.314e9 — +7% wall,
   *  +1% shuffle; 100× A/B was a wash. The index prefix only pays in
   *  systems that do NOT apply the positional filter before
   *  materializing candidates. */
  private[ops] def prefixCandidatePairs(sh: DataFrame, sizes: DataFrame,
      threshold: Double, positional: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Corpus frequency as a WINDOW over one (k1, k2) exchange, not
    // groupBy+join (round 15, from the 1000× stage dump): the old
    // freq aggregate exchanged the full shingle frame for its partial
    // agg AND again for the join side — two ~corpus-sized exchanges
    // plus the aggregate's distinct-shingle output moved for nothing
    // a count-over-partition doesn't deliver on the same exchange.
    val withCnt = sh.select(col("doc_id"), col("k1"), col("k2"))
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy(col("k1"), col("k2"))))
    val prefix = withCnt
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("cnt"), col("k1"), col("k2"))))
      .join(sizes, Seq("doc_id"))
      // ε inside every ceil: n·t computed in FP can land one ulp ABOVE
      // the exact rational (e.g. 100·0.07 → 7.000000000000001, ceil 8
      // instead of 7), which would make a lossless prune drop a
      // qualifying pair. Subtracting ε first means rounding error can
      // only WEAKEN the prune — the positional filter below applies
      // the same guard for the same reason.
      .filter(col("pos") <= col("n") - ceil(col("n") * threshold - 1e-9) + 1)
      .select(col("doc_id"), col("k1"), col("k2"), col("n"), col("pos"))
      // materialize ONCE before the self-join below: without this the
      // dual subtree evaluation re-ran the whole prefix build —
      // 2 window exchanges + the frequency pass, all ×2 — and exchange
      // reuse demonstrably did not fire across the aliased sides
      // (stage twins 13/14, 15/16, 19/22, 26/30 in the 1000× dump).
      // Prefix rows are ~40% of the shingle frame; the checkpoint also
      // lets the self-join's two (k1, k2) exchanges collapse into one
      // reused stage (identical canonical children).
      .localCheckpoint()
    val matched = prefix.select(col("doc_id").as("doc_a"), col("k1"), col("k2"),
        col("n").as("n_a"), col("pos").as("pos_a"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("k1"), col("k2"),
        col("n").as("n_b"), col("pos").as("pos_b")), Seq("k1", "k2"))
      .filter(col("doc_a") < col("doc_b") &&
        col("n_b") >= ceil(col("n_a") * threshold - 1e-9) &&
        col("n_a") >= ceil(col("n_b") * threshold - 1e-9))
    val pruned =
      if (!positional) matched
      else matched.filter(
        lit(1.0) + least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b"))
          >= lit(threshold / (1.0 + threshold)) * (col("n_a") + col("n_b"))
            - lit(1e-9))
    // Fold the pair-dedup into a doc_a-grouped SET build instead of a
    // row-per-occurrence distinct (round-14, verdict ask 2). At ≤10×
    // the prefix join broadcasts and its output keeps the window's
    // doc_id(=doc_a) partitioning, so distinct was already
    // exchange-free; at 1000× the join is an SMJ partitioned by
    // (k1, k2) and distinct() re-exchanged one row per surviving
    // (pair, shared-prefix-element) hit — ~3·10⁹ rows, the operator's
    // widest shuffle (measured, BASELINE.md round-13). Near-dup pairs
    // share MANY prefix elements, so the same pair recurs across
    // element partitions where a pair-keyed partial aggregate can
    // merge almost nothing (27 hits spread over 128 partitions ≈ 24
    // distinct partitions). Grouping by doc_a packs each partition's
    // pairs into per-doc sets FIRST: the exchange then carries one row
    // per (doc_a, partition) with doc_bs as an array — the same pairs
    // in ~5× fewer, better-packed rows — and collect_set's partial
    // merge performs exactly the dedup distinct() did. explode()
    // restores identical (doc_a, doc_b) rows; set size is bounded by
    // the candidate fan-out per doc (clone-cluster width), vertex-
    // sized, never corpus-sized.
    //
    // HARD LIMIT (advice round-14, documented): per-group memory is
    // 8 B × a doc's candidate neighborhood, held in ONE task's final
    // merge — a degenerate corpus where one doc_a near-dups W others
    // costs 8·W bytes there (W = 10⁷ clones ≈ 80 MB, within a task;
    // W = 10⁹ would not be). distinct() streamed that case but paid
    // the measured ~3·10⁹-row exchange on the REAL corpus shape.
    // The trade is deliberate: a candidate set from a t ≥ 0.4 prefix
    // filter cannot contain a super-corpus-width clone cluster
    // without the corpus itself being ~all clones, at which point
    // the verification expansion (|cluster|² pairs) is the binding
    // cost long before this set is. If that corpus class ever
    // matters, the fallback is one line: distinct() instead of the
    // grouped set build — same rows, streaming dedup.
    pruned.groupBy(col("doc_a"))
      .agg(collect_set(col("doc_b")).as("bs"))
      .select(col("doc_a"), explode(col("bs")).as("doc_b"))
  }

  /** q114: exact unblocked Jaccard ≥ 0.6 over 3-gram shingle sets —
   *  the brute-force oracle proves the prefix filter lost nothing. */
  def q114PrefixJoin(s: SparkSession, d: String): DataFrame =
    prefixJaccardPairs(documents(s, d), 0.6)

  /** Brute-force oracle: every co-occurring pair, no blocking, no
   *  prefix — identical output proves zero false negatives. */
  val q114Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \t\n\v\f\r]+|[ \t\n\v\f\r]+$', '', 'g'), '[ \t\n\v\f\r]+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g
      |  WHERE len(t) >= 3),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |co AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS co
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, co, sa.n AS n_a, sb.n AS n_b,
      | co * 1.0 / (sa.n + sb.n - co) AS jaccard
      |FROM co JOIN sz sa ON co.doc_a = sa.doc_id
      |        JOIN sz sb ON co.doc_b = sb.doc_id
      |WHERE co * 1.0 / (sa.n + sb.n - co) >= 0.6
      |ORDER BY doc_a, doc_b""".stripMargin

  val q92Sql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |drops AS (
      |  SELECT b.vec_id, min(a.vec_id) AS keeper_id
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      |  WHERE round(list_dot_product(a.v, b.v)
      |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45
      |  GROUP BY b.vec_id)
      |SELECT e.vec_id, e.label,
      | CASE WHEN d.keeper_id IS NOT NULL THEN 1 ELSE 0 END AS dropped,
      | d.keeper_id
      |FROM e LEFT JOIN drops d ON e.vec_id = d.vec_id
      |ORDER BY e.vec_id""".stripMargin
}
