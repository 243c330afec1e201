package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Corpus-curation operators a training-data pipeline runs between
 * dedup and training: benchmark decontamination, deterministic
 * stratified sampling, domain-mix allocation, and dedup-cluster
 * formation. All are built from shuffles that stay proportional to
 * the data actually at issue (benchmark n-grams, near-dup edges) —
 * never all-pairs over the corpus.
 */
object Curation {
  import Tables._

  /** Exploded distinct (doc_id, g) word n-grams via one typed
   *  flatMap — same rationale as Dedup.shingleRows (a column-expr
   *  formulation re-splits per element once Catalyst inlines the
   *  projection). Guard `>= n`: Scala's sliding emits one SHORT
   *  window for under-length input where the oracle's
   *  generate_series is empty. */
  private[ops] def ngramRows(docs: DataFrame, n: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text0) =>
        val toks = Option(text0).getOrElse("").trim
          .split("\\s+").filterNot(_.isEmpty)
        if (toks.length < n) Iterator.empty
        else toks.sliding(n).map(_.mkString(" ")).toSet[String]
          .iterator.map(g => (id, g))
      }
      .toDF("doc_id", "g")
  }

  /** Benchmark decontamination (the GPT-3/Gopher n-gram overlap
   *  check): for every corpus document sharing at least one word
   *  `n`-gram with a benchmark document, report the shared-gram
   *  count and the fraction of that benchmark doc it covers.
   *
   *  Scale shape: the benchmark side is small by nature (eval sets,
   *  not corpora) — its distinct n-grams are broadcast, so the
   *  corpus side stays a single scan-local flatMap + one hash
   *  aggregation on (doc_id, bench_id); no corpus self-join
   *  anywhere. Returns (doc_id, bench_id, shared, bn, frac). */
  def contamination(corpus: DataFrame, bench: DataFrame, n: Int): DataFrame = {
    val bg = ngramRows(bench, n).withColumnRenamed("doc_id", "bench_id")
    val bsz = bg.groupBy(col("bench_id")).agg(count(lit(1)).as("bn"))
    ngramRows(corpus, n)
      .join(broadcast(bg), "g")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(bsz), "bench_id")
      .select(col("doc_id"), col("bench_id"), col("shared"), col("bn"),
        // raw division — identical integers → identical doubles in
        // both engines; round(…,6) on a rational risks the 7th-decimal
        // half-boundary split (see Dedup.jaccardFromCo)
        (col("shared") * lit(1.0) / col("bn")).as("frac"))
  }

  /** q71: decontaminate `documents` against a deterministic held-out
   *  "benchmark" slice (doc_id ≡ 0 mod 49 — chosen so the slice
   *  contains docs with planted near-duplicates) using the standard
   *  8-gram test. On the provisioned corpus this flags exactly the
   *  planted near-dups of benchmark members and nothing else (the
   *  background noise floor is zero at n=8). The 1/49 slice is a
   *  fixture artifact; real benchmarks are fixed-size, making the
   *  broadcast side O(benchmark), not O(corpus). */
  def q71Contamination(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val isBench = pmod(col("doc_id"), lit(49)) === 0
    contamination(docs.filter(!isBench), docs.filter(isBench), n = 8)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  val q71Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |   list_filter(string_split_regex(trim(text), '[ \t\n\v\f\r]+'), x -> x <> '') AS t
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-7),
      |      i -> array_to_string(t[i:i+7], ' '))) AS g
      |    FROM toks)),
      |bench AS (SELECT doc_id AS bench_id, g FROM g WHERE doc_id % 49 = 0),
      |corpus AS (SELECT doc_id, g FROM g WHERE doc_id % 49 <> 0),
      |bsz AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS bn FROM bench GROUP BY 1),
      |hits AS (
      |  SELECT c.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS shared
      |  FROM corpus c JOIN bench b USING (g)
      |  GROUP BY 1, 2)
      |SELECT h.doc_id, h.bench_id, h.shared, s.bn,
      |       h.shared * 1.0 / s.bn AS frac
      |FROM hits h JOIN bsz s USING (bench_id)
      |ORDER BY h.doc_id, h.bench_id""".stripMargin

  /** Per-language sampling budgets in buckets-of-10000: a training
   *  mix that up-samples English and down-samples zh, applied
   *  DETERMINISTICALLY so any engine (and any re-run over 100 TB)
   *  selects the identical document set — no RNG, no seed-drift
   *  between Spark and the oracle. */
  private val SampleBuckets: Seq[(String, Int)] =
    Seq("en" -> 5000, "de" -> 3000, "es" -> 2000, "fr" -> 2000, "zh" -> 1000)
  private val DefaultBuckets = 500

  /** Knuth-style multiplicative bucket in [0, 10000): pure BIGINT
   *  arithmetic (LCG constants) that both engines evaluate exactly.
   *  The id is reduced mod 10⁴ BEFORE the multiply — identical result
   *  ((a·b+c) mod m = ((a mod m)(b mod m)+c) mod m; 1103515245 mod
   *  10⁴ = 5245) but overflow-free for ANY doc_id: the naive product
   *  exceeds int64 for ids ≥ ~8.4e9 (ScaleGen's shifted keys hit
   *  this; ANSI mode aborts on overflow rather than wrap). */
  private[ops] def sampleBucket(id: org.apache.spark.sql.Column) =
    pmod(pmod(id, lit(10000L)) * lit(5245L) + lit(12345L), lit(10000L))

  /** q72: deterministic stratified sampling — keep a document iff
   *  its bucket falls under its language's budget. A pure per-row
   *  projection + filter: runs at scan speed, fully pushed down,
   *  and idempotent across re-runs and engines (the property that
   *  matters when a 100 TB sample must be reproducible for a
   *  training-run audit). */
  def q72StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val budget = SampleBuckets.foldRight(lit(DefaultBuckets)) {
      case ((l, n), acc) => when(col("lang") === l, lit(n)).otherwise(acc)
    }
    documents(s, d)
      .withColumn("bucket", sampleBucket(col("doc_id")))
      .filter(col("bucket") < budget)
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  val q72Sql: String =
    """WITH b AS (
      |  SELECT doc_id, lang, source,
      |   ((doc_id % 10000) * 5245 + 12345) % 10000 AS bucket
      |  FROM documents)
      |SELECT doc_id, lang, source, bucket FROM b
      |WHERE bucket < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 3000
      |                WHEN 'es' THEN 2000 WHEN 'fr' THEN 2000
      |                WHEN 'zh' THEN 1000 ELSE 500 END
      |ORDER BY doc_id""".stripMargin

  /** Target mix weights per source domain (a DoReMi-style training
   *  mix): three named heavyweight domains, a uniform tail. Weights
   *  need not sum to 1 — allocation normalizes through the binding
   *  constraint. */
  private[ops] def domainWeight(src: org.apache.spark.sql.Column) =
    when(src === "src0", 0.30)
      .when(src === "src1", 0.20)
      .when(src === "src2", 0.15)
      .otherwise(0.0125)

  /** q74: domain-mix allocation — the largest single-epoch token
   *  budget that honors the target mix without oversampling any
   *  domain: scale = min over domains of available/weight; each
   *  domain contributes floor(weight·scale) tokens. One hash
   *  aggregation over the corpus (map-side partials) + a 20-row
   *  broadcast of the binding-constraint scalar; at 100 TB the only
   *  full-data pass is the token count. */
  def q74DomainMix(s: SparkSession, d: String): DataFrame = {
    val avail = documents(s, d)
      .select(col("source"), TextAnalysis.tokenCount(col("text")).as("toks"))
      .groupBy(col("source")).agg(sum(col("toks")).as("avail_tokens"))
      .withColumn("weight", domainWeight(col("source")))
    val scale = avail.agg(min(col("avail_tokens") / col("weight")).as("scale"))
    avail.crossJoin(broadcast(scale))
      .withColumn("alloc_tokens",
        floor(col("weight") * col("scale")).cast("long"))
      .select(col("source"), col("avail_tokens"), col("weight"),
        col("alloc_tokens"),
        (col("alloc_tokens") * lit(1.0) / col("avail_tokens")).as("sample_frac"))
      .orderBy(col("source"))
  }

  val q74Sql: String =
    """WITH avail AS (
      |  SELECT source,
      |   CAST(sum(len(regexp_extract_all(text, '[^ \t\n\v\f\r]+'))) AS BIGINT) AS avail_tokens,
      |   CAST(CASE source WHEN 'src0' THEN 0.30 WHEN 'src1' THEN 0.20
      |        WHEN 'src2' THEN 0.15 ELSE 0.0125 END AS DOUBLE) AS weight
      |  FROM documents GROUP BY source),
      |s AS (SELECT min(avail_tokens / weight) AS scale FROM avail)
      |SELECT source, avail_tokens, weight,
      |  CAST(floor(weight * scale) AS BIGINT) AS alloc_tokens,
      |  CAST(floor(weight * scale) AS BIGINT) * 1.0 / avail_tokens AS sample_frac
      |FROM avail, s ORDER BY source""".stripMargin

  /** The round bound of the near-dup clusters' connected components
   *  ([[Graph.connectedComponents]] over the symmetrized pairs; q180's
   *  entity links use it too). Near-dup clusters are dense blobs around
   *  a template, so 3-4 rounds close even web-scale corpora; the bound
   *  caps an adversarial path-shaped graph, which then ends with a
   *  partial labeling rather than spinning (OpsInvariantsSpec pins both
   *  sides of the bound). */
  private[ops] val ClusterRounds = 20

  /** Their edge tier: the rounds read the checkpointed link set
   *  ([[Graph.undirected]]) in place and keep nothing past the call.
   *  A link set is rebuilt on every call, and a persisted copy whose
   *  plan the next call cannot match (the shingling closure of q76 and
   *  q94 never matches) would stay cached once per call. There are no
   *  co-purchase chunks to evict. */
  private[ops] val ClusterTier = Graph.EdgeTier(StorageLevel.NONE)

  /** q76: dedup-cluster formation — group the exact-Jaccard near-dup
   *  pairs (q23's edges, threshold 0.6) into clusters; cluster id =
   *  min doc_id of the component (so the "keeper" under
   *  keep-smallest dedup is the cluster id itself), plus the
   *  component size. This is the step between pairwise similarity
   *  and an actual dedup decision when duplicates chain (A~B, B~C
   *  but A!~C): pairwise keep-smallest would keep A and C; the
   *  component view keeps only A. */
  def q76DedupClusters(s: SparkSession, d: String): DataFrame = {
    val edges = Dedup.jaccardPairs(documents(s, d), 0.6)
      .select(col("doc_a"), col("doc_b"))
    val labels = Graph.connectedComponents(Graph.undirected(edges, "doc_a", "doc_b"),
      ClusterTier, ClusterRounds)
    // sizes is bounded by the cluster count — usually tiny, but a
    // pathological boilerplate-heavy corpus could make it large, so
    // no mandatory broadcast hint: AQE picks broadcast when the
    // materialized size permits, else a plain shuffle of tiny data
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("csize"))
    labels.join(sizes, "label")
      .select(col("node").as("doc_id"), col("label").as("cluster"), col("csize"))
      .orderBy(col("doc_id"))
  }

  /** The Jaccard-cluster CTE chain (3-token shingles, 0.6 threshold,
    * recursive reachability, min-label clusters) shared VERBATIM by
    * q76Sql/q94Sql/q95Sql — one copy, so the tokenization and the
    * threshold cannot drift between the three oracles. Plain (non-
    * interpolated) string: the regex `$` anchor stays literal, and
    * interpolating it as a VALUE into the composed s-strings below
    * does not re-scan its content. */
  private val ClusterCtes: String = """toks AS (
      |  SELECT doc_id, lang, string_split_regex(regexp_replace(text, '^[ \t\n\v\f\r]+|[ \t\n\v\f\r]+$', '', 'g'), '[ \t\n\v\f\r]+') AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |co AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS co
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM co JOIN sizes sa ON co.doc_a = sa.doc_id
      |          JOIN sizes sb ON co.doc_b = sb.doc_id
      |  WHERE co * 1.0 / (sa.n + sb.n - co) >= 0.6),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
      |labels AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)"""

  /** The quality + cluster + representative CTEs shared by q94Sql and
    * q95Sql (rides [[ClusterCtes]]' labels). */
  private def repCtes(stop: String): String =
    s"""q AS (
      |  SELECT doc_id,
      |   CAST(least(len(regexp_extract_all(text, '[^ \\t\\n\\v\\f\\r]+')), 100)
      |        + 2*($stop)
      |        - len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n\\v\\f\\r]')) AS BIGINT) AS quality_score
      |  FROM documents),
      |cl AS (
      |  SELECT q.doc_id, coalesce(l.cluster, q.doc_id) AS cluster, q.quality_score
      |  FROM q LEFT JOIN labels l ON q.doc_id = l.id),
      |reps AS (
      |  SELECT cluster, doc_id AS rep_id FROM (
      |    SELECT cluster, doc_id,
      |     row_number() OVER (PARTITION BY cluster
      |       ORDER BY quality_score DESC, doc_id) AS rn
      |    FROM cl) t WHERE rn = 1)"""

  val q76Sql: String =
    s"""WITH RECURSIVE $ClusterCtes
      |SELECT l.id AS doc_id, l.cluster,
      |       CAST(count(*) OVER (PARTITION BY l.cluster) AS BIGINT) AS csize
      |FROM labels l ORDER BY doc_id""".stripMargin

  /** q81: weighted reservoir sampling per group (Efraimidis–Spirakis
   *  A-ES): keep the k docs per language with the largest priority
   *  u^(1/w) ⇔ largest ln(u)/w, where w is the document's weight
   *  (n_chars here — longer docs proportionally likelier) and u is a
   *  DETERMINISTIC uniform derived from doc_id by the same LCG bucket
   *  as q72 — so the 100 TB sample is reproducible across engines and
   *  re-runs, auditable by the oracle. Priorities are quantized to
   *  integral micro-units so ordering is exact long comparison.
   *
   *  Scale shape: the selection rides [[graft.functions.TopK]] — a
   *  bounded per-group heap with map-side partial merges (O(n log k),
   *  ships k rows per partition), NOT a window sort of every group. */
  def q81WeightedSample(s: SparkSession, d: String): DataFrame = {
    graft.functions.TopK.register(s)
    val k = 20
    val u = (sampleBucket(col("doc_id")).cast("double") + 0.5) / 10000.0
    val prio = round(log(u) / greatest(col("n_chars"), lit(1L)) * 1e6).cast("long")
    documents(s, d)
      .withColumn("prio", prio)
      .groupBy(col("lang"))
      .agg(graft.functions.TopK.topk(col("prio"), col("doc_id"), k).as("sel"))
      .select(col("lang"), posexplode(col("sel")).as(Seq("pos", "s")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rnk"),
        col("s.payload").as("doc_id"), col("s.v").as("prio_micro"))
      .orderBy(col("lang"), col("rnk"))
  }

  val q81Sql: String =
    """WITH p AS (
      |  SELECT lang, doc_id,
      |   CAST(round(ln((((doc_id % 10000) * 5245 + 12345) % 10000 + 0.5) / 10000.0)
      |     / greatest(n_chars, 1) * 1000000) AS BIGINT) AS prio
      |  FROM documents),
      |r AS (
      |  SELECT lang, doc_id, prio,
      |   row_number() OVER (PARTITION BY lang ORDER BY prio DESC, doc_id) AS rn
      |  FROM p)
      |SELECT lang, CAST(rn AS BIGINT) AS rnk, doc_id, prio AS prio_micro
      |FROM r WHERE rn <= 20 ORDER BY lang, rnk""".stripMargin

  // ----- greedy sequence packing (context-window bin assignment) -----

  /** Token budget per packed sequence for q93 (a context-window
   *  stand-in; docs here average ~50 whitespace tokens, so ~5 docs
   *  pack per bin). */
  val PackCap = 256L

  /** Greedy first-fit-sequential packing of documents into
   *  fixed-token-budget bins, per source: walk each source's docs in
   *  doc_id order, open a new bin whenever the next doc would
   *  overflow the cap (an oversized doc still gets its own bin).
   *  This is the sequence-packing step of LLM pre-training prep —
   *  deciding which documents share a context window.
   *
   *  Packing is inherently sequential WITHIN a shard — the bin of
   *  doc i depends on every doc before it — so the distribution
   *  contract is per-group: `groupByKey(source)` +
   *  `flatMapSortedGroups` gives each group a sorted, spill-backed
   *  iterator on one executor while all groups run in parallel. At
   *  100 TB the group key is whatever bounds a shard (source ×
   *  day, path prefix); no driver collect, no global sort, one
   *  shuffle on the group key. */
  def q93SeqPacking(s: SparkSession, d: String): DataFrame =
    packGreedy(documents(s, d)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      PackCap)
      .orderBy(col("doc_id"))

  /** The packing fold over a (doc_id, source, n_tokens) frame —
   *  factored so the spec can replay it on synthetic shapes
   *  (oversized docs, empty groups). */
  private[ops] def packGreedy(docs: DataFrame, cap: Long): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("source"), col("n_tokens"))
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapSortedGroups(col("doc_id")) { (src: String, it: Iterator[(Long, String, Long)]) =>
        var bin = 0L
        var fill = 0L
        var first = true
        it.map { case (id, _, nt) =>
          // `!first`, not `fill > 0`: the oracle's recursion applies
          // the cap test to every non-first doc, and a zero-token doc
          // can leave fill at 0 MID-stream — a fill-based guard would
          // then keep a following oversized doc in the current bin
          // while the SQL recursion opens a new one
          if (!first && fill + nt > cap) { bin += 1; fill = nt }
          else fill += nt
          first = false
          (id, src, nt, bin, fill)
        }
      }
      .toDF("doc_id", "source", "n_tokens", "bin", "bin_fill")
  }

  /** The oracle replays the same greedy fold as a recursive CTE that
   *  advances one row per source per step — O(max rows per source)
   *  iterations, each joining the 20-row frontier. */
  val q93Sql: String =
    s"""WITH RECURSIVE d AS (
      |  SELECT doc_id, source,
      |   CAST(len(regexp_extract_all(text, '[^ \\t\\n\\v\\f\\r]+')) AS BIGINT) AS n_tokens,
      |   row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents),
      |pack(doc_id, source, n_tokens, rn, bin, bin_fill) AS (
      |  SELECT doc_id, source, n_tokens, rn, CAST(0 AS BIGINT), n_tokens
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.doc_id, d.source, d.n_tokens, d.rn,
      |   CASE WHEN p.bin_fill + d.n_tokens > $PackCap THEN p.bin + 1 ELSE p.bin END,
      |   CASE WHEN p.bin_fill + d.n_tokens > $PackCap THEN d.n_tokens
      |        ELSE p.bin_fill + d.n_tokens END
      |  FROM pack p JOIN d ON d.source = p.source AND d.rn = p.rn + 1)
      |SELECT doc_id, source, n_tokens, bin, bin_fill
      |FROM pack ORDER BY doc_id""".stripMargin

  // ----- dedup-cluster representative selection (keep-best) -----

  /** q94: keep-BEST-quality dedup — q76's near-dup clusters, but the
   *  survivor of each cluster is the highest-quality member (q29's
   *  shared quality score; ties to the smaller doc_id) instead of
   *  blindly keeping the smallest id. This is the policy real
   *  curation pipelines want: near-dup groups usually contain one
   *  clean original and N mangled copies, and min-id keeps whichever
   *  happened to be crawled first. Docs with no near-dup edge are
   *  their own singleton cluster and representative.
   *
   *  Cost on top of q76: one scan-local quality projection, a left
   *  join of labels onto the corpus, and a per-cluster argmax
   *  (row_number window on the cluster key — clusters are tiny by
   *  construction, so the window partition never skews). */
  def q94ClusterKeepBest(s: SparkSession, d: String): DataFrame =
    keepBestFor(s, d).orderBy(col("doc_id"))

  /** q94 and q95 consume the IDENTICAL clustered keep-best frame
   *  (Jaccard edges → connected components → per-cluster argmax);
   *  it is materialized once per corpus content key
   *  ([[CorpusArtifacts]]), so a verify/bench run pays for the edge
   *  set and the CC iteration once, not once per query. Row footprint
   *  is one small struct per document (5 cols), pinned while the
   *  documents keep that key. */
  private def keepBestFor(s: SparkSession, d: String): DataFrame =
    CorpusArtifacts.memo(s, "keep_best", d, "documents")(
      clusterKeepBest(documents(s, d)).localCheckpoint(true))

  /** Core of q94 over any (doc_id, lang, text) frame. */
  private[ops] def clusterKeepBest(docs: DataFrame,
      threshold: Double = 0.6): DataFrame = {
    val edges = Dedup.jaccardPairs(docs, threshold).select(col("doc_a"), col("doc_b"))
    val labels = Graph.connectedComponents(Graph.undirected(edges, "doc_a", "doc_b"),
      ClusterTier, ClusterRounds)
    val quality = docs.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).cast("long").as("quality_score"))
    val clustered = quality
      .join(labels.select(col("node").as("doc_id"), col("label")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster"),
        col("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    val reps = clustered.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("rep_id"))
    clustered.join(reps, "cluster")
      .select(col("doc_id"), col("cluster"), col("quality_score"), col("rep_id"),
        when(col("doc_id") === col("rep_id"), 1).otherwise(0).as("is_rep"))
  }

  /** q95: leakage-safe train/holdout split — the split decision is
   *  made ONCE PER NEAR-DUP CLUSTER (hash of the cluster's
   *  keep-best representative), so no near-duplicate pair can
   *  straddle train and holdout and leak eval data into training.
   *  A per-document hash split (the naive approach) puts ~2·p·(1-p)
   *  of every duplicated pair across the boundary; splitting by
   *  cluster representative makes that structurally zero. The
   *  bucket uses q72's overflow-safe multiplicative LCG, so the
   *  assignment is reproducible across engines and re-runs (the
   *  audit property a 100 TB training run needs). Cost on top of
   *  q94: one per-row projection. */
  def q95LeakageSafeSplit(s: SparkSession, d: String): DataFrame =
    keepBestFor(s, d)
      .withColumn("bucket", sampleBucket(col("rep_id")))
      .select(col("doc_id"), col("cluster"), col("rep_id"), col("bucket"),
        when(col("bucket") < 9000, "train").otherwise("holdout").as("split"))
      .orderBy(col("doc_id"))

  val q95Sql: String = {
    val stop = TextAnalysis.StopWords
      .map(w => s"len(regexp_extract_all(lower(text), '\\b$w\\b'))").mkString(" + ")
    s"""WITH RECURSIVE $ClusterCtes,
      |${repCtes(stop)}
      |SELECT cl.doc_id, cl.cluster, r.rep_id,
      | ((r.rep_id % 10000) * 5245 + 12345) % 10000 AS bucket,
      | CASE WHEN ((r.rep_id % 10000) * 5245 + 12345) % 10000 < 9000
      |      THEN 'train' ELSE 'holdout' END AS split
      |FROM cl JOIN reps r USING (cluster)
      |ORDER BY cl.doc_id""".stripMargin
  }

  val q94Sql: String = {
    val stop = TextAnalysis.StopWords
      .map(w => s"len(regexp_extract_all(lower(text), '\\b$w\\b'))").mkString(" + ")
    s"""WITH RECURSIVE $ClusterCtes,
      |${repCtes(stop)}
      |SELECT cl.doc_id, cl.cluster, cl.quality_score, r.rep_id,
      | CASE WHEN cl.doc_id = r.rep_id THEN 1 ELSE 0 END AS is_rep
      |FROM cl JOIN reps r USING (cluster)
      |ORDER BY cl.doc_id""".stripMargin
  }

  /** Deterministic training-shard assignment — the last step before
   *  a training run: give every document a shard and a dense
   *  pseudo-random position within it, so N data-loader workers
   *  stream disjoint, reproducibly-ordered slices. Shard choice is
   *  a scan-speed projection (q72's overflow-safe LCG mod N);
   *  within-shard order sorts by the LCG bucket (the pseudo-random
   *  key), doc_id breaking ties.
   *
   *  Scale: the position window partitions BY SHARD, so its sort is
   *  corpus/N-sized — and numShards is chosen so corpus/N fits an
   *  executor (a real 100 TB run shards to ~10⁵ files of ~1 GB, not
   *  8; 8 here keeps the oracle readable). Assignment itself never
   *  shuffles; only the dense-position window does, and writing the
   *  shards IS that shuffle (partitionBy(shard) rides it). */
  def shardAssign(docs: DataFrame, numShards: Int): DataFrame =
    docs
      .withColumn("bucket", sampleBucket(col("doc_id")))
      .withColumn("shard", pmod(col("bucket"), lit(numShards.toLong)))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
          .orderBy(col("bucket"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))

  /** q100: 8-way deterministic shard assignment over documents. */
  def q100ShardAssign(s: SparkSession, d: String): DataFrame =
    shardAssign(documents(s, d), 8).orderBy(col("shard"), col("pos"))

  val q100Sql: String =
    """WITH b AS (
      |  SELECT doc_id, ((doc_id % 10000) * 5245 + 12345) % 10000 AS bucket
      |  FROM documents)
      |SELECT doc_id, bucket % 8 AS shard,
      | row_number() OVER (PARTITION BY bucket % 8 ORDER BY bucket, doc_id) AS pos
      |FROM b ORDER BY shard, pos""".stripMargin

  /** q110: temperature-scaled source mix — upsample rare sources and
   *  downsample dominant ones with weights ∝ countᵅ (α = 0.5, the
   *  multilingual-corpus temperature rule; α=1 is proportional, α=0
   *  uniform). Complements q74's target-driven DoReMi allocation with
   *  the closed-form temperature policy.
   *
   *  Determinism: √count is irrational, so each source's weight is
   *  quantized to integer micro-units BEFORE the normalizing sum
   *  (order-free; the q79 ln() rule applied to sqrt) and the final
   *  share/allocation ship as RAW divisions of exact longs.
   *
   *  Scale: one corpus hash aggregate to source counts (sources ≪
   *  corpus), then all arithmetic runs on the source-count frame; the
   *  normalizing total is a window over that tiny frame, not a second
   *  scan. */
  def q110TemperatureMix(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy(lit(1))
    documents(s, d)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w_micro", round(sqrt(col("n_docs")) * 1e6).cast("long"))
      .withColumn("share", col("w_micro") / sum(col("w_micro")).over(all))
      .withColumn("alloc_10k", col("share") * 10000)
      .select(col("source"), col("n_docs"), col("w_micro"), col("share"), col("alloc_10k"))
      .orderBy(col("source"))
  }

  val q110Sql: String =
    """WITH c AS (
      |  SELECT source, count(*) AS n_docs,
      |   CAST(round(sqrt(count(*)) * 1e6) AS BIGINT) AS w_micro
      |  FROM documents GROUP BY source)
      |SELECT source, n_docs, w_micro,
      | w_micro / CAST(sum(w_micro) OVER () AS DOUBLE) AS share,
      | w_micro / CAST(sum(w_micro) OVER () AS DOUBLE) * 10000 AS alloc_10k
      |FROM c ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q149: DSIR-style importance resampling weights
  // ---------------------------------------------------------------

  /** Feature-hash bucket count for [[q149ImportanceWeights]]. */
  private val DsirBuckets = 512L

  /** q149: data-selection importance weights (Xie et al.'s DSIR
   *  shape): score every document by how much more likely its hashed
   *  unigram features are under a TARGET distribution (here the
   *  'src1' slice — the "looks like the benchmark" proxy) than under
   *  the raw-corpus source distribution; keep docs with positive
   *  log-ratio. The curation step between "crawl everything" and
   *  "train on what matters".
   *
   *  Scale: features are hashed to a FIXED 512-bucket space with the
   *  native rolling-hash expression (q41's char-poly, DuckDB-mirrored
   *  via list_reduce), so both n-gram models are 512-row broadcast
   *  artifacts no matter the corpus size; corpus work is one token
   *  pass + a broadcast bucket join + one per-doc hash agg. A
   *  token-free doc keeps weight 0 via the doc-seeded left join (the
   *  q145 base rule).
   *
   *  Determinism: per-bucket log-ratio is ONE canonical
   *  ln(tgt-ratio) − ln(src-ratio) expression, Laplace-smoothed,
   *  micro-nat-quantized ONCE; per-doc weights are exact long sums.
   *  The keep rule is RELATIVE — weight above the corpus's truncated
   *  mean — because DSIR selects proportionally, not by sign: on a
   *  near-homogeneous corpus every smoothed log-ratio sum is slightly
   *  negative (the Laplace mass skews small target slices down), so a
   *  sign rule degenerates to keep-nothing. The threshold is one
   *  integer (Σw div N, both engines truncate toward zero); long sums
   *  hold to ~10¹² docs — beyond that the total needs decimal(38). */
  def q149ImportanceWeights(s: SparkSession, d: String): DataFrame = {
    graft.functions.RollingHash.register(s)
    val base = documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val toks = base
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .withColumn("b", pmod(graft.functions.RollingHash.rolling_hash(col("term")),
        lit(DsirBuckets)))
    // BOTH n-gram models from ONE token pass: n_src and the src1-
    // conditional n_tgt fold into the same 512-bucket hash aggregate,
    // and the totals reduce the 512-row model, not the corpus — the
    // corpus is exploded exactly twice (model fit + per-doc scoring)
    val bucketCounts = toks.groupBy(col("b")).agg(
      count(lit(1)).as("n_src"),
      count(when(col("source") === "src1", 1)).as("n_tgt"))
    val totals = bucketCounts.agg(
      sum(col("n_src")).as("t_src"), sum(col("n_tgt")).as("t_tgt"))
    val lr = bucketCounts.crossJoin(broadcast(totals))
      .withColumn("lr_micro",
        round((log((col("n_tgt") + lit(1)).cast("double") /
            (col("t_tgt") + lit(DsirBuckets))) -
          log((col("n_src") + lit(1)).cast("double") /
            (col("t_src") + lit(DsirBuckets)))) * 1000000).cast("long"))
      .select(col("b"), col("lr_micro"))
    val perDoc = toks.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr_micro")).as("w_micro"))
    val weights = base.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("w_micro"), lit(0L)).as("weight_micro"))
    // one global integer threshold: truncated mean of all weights
    val stats = weights.agg(sum(col("weight_micro")).as("s"),
      count(lit(1)).as("n"))
      .select(expr("s div n").as("thr"))
    weights.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("n_tokens"), col("weight_micro"),
        (col("weight_micro") > col("thr")).cast("int").cast("long").as("keep"))
      .orderBy(col("doc_id"))
  }

  val q149Sql: String =
    """WITH base AS (SELECT doc_id, source, text FROM documents),
      |toks AS (
      |  SELECT doc_id, source,
      |   list_reduce(
      |     list_prepend(7::BIGINT,
      |       list_transform(
      |         list_filter(string_split_regex(t.term, ''), x -> x <> ''),
      |         x -> unicode(x)::BIGINT)),
      |     (acc, c) -> (acc * 31 + c) % 2147483647) % 512 AS b
      |  FROM base, LATERAL (SELECT unnest(string_split(text, ' ')) AS term) t
      |  WHERE length(t.term) > 0),
      |srcc AS (SELECT b, CAST(count(*) AS BIGINT) AS n_src FROM toks GROUP BY b),
      |tgtc AS (SELECT b, CAST(count(*) AS BIGINT) AS n_tgt FROM toks
      |         WHERE source = 'src1' GROUP BY b),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS t_src,
      |         CAST(count(CASE WHEN source = 'src1' THEN 1 END) AS BIGINT) AS t_tgt
      |        FROM toks),
      |lr AS (
      |  SELECT s.b,
      |   CAST(round((ln(CAST(coalesce(g.n_tgt, 0) + 1 AS DOUBLE) / (t.t_tgt + 512))
      |             - ln(CAST(s.n_src + 1 AS DOUBLE) / (t.t_src + 512))) * 1000000)
      |     AS BIGINT) AS lr_micro
      |  FROM srcc s LEFT JOIN tgtc g USING (b) CROSS JOIN tot t),
      |pd AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |   CAST(sum(lr.lr_micro) AS BIGINT) AS w_micro
      |  FROM toks JOIN lr USING (b) GROUP BY doc_id),
      |w AS (
      |  SELECT b0.doc_id,
      |   coalesce(pd.n_tokens, 0) AS n_tokens,
      |   coalesce(pd.w_micro, 0) AS weight_micro
      |  FROM (SELECT doc_id FROM base) b0
      |  LEFT JOIN pd USING (doc_id)),
      |thr AS (SELECT CAST(sum(weight_micro) // count(*) AS BIGINT) AS thr FROM w)
      |SELECT w.doc_id, w.n_tokens, w.weight_micro,
      | CAST(CASE WHEN w.weight_micro > t.thr THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM w CROSS JOIN thr t ORDER BY w.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q156: curriculum ordering — exact global positions, no global
  // window
  // ---------------------------------------------------------------

  /** q156: curriculum ordering for training — every document gets its
   *  exact 0-based GLOBAL position in the (quality_score DESC, doc_id)
   *  order, plus the epoch-stable shard that position lands in. The
   *  order is the "clean data first" curriculum a staged training run
   *  consumes; the position must be deterministic and reproducible
   *  across re-runs and engines.
   *
   *  Scale design — the whole point of this operator: the naive
   *  formulation is `row_number() OVER (ORDER BY ...)`, a GLOBAL
   *  window that Spark executes as a SINGLE partition holding the
   *  entire corpus — the canonical 100 TB plan-killer. Instead:
   *    1. `repartitionByRange` on the sort key (range exchange —
   *       the same shuffle a global sort pays, ~corpus/P per task),
   *    2. one tiny aggregate of per-partition row counts (P rows,
   *       P = shuffle partitions) collected and prefix-summed on the
   *       driver — driver work is O(P), never O(rows),
   *    3. one narrow `mapPartitions` pass that adds the partition's
   *       offset to its local running index (order inside a range
   *       partition is guaranteed by `sortWithinPartitions`).
   *  Tie-safety: the composite key (score, doc_id) is UNIQUE, so
   *  positions are a total order independent of where the sampled
   *  range bounds fall. The frame is localCheckpoint-materialized so
   *  the count pass and the stamping pass see the SAME physical
   *  partitioning (and the range shuffle runs once).
   *
   *  The quality key reuses q29's integer quality formula (one fused
   *  TextCounts scan), so curriculum and quality-gate semantics
   *  cannot drift. */
  def q156CurriculumOrder(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keyed = documents(s, d).select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality_score"))
    val parted = keyed
      .repartitionByRange(col("quality_score").desc, col("doc_id"))
      .sortWithinPartitions(col("quality_score").desc, col("doc_id"))
      .localCheckpoint(eager = true)
    val counts = parted.select(spark_partition_id().as("pid"))
      .groupBy(col("pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = parted.rdd.getNumPartitions
    val offsets = new Array[Long](nParts + 1)
    (0 until nParts).foreach { p =>
      offsets(p + 1) = offsets(p) + counts.getOrElse(p, 0L) }
    val bOffsets = s.sparkContext.broadcast(offsets)
    parted.as[(Long, Long)].mapPartitions { it =>
      val base = bOffsets.value(org.apache.spark.TaskContext.getPartitionId())
      it.zipWithIndex.map { case ((id, q), i) => (id, q, base + i) }
    }.toDF("doc_id", "quality_score", "position")
      .withColumn("train_shard", pmod(col("position"), lit(16L)))
      .orderBy(col("position"))
  }

  val q156Sql: String = {
    val stop = TextAnalysis.StopWords
      .map(w => s"len(regexp_extract_all(lower(text), '\\b$w\\b'))")
      .mkString(" + ")
    s"""WITH q AS (
      |  SELECT doc_id,
      |   CAST(least(len(regexp_extract_all(text, '[^ \\t\\n\\v\\f\\r]+')), 100)
      |        + 2*($stop)
      |        - len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n\\v\\f\\r]')) AS BIGINT)
      |     AS quality_score
      |  FROM documents)
      |SELECT doc_id, quality_score,
      | row_number() OVER (ORDER BY quality_score DESC, doc_id) - 1 AS position,
      | (row_number() OVER (ORDER BY quality_score DESC, doc_id) - 1) % 16 AS train_shard
      |FROM q ORDER BY position""".stripMargin
  }
}
