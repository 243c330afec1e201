package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Exact all-pairs cosine similarity join over sparse TF-IDF vectors —
 * the cosine sibling of q114's Jaccard prefix join, and the sparse
 * complement to the dense-embedding ANN family (q25–q27/q37/q89):
 * every document pair whose TF-IDF cosine clears a threshold, found
 * WITHOUT the corpus×corpus comparison, with no approximation.
 *
 * The prune is the ℓ2-mass prefix filter (Bayardo, Ma & Srikant,
 * "Scaling Up All Pairs Similarity Search", WWW'07): for each
 * document, terms are ranked by ascending squared share of the
 * vector's mass, and the maximal ascending run whose cumulative mass
 * stays under t² is the SUFFIX. By Cauchy–Schwarz, a pair whose
 * shared terms all fall in one side's suffix has cosine ≤ √(suffix
 * mass) < t — so indexing only PREFIX terms (the few heaviest) and
 * probing every document's prefix against the postings is lossless:
 * any qualifying pair shares at least one prefix term of each probe
 * side. The filter is epsilon-relaxed (suffix mass ≤ t²−1e-9) so FP
 * rounding can only weaken the prune, never the result — the q114
 * rule.
 *
 * Determinism (the hash-compare contract): weights are integer-
 * quantized (round(tf·ln(N/df)·1000)), so dot products and norms are
 * exact integer sums — aggregation order cannot perturb them; the
 * final cosine divides integers through IEEE sqrt/division
 * (bit-identical in both engines) and only the EMITTED score is
 * rounded (6 dp, irrational-value rule). Residual risk, stated
 * honestly: the quantization itself goes through each engine's libm
 * ln — ~1-ulp accurate but not correctly rounded — so a product
 * landing within an ulp of a .5 quantization boundary could yield a
 * wq differing by 1 between engines (the q114 irrational-value
 * caveat applied to the WEIGHTS, not just the score); only
 * arithmetic AFTER quantization is exact. No provisioned or derived
 * corpus term lands on such a boundary. Overflow headroom: wq ≤
 * tf·ln(N)·1e3 ≈ 1.5e7 at tf=1000, N=5M; a 500-term doc's norm sums
 * to ≤1.2e17 — two orders under int64 at the 100× octave.
 *
 * Scale notes: candidates are generated per prefix term — a term
 * lands in a prefix only where it carries a top share of a document's
 * mass, which is exactly where idf says it is discriminative, so hot
 * terms (near-zero idf weight) almost never become join keys; the
 * candidate distinct and the dot-product re-join are both bounded by
 * (candidate pairs)×(doc terms), not corpus². The ORACLE form is the
 * corpus×corpus brute force — tractable at the provisioned SFs and
 * documented ≤10× (the q121/q124 class: the oracle IS the quadratic
 * the operator exists to avoid).
 *
 * Reference scope: the reference engine (3nth/diepy) has no
 * similarity machinery; this belongs to the training-data-pipeline
 * extension surface (near-dup mining over sparse features).
 */
object SparseSim {

  /** Cosine threshold of the q135 join (part of the contract — the
    * oracle applies the same). */
  private val Thr = 0.9
  /** Fixed-point weight scale (3 dp of tf·idf). */
  private val Q = 1000.0

  /** Dot-product-expansion budget (rows) before [[cosineJoin]]
    * switches to chunked sequential verification — the q114 device on
    * the CANDIDATE space (round 15, matching Dedup.prefixJaccardPairs:
    * chunk classes are pmod(xxhash64(doc_a, doc_b), C), each pair's
    * whole dot product completes inside its own chunk, and the parked
    * doc_id-partitioned weight frame makes every per-chunk join
    * exchange-free on the w side). q135 was the top 100× cost
    * (303.6 s isolated) and the one recorded in-suite disk death (the
    * round-12 splice): its candidates × per-doc-terms join lives all
    * at once exactly like q114's verification expansion. The default
    * matches q114's ~20 GB-raw-per-chunk budget; ≤10× stays
    * single-pass (results unchanged at any C). */
  private val Q135MaxExpansionRows: Long =
    sys.env.get("SPARK_GRAFT_Q135_MAX_EXPANSION").map(_.toLong)
      .getOrElse(500000000L)

  /** Per-doc TF-IDF weights over 3-token shingle features (the q114
    * feature space, as a MULTISET — tf keeps repeat shingles),
    * integer-quantized. Long-n-gram features are what make the join
    * tractable on any corpus: unigram/bigram df scales with corpus
    * density (a 31-token synthetic vocabulary leaves 96 %/38 % of all
    * pairs as candidates), while a shingle's df is bounded by its
    * text's actual duplication multiplicity (median 9, max 25 at
    * sf0.1) — discriminative by construction.
    * Columns: doc_id, term, wq (long).
    *
    * NOTE (advice round-15): constructing this plan runs one EAGER
    * countDistinct(doc_id) driver job (the n_docs literal below) —
    * callers that already know the distinct doc count pass it via
    * `nDocs` and the call is pure plan-building again. */
  private[ops] def weights(docs: DataFrame,
      nDocs: Option[Long] = None): DataFrame = {
    import docs.sparkSession.implicits._
    val tf = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text0) =>
        // tokenize once per doc in JVM code (the shingleRows rule)
        val toks = Option(text0).getOrElse("").trim.split("\\s+")
        if (toks.length < 3) Iterator.empty
        else toks.sliding(3).map(g => (id, g.mkString(" ")))
      }
      .toDF("doc_id", "term")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // n_docs as a driver literal (round 15): the old 1-row
    // crossJoin(broadcast(n)) planned as a BroadcastNestedLoopJoin —
    // a per-materialization broadcast build for one scalar, and a
    // node the q135 plan gate (rightly) treats as an all-pairs smell.
    // One bounded count job up front yields the identical value
    // (same countDistinct, same double division into log), so wq is
    // bit-identical; the weight plan loses its only non-equi join.
    val nDocsL = nDocs.getOrElse(
      docs.agg(countDistinct(col("doc_id"))).head().getLong(0))
    tf.join(df, "term")
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(lit(nDocsL.toDouble) / col("df")) * Q)
          .cast("long").as("wq"))
  }

  /** q135: every unordered pair with TF-IDF cosine ≥ 0.9, exactly.
    * Output (doc_a, doc_b, cosine), doc_a < doc_b. */
  def q135CosineJoin(s: SparkSession, d: String): DataFrame =
    cosineJoin(Tables.documents(s, d))

  /** Core of q135 over any (doc_id, text) frame (spec entry point). */
  private[ops] def cosineJoin(docs: DataFrame,
      maxExpansionRows: Long = Q135MaxExpansionRows): DataFrame = {
    // Materialize the weight frame ONCE — it feeds norms, prefixes,
    // and both dot-probe sides. Above the 1 M-doc tier it PARKS
    // hash-partitioned by doc_id and sorted (doc_id, term) — the q114
    // round-15 device (Dedup.prefixJaccardPairs): the retained
    // partitioning makes every verification join below exchange-free
    // and sort-free on the w side (localCheckpoint loses it — pinned by
    // PlanQualitySpec's "q160/q171 pre-partitioned persisted edge
    // frames" test); the checkpoint FIRST (lineage cut:
    // weights' tf/df aggregation shuffles become reclaimable instead
    // of pinned for all C chunk passes — the round-11 scratch lesson),
    // the repartition+persist SECOND. Both copies DISK_ONLY + lz4:
    // ~2× the weight frame on scratch buys C passes of exchange-free
    // joins.
    // storage tier by corpus size — the q114 round-15 rule: memory-
    // backed below ~1 M docs, DISK_ONLY past it. ONE eager job feeds
    // both the tier decision and weights' n_docs literal (round 16:
    // the tier count and weights' countDistinct were two separate
    // full passes over the documents parquet, paid on every cold
    // invocation; doc_id is the table key, so the counts are equal).
    val nDocs = docs.agg(countDistinct(col("doc_id"))).head().getLong(0)
    val small = nDocs <= 1000000L
    val parkLevel =
      if (small) org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      else org.apache.spark.storage.StorageLevel.DISK_ONLY
    // Tier the park itself (round 16, verdict ask 2 — the measured
    // ~2× cold-run regression at sf0.1 was the park build): below the
    // 1 M-doc tier the repartition+sortWithinPartitions+persist buys
    // exchange-free verification joins worth LESS than the exchange,
    // sort and second copy it costs on every cold pass — a bare
    // persist of the weight frame (the r14 shape, minus its BNLJ)
    // materializes once and lets AQE plan the five small downstream
    // joins. The CHUNKED tier keeps the full park verbatim: the
    // lineage-cut checkpoint makes the tf/df shuffles reclaimable
    // across the C expansion passes, and the retained doc_id
    // partitioning makes every per-chunk verification join
    // exchange-free on the w side (the 1000× story is unchanged,
    // bit for bit). Same rows, same values either tier.
    val w0 = weights(docs.select(col("doc_id"), col("text")), Some(nDocs))
    val w =
      if (small) w0.persist(parkLevel)
      else w0.localCheckpoint(true, parkLevel)
        .repartition(col("doc_id"))
        .sortWithinPartitions(col("doc_id"), col("term"))
        .persist(parkLevel)
    // docs whose every term has idf 0 carry no mass: cosine is
    // undefined for them (0/0) — excluded on both sides, like the
    // oracle's nrm > 0 guard
    val norms = w.groupBy(col("doc_id"))
      .agg(sum(col("wq") * col("wq")).as("nrm"))
      .filter(col("nrm") > 0)
    // ascending cumulative squared-mass share per doc: the maximal
    // head with cum ≤ t²−ε is the suffix (cannot reach t alone, by
    // Cauchy–Schwarz); everything after it is the indexed prefix
    val byMass = Window.partitionBy(col("doc_id"))
      .orderBy(col("u2"), col("term"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefixes = w.join(norms, "doc_id")
      .withColumn("u2",
        (col("wq") * col("wq")).cast("double") / col("nrm").cast("double"))
      .withColumn("cum", sum(col("u2")).over(byMass))
      .filter(col("cum") > Thr * Thr - 1e-9)
      .select(col("term"), col("doc_id"))
    // candidate pairs: each doc's prefix terms against the FULL
    // postings (the asymmetric-probe form of the filter — sound for
    // any per-doc split, no global term order needed). Checkpointed:
    // pair-sized, and the chunk decision needs its count anyway.
    val cand = prefixes.as("a")
      .join(w.select(col("term"), col("doc_id").as("b_id")).as("b"), Seq("term"))
      .filter(col("doc_id") =!= col("b_id"))
      .select(least(col("doc_id"), col("b_id")).as("doc_a"),
        greatest(col("doc_id"), col("b_id")).as("doc_b"))
      .distinct()
      .localCheckpoint()
    val stats = w.agg(countDistinct(col("doc_id")).as("docs"),
      count(lit(1)).as("tot")).head()
    val avgT = if (stats.getLong(0) == 0L) 0.0
      else stats.getLong(1).toDouble / stats.getLong(0)
    val expansionEst = cand.count() * avgT
    val chunks = math.min(16L,
      math.max(1L, math.ceil(expansionEst / maxExpansionRows).toLong)).toInt

    // exact integer dot product over one candidate class: probe the
    // pair slice into the parked weight frame twice. Same per-chunk
    // exchange inventory as q114's verificationCo (round 15): the
    // candidate slice exchanges (pair-sized / C), the expansion
    // exchanges once re-keyed to doc_b (subset co-partitioning against
    // the parked frame), the w side and the pair aggregate never
    // exchange at all.
    def dotsOf(candPart: DataFrame): DataFrame = candPart
      .join(w.select(col("doc_id").as("doc_a"), col("term"), col("wq").as("wa")),
        Seq("doc_a"))
      .join(w.select(col("doc_id").as("doc_b"), col("term"), col("wq").as("wb")),
        Seq("doc_b", "term"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"))

    val dots =
      if (chunks == 1) dotsOf(cand)
      else {
        // sequential chunk loop over DISJOINT candidate classes (the
        // q114 round-15 shape — pmod of the pair hash, skew-free):
        // each pass expands only its pairs' postings, checkpoints the
        // pair-sized FINAL dots for the class (candidate-space
        // chunking needs no cross-chunk re-aggregation — a pair's
        // whole dot product lives in its own chunk), and lets the
        // finished pass's expansion shuffle files be reclaimed (the
        // GC nudge) before the next pass starts.
        val parts = (0 until chunks).map { c =>
          val slice = cand.filter(
            pmod(xxhash64(col("doc_a"), col("doc_b")), lit(chunks.toLong))
              === lit(c.toLong))
          val done = dotsOf(slice).localCheckpoint()
          System.gc()
          // let the async cleaner actually unlink (1000×-class only —
          // the small-C octaves don't carry the scratch pressure)
          if (chunks >= 4) Thread.sleep(3000)
          done
        }
        parts.reduce(_ union _)
      }
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")), Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), Seq("doc_b"))
      .withColumn("cos",
        col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cos") >= Thr)
      .select(col("doc_a"), col("doc_b"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Candidate-pair count under the prefix filter — the spec hook
    * proving the prune generates strictly fewer pairs than the
    * corpus×corpus brute force on a prunable fixture. */
  private[graft] def candidateCount(docs: DataFrame): Long = {
    val w = weights(docs.select(col("doc_id"), col("text")))
    val norms = w.groupBy(col("doc_id"))
      .agg(sum(col("wq") * col("wq")).as("nrm")).filter(col("nrm") > 0)
    val byMass = Window.partitionBy(col("doc_id"))
      .orderBy(col("u2"), col("term"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w.join(norms, "doc_id")
      .withColumn("u2",
        (col("wq") * col("wq")).cast("double") / col("nrm").cast("double"))
      .withColumn("cum", sum(col("u2")).over(byMass))
      .filter(col("cum") > Thr * Thr - 1e-9)
      .select(col("term"), col("doc_id")).as("a")
      .join(w.select(col("term"), col("doc_id").as("b_id")).as("b"), Seq("term"))
      .filter(col("doc_id") =!= col("b_id"))
      .select(least(col("doc_id"), col("b_id")).as("doc_a"),
        greatest(col("doc_id"), col("b_id")).as("doc_b"))
      .distinct().count()
  }

  val q135Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \t\n\v\f\r]+|[ \t\n\v\f\r]+$', '', 'g'), '[ \t\n\v\f\r]+') AS t
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS term,
      |   count(*) AS tf
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g
      |  GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |w AS (
      |  SELECT doc_id, tf.term,
      |   CAST(round(tf * ln(CAST(n_docs AS DOUBLE) / df) * 1000) AS BIGINT) AS wq
      |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
      |nrm AS (SELECT doc_id, sum(wq * wq) AS nrm FROM w GROUP BY doc_id
      |        HAVING sum(wq * wq) > 0),
      |dots AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.wq * b.wq) AS dot
      |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      | round(CAST(dot AS DOUBLE)
      |   / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))), 6) AS cosine
      |FROM dots
      |JOIN nrm na ON na.doc_id = doc_a
      |JOIN nrm nb ON nb.doc_id = doc_b
      |WHERE CAST(dot AS DOUBLE)
      |   / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin
}
