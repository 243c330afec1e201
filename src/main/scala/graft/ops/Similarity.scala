package graft.ops

import graft.functions.GraftFunctions.cosine_sim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Similarity search over `embeddings.embedding` (Array[Float], d=64).
 *
 * q26 is the exact brute-force baseline: broadcast the (small) query
 * set against all candidates — one scan of the corpus, no shuffle of
 * the big side; cosine runs through the native CosineSimilarity
 * codegen expression (graft.functions), no UDF.
 *
 * q27 is the approximate scale path: seed-deterministic
 * random-hyperplane LSH prunes the candidate set before exact
 * re-ranking — at 100 TB the bucketed join replaces the full cross
 * product.
 */
object Similarity {
  import Tables._

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Exact top-5 cosine neighbors for query vectors vec_id < 10.
   *  Similarity runs through the native CosineSimilarity expression
   *  (graft.functions) — fused loop, no per-pair array allocation. */
  def q26KnnBrute(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ranked = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("sim", round(cosine_sim(col("embedding"), col("qe")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))).cast("long"))
      .filter(col("rnk") <= 5)
    ranked.select(col("qid"), col("rnk"), col("vec_id").as("nid"), col("sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  val q26Sql: String =
    """SELECT qid, rnk, nid, sim FROM (
      | SELECT qid, nid, sim,
      |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
      | FROM (
      |  SELECT q.vec_id AS qid, c.vec_id AS nid,
      |   round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
      |     / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
      |        * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS sim
      |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id) p) t
      |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** IVF-style ANN: a seeded spherical k-means coarse quantizer
   *  (fit below), every vector assigned to its nearest cell, queries
   *  probed against their top-`IvfProbes` cells, exact cosine
   *  re-rank within the probed cells. At 100 TB the corpus is
   *  partitioned BY cell, so a query touches probes/cells of the
   *  data. Engine-specific → rows-only check; quality oracle-gated
   *  by q61 (top-5 overlap vs the exact q26 baseline). */
  def q37KnnIvf(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    // The coarse codebook is a k-means fit over a bounded sample —
    // collect it once and inline the centroids as literals, so cell
    // assignment is a pure per-row projection: no row amplification,
    // no groupBy shuffle, whole corpus stays in one codegen stage.
    // (At 100 TB the codebook is still driver-sized: k centroids of
    // dim doubles, independent of corpus size.)
    val cents: Array[(Int, Seq[Double])] = codebook(e, d)
      .zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    // degenerate corpora (the former join formulation returned empty
    // gracefully; greatest() needs ≥2 args and must not see 0 or 1)
    if (cents.isEmpty)
      return e.filter(lit(false)).select(col("vec_id").as("qid"),
        lit(0L).as("rnk"), col("vec_id").as("nid"), lit(0.0).as("sim"))
    // cell assignment: THE shared definition (cellAssign) — q37's
    // in-memory path and the durable withCell layout must agree
    val corpus = e.withColumn("cell", cellAssign(cents))
    // queries probe their top-IvfProbes cells: sort the 16 (nsim, cid)
    // structs ascending == csim desc with cid-asc tie-break (the same
    // order the former row_number window produced)
    val negSimCells = cents.map { case (cid, cv) =>
      struct((-cosine_sim(col("v"), typedLit(cv))).as("nsim"), lit(cid).as("cid"))
    }
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(slice(array_sort(array(negSimCells.toIndexedSeq: _*)), 1, IvfProbes)).as("pc"))
      .select(col("qid"), col("qv"), col("pc.cid").as("cell"))
    corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .dropDuplicates("qid", "vec_id")
      .withColumn("sim", round(cosine_sim(col("qv"), col("v")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk"), col("vec_id").as("nid"), col("sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  private val IvfCells = 16
  private val IvfProbes = 6

  private[graft] val KMeansSample = 2048
  private val KMeansIters = 12

  /** The fitted codebook is a MODEL ARTIFACT, not query state: for a
   *  fixed (corpus, k) the seeded fit is deterministic, so it is
   *  memoized per corpus and reused by every probe (q37, the q61
   *  recall gate, the partitioned layout) instead of re-running the
   *  TakeOrdered+collect sample job per query. At 100 TB the same
   *  artifact would be persisted alongside the layout. */
  private def codebook(e: DataFrame, dir: String, k: Int = IvfCells): Array[Array[Double]] =
    CorpusArtifacts.memo(e.sparkSession, s"codebook_$k", dir, "embeddings")(fitCodebook(e, k))

  /** Corpus-scaled coarse cell count for BLOCKING consumers (the q25
   *  contract: blocking-key cardinality must grow with the corpus so
   *  per-block population — and with it any block-local quadratic —
   *  stays constant). ~[[ScaledCellPop]] vectors per cell, floor
   *  [[IvfCells]] (below which the fixed q37 codebook is already
   *  right-sized). UNCAPPED above that: a single driver-fit codebook
   *  can only reach [[KMeansSample]] cells (one centroid per sample
   *  point), so [[withCell]] switches to the two-level coarse×fine
   *  fit past that — per-cell population stays ~[[ScaledCellPop]] at
   *  every corpus size instead of resuming linear growth at ~1M
   *  vectors (the round-9 ceiling). */
  private[graft] val ScaledCellPop = 500L
  private[graft] def scaledCellCount(n: Long): Int =
    math.max(IvfCells, math.min(Int.MaxValue.toLong, n / ScaledCellPop).toInt)

  private def dotd(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dotd(v, v))
    if (n == 0) v else v.map(_ / n)
  }

  /** Deterministic spherical k-means codebook over a bounded sample
   *  (the `KMeansSample` smallest-vec_id vectors — TakeOrdered, no
   *  global sort). Driver-side cost is O(sample·k·dim·iters) and the
   *  codebook is k·dim doubles — both independent of corpus size, so
   *  the fit stays cheap at 100 TB while the assignment/probe work
   *  remains a distributed literal-centroid projection. Seeded
   *  k-means++ init (java.util.Random LCG) → identical centroids
   *  across JVMs/runs; distance on the unit sphere = 1 − cosine, so
   *  Lloyd assignment is a max-dot scan. Expects (vec_id, v) rows. */
  private[ops] def fitCodebook(e: DataFrame, k: Int): Array[Array[Double]] = {
    val sample: Array[Array[Double]] = e.sort(col("vec_id")).limit(KMeansSample)
      .collect()
      .map(r => unit(r.getSeq[Float](1).map(_.toDouble).toArray))
    lloyd(sample, k)
  }

  /** The pure seeded Lloyd core over an already-collected UNIT-vector
   *  sample — deterministic in (sample order, k) alone, so it runs
   *  identically on the driver (the flat codebook fit) and inside an
   *  executor task (the per-coarse-cell fine fits of the two-level
   *  path, where each cell's sample is its smallest vec_ids). */
  private[ops] def lloyd(sample: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    if (sample.isEmpty) return Array.empty
    val kk = math.min(k, sample.length)
    val dim = sample.head.length
    val rnd = new java.util.Random(7L)
    // k-means++ seeding: next centroid drawn ∝ distance to nearest
    // chosen centroid — spreads the codebook across the data's modes
    val seeds = scala.collection.mutable.ArrayBuffer(sample(rnd.nextInt(sample.length)))
    while (seeds.length < kk) {
      val d2 = sample.map(v => math.max(0.0, seeds.map(c => 1.0 - dotd(v, c)).min))
      val tot = d2.sum
      if (tot <= 0) seeds += sample(rnd.nextInt(sample.length))
      else {
        var r = rnd.nextDouble() * tot
        var i = 0
        while (i < d2.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
        seeds += sample(i)
      }
    }
    var centroids = seeds.toArray.map(_.clone)
    for (_ <- 0 until KMeansIters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      sample.foreach { v =>
        var best = 0; var bestDot = dotd(v, centroids(0))
        var c = 1
        while (c < kk) {
          val dd = dotd(v, centroids(c))
          if (dd > bestDot) { best = c; bestDot = dd }
          c += 1
        }
        counts(best) += 1
        var j = 0; while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      centroids = Array.tabulate(kk) { c =>
        // an emptied cluster keeps its centroid (deterministic; it can
        // re-acquire members next iteration)
        if (counts(c) == 0) centroids(c) else unit(sums(c))
      }
    }
    centroids
  }

  /** A (vec_id, embedding) corpus batch as the (vec_id, v) frame the
   *  cell assignments read. */
  private def vectors(batch: DataFrame): DataFrame =
    batch.select(col("vec_id"), col("embedding").as("v"))

  /** The memoized codebook of corpus `d` as centroid literals: `k` ≤ 0
   *  is the fixed q37 codebook, a positive `k` a codebook of that
   *  size (the scaled blocking path). */
  private def centroids(s: SparkSession, d: String, k: Int = 0): Array[(Int, Seq[Double])] = {
    val e = vectors(embeddings(s, d))
    val cb = codebook(e, d, if (k <= 0) IvfCells else k)
    require(cb.nonEmpty, s"$d: empty corpus, nothing to lay out")
    cb.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
  }

  /** The flat IVF index of corpus `d` ([[DurableIndex]]): the corpus
   *  PARTITIONED BY IVF cell — the physical layout the q37 scaladoc
   *  promises at 100 TB, one directory per coarse cell, so a probe
   *  reads probes/cells of the data through partition pruning. Cells
   *  come from the same literal-centroid projection q37 uses (the
   *  memoized codebook, the model artifact persisted alongside the
   *  layout), so the layout and the in-memory path can never disagree
   *  about where a vector lives. Append contract (q144-gated): the
   *  codebook is fit on the [[KMeansSample]] SMALLEST vec_ids, so
   *  batches with ids above the base corpus leave the artifact — and
   *  every existing assignment — bit-identical; appended ≡ rebuilt
   *  from scratch, exactly. A deployment whose batches can precede
   *  the sample prefix persists the codebook file instead. */
  def ivfIndex(s: SparkSession, d: String): DurableIndex = {
    graft.functions.GraftFunctions.register(s)
    val cents = centroids(s, d)
    DurableIndex.cells(b => vectors(b).withColumn("cell", cellAssign(cents)))
  }

  /** The durable IVF layout for corpus `d`, a derived dir of its
   *  embeddings ([[CorpusArtifacts]]): q137 and any other consumer of
   *  the cell-partitioned layout share one write. */
  def ivfLayoutDir(s: SparkSession, d: String): String =
    CorpusArtifacts.dir(s, "ivf_layout", d, "embeddings")(
      ivfIndex(s, d).write(embeddings(s, d), _))

  /** The corpus with its IVF cell assignment — THE definition shared
   *  by the durable layout above and q137's layout-parity audit, so
   *  "which cell does this vector live in" has exactly one
   *  implementation. Cell = argmax-cosine centroid of the memoized
   *  codebook (literal centroids, scan-parallel projection); `k` as
   *  in [[centroids]], past [[KMeansSample]] the two-level tier. */
  private[ops] def withCell(s: SparkSession, d: String, k: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = vectors(embeddings(s, d))
    if (k > KMeansSample) twoLevelWithCell(s, e, k)
    else e.withColumn("cell", cellAssign(centroids(s, d, k)))
  }

  /** TWO-LEVEL (coarse×fine) cell assignment — the scale tier past
   *  the driver-fit ceiling: one codebook can only hold
   *  [[KMeansSample]] centroids (one per sample point), so past ~1M
   *  vectors (k = n/[[ScaledCellPop]] > sample) the flat blocking's
   *  per-cell population would resume linear growth and the
   *  within-cell quadratic would return (the round-9 verdict's one
   *  design-scale flag). Split k = k1·k2 (k1 ≤ sample):
   *
   *   1. COARSE: a k1-codebook driver-fit exactly as the flat tier
   *      ([[fitCodebook]] — bounded sample, seeded, memo-free here
   *      because the pass below is the only consumer), assigned via
   *      the same [[cellAssign]] literal projection.
   *   2. FINE: per coarse cell, a k2-sub-codebook fit DISTRIBUTED —
   *      shuffle by coarse cell, sort within partitions by
   *      (ccell, vec_id), then one streaming mapPartitions pass per
   *      cell: buffer the cell's first [[KMeansSample]] rows (its
   *      smallest vec_ids — the deterministic sample, independent of
   *      partition count), [[lloyd]]-fit locally, assign the buffer
   *      and stream the remainder. Task memory is O(sample·dim) per
   *      cell regardless of cell population.
   *
   *  Cell id = ccell·k2 + fine ∈ [0, k1·k2). Assignment cost is
   *  n·(k1 + k2) dots — the hierarchical win over the flat n·k — and
   *  the fit is fused into the single layout pass (no extra corpus
   *  scan; the durable partitioned write IS the reusable artifact).
   *  Determinism: coarse fit seeded on a sorted sample; per-cell row
   *  order pinned by the sort; [[lloyd]] is a pure function of
   *  (sample order, k2) — so layouts are identical across runs,
   *  JVMs, and partition counts (spec-pinned). Ceiling of THIS tier:
   *  k1·k2 ≤ sample² ≈ 4.2M cells ≈ 2·10⁹ vectors at 500/cell; a
   *  third level would follow the same shape. */
  private[ops] def twoLevelWithCell(s: SparkSession, e: DataFrame,
      k: Int): DataFrame = {
    import s.implicits._
    val k2 = (k + KMeansSample - 1) / KMeansSample
    val k1 = (k + k2 - 1) / k2
    val coarse = fitCodebook(e, k1)
    require(coarse.nonEmpty, "empty corpus, nothing to lay out")
    val cents: Array[(Int, Seq[Double])] =
      coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    val sampleCap = KMeansSample
    e.withColumn("ccell", cellAssign(cents))
      .select(col("vec_id"), col("v"), col("ccell"))
      .repartition(col("ccell"))
      .sortWithinPartitions(col("ccell"), col("vec_id"))
      .as[(Long, Seq[Float], Int)]
      .mapPartitions { rows =>
        val b = rows.buffered
        // cells are contiguous after the sort; process one cell per
        // outer step, streaming rows past the fit sample
        val perCell = new Iterator[Iterator[(Long, Seq[Float], Int)]] {
          def hasNext: Boolean = b.hasNext
          def next(): Iterator[(Long, Seq[Float], Int)] = {
            val cc = b.head._3
            val buf = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Seq[Float])]
            while (b.hasNext && b.head._3 == cc && buf.length < sampleCap) {
              val r = b.next(); buf += ((r._1, r._2))
            }
            val fine = lloyd(
              buf.map(t => unit(t._2.map(_.toDouble).toArray)).toArray, k2)
            def assign(v: Seq[Float]): Int = {
              val vd = v.map(_.toDouble).toArray
              var best = 0; var bestDot = dotd(vd, fine(0)); var c = 1
              // `>=`: ties to the LARGER fine id, matching
              // cellAssign's greatest(struct(csim, cid)) order
              while (c < fine.length) {
                val dd = dotd(vd, fine(c))
                if (dd >= bestDot) { best = c; bestDot = dd }
                c += 1
              }
              best
            }
            val rest = new Iterator[(Long, Seq[Float])] {
              def hasNext: Boolean = b.hasNext && b.head._3 == cc
              def next(): (Long, Seq[Float]) = { val r = b.next(); (r._1, r._2) }
            }
            (buf.iterator ++ rest).map { case (id, v) =>
              (id, v, cc * k2 + assign(v))
            }
          }
        }
        perCell.flatten
      }
      .toDF("vec_id", "v", "cell")
  }

  /** THE cell-assignment expression over the vector column `v` —
    * struct(csim, cid) max == "nearest cell, ties to larger cid",
    * identical semantics to the former max(struct) aggregation.
    * q37's probe path and the durable [[withCell]] layout both route
    * through this single definition so the q137 parity gate audits
    * the layout AND the in-memory assignment cannot silently diverge
    * from it. */
  private def cellAssign(cents: Array[(Int, Seq[Double])]): Column = {
    val simCells = cents.map { case (cid, cv) =>
      struct(cosine_sim(col("v"), typedLit(cv)).as("csim"), lit(cid).as("cid"))
    }
    if (simCells.length == 1) simCells.head.getField("cid")
    else greatest(simCells.toIndexedSeq: _*).getField("cid")
  }

  /** The corpus with its top-`probes` nearest cells as an array —
    * the MULTI-PROBE side of the cell blocking. Ordering is
    * (csim, cid) descending, the same lexicographic struct order
    * `greatest` uses, so element 0 is exactly [[cellAssign]]'s
    * single-probe cell (q143 gates that parity on the full corpus).
    * The durable layout stays single-cell; multi-probe is a
    * candidate-generation overlay — each vector additionally probes
    * its runner-up cells, so a near-dup pair straddling one cell
    * boundary still shares a probe cell. Cost shape: the projection
    * is the same scan-parallel literal-centroid arithmetic as
    * [[withCell]]; downstream pair work grows by at most probes² per
    * colliding pair (measured ~2× at probes = 2, BASELINE round-9). */
  private[graft] def withProbeCells(s: SparkSession, d: String,
      probes: Int, k: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = vectors(embeddings(s, d))
    val cents = centroids(s, d, k)
    val simCells = cents.map { case (cid, cv) =>
      struct(cosine_sim(col("v"), typedLit(cv)).as("csim"), lit(cid).as("cid"))
    }
    e.withColumn("cells",
      transform(
        slice(sort_array(array(simCells.toIndexedSeq: _*), asc = false),
          1, math.min(probes, cents.length)),
        c => c.getField("cid")))
  }

  /** Top-5 kNN over an [[ivfIndex]] layout. Probe cells
   *  are computed DRIVER-side from the memoized codebook (k·dim dot
   *  products per query — the codebook is driver-sized by design), so
   *  the scan predicate is a literal `cell IN (...)`: Spark prunes at
   *  the DIRECTORY level (PartitionFilters — asserted in
   *  PlanQualitySpec) and only the probed cells are ever read. The
   *  probe ordering and exact re-rank replicate q37KnnIvf exactly, so
   *  results are identical by construction. */
  def ivfKnnPartitioned(s: SparkSession, d: String, layout: String,
      queryMax: Long = 10): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    val cents = codebook(e, d)
    // bounded collect: the fixed query set (vec_id < queryMax), same
    // as the broadcast side of every kNN variant here
    val queries: Array[(Long, Seq[Float])] = e.filter(col("vec_id") < queryMax)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val probeRows: Seq[(Long, Seq[Float], Int)] = queries.toSeq.flatMap {
      case (qid, qv) =>
        val vD = qv.map(_.toDouble).toArray
        // dot/(sqrt·sqrt), the CosineSimilarity expression's exact
        // arithmetic — same rounding, so probe ranks can't drift from
        // q37's in-plan computation; (-sim, cid) ascending == sim desc
        // with cid-asc tie-break, the order q37's array_sort uses
        def sim(c: Array[Double]): Double =
          dotd(vD, c) / (math.sqrt(dotd(vD, vD)) * math.sqrt(dotd(c, c)))
        cents.zipWithIndex.map { case (c, cid) => (-sim(c), cid) }
          .sorted.take(IvfProbes)
          .map { case (_, cid) => (qid, qv, cid) }
    }
    val probes = s.createDataFrame(probeRows).toDF("qid", "qv", "cell")
    val probedCells = probeRows.map(_._3).distinct.sorted
    s.read.parquet(layout)
      .filter(col("cell").isin(probedCells: _*))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .dropDuplicates("qid", "vec_id")
      .withColumn("sim", round(cosine_sim(col("qv"), col("v")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk"), col("vec_id").as("nid"), col("sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** The stored (vec_id, cell) rows of a cell-dir layout generation. */
  private def storedCells(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir).select(col("vec_id"), col("cell").cast("int").as("cell"))

  /** q144: the incremental-maintenance gate (all-true VALUES oracle,
    * the q137/q143 style). One run = one full cycle: write a base
    * [[ivfIndex]] layout holding all but the top-decile vec_ids
    * (overwrite, so the query is idempotent across bench repeats),
    * append the held-out batch — O(batch): one literal-centroid
    * projection plus a partitioned append, no existing cell file
    * rewritten — then audit the combined layout against the
    * rebuilt-from-scratch assignment ([[withCell]]):
    *
    *  - `append_complete`: the layout holds exactly the corpus
    *    (row count and distinct ids both equal n);
    *  - `append_equiv_rebuild`: every vector's stored cell equals the
    *    from-scratch assignment — appending lost/moved nothing;
    *  - `append_batch_sized`: exactly the held-out batch arrived via
    *    the append leg.
    *
    *  Scale shape: the threshold is one TakeOrdered; both audit legs
    *  are O(n) scans/equi-joins — no quadratic anywhere. */
  def q144IvfAppend(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val n = e.count()
    val batchN = math.max(1L, math.min(n / 2, math.max(64L, n / 10)))
    val t = e.select(col("vec_id")).orderBy(col("vec_id").desc)
      .limit(batchN.toInt).agg(min(col("vec_id"))).head().getLong(0)
    val dir = InferOps.tmpPath("ivf_append", d)
    val ivf = ivfIndex(s, d)
    ivf.write(e.filter(col("vec_id") < t), dir)
    ivf.write(e.filter(col("vec_id") >= t), dir, append = true)
    val audit = DurableIndex.coverage(storedCells(s, dir),
      withCell(s, d).select(col("vec_id"), col("cell")), "vec_id",
      count(when(col("vec_id") >= t, 1)))
    DurableIndex.gate(s, Seq(
      ("append_batch_sized", audit.getLong(3) == batchN),
      ("append_complete", audit.getLong(0) == n && audit.getLong(1) == n),
      ("append_equiv_rebuild", audit.getLong(2) == 0L)))
  }

  val q144Sql: String =
    """SELECT * FROM (VALUES
      | ('append_batch_sized', true), ('append_complete', true),
      | ('append_equiv_rebuild', true)
      |) t(component, ok) ORDER BY component""".stripMargin

  // ----- stream-maintained IVF layout (q186) -------------------------

  /** q186: the IVF layout maintained from a LIVE STREAM — the last
    * empty cell of the continuous-ingestion matrix (exact index: q63
    * stream / q166 compaction; LSH index: q179 stream / q166
    * compaction; IVF layout: q144 batch-append / THIS). One run is one
    * full [[DurableIndex]] lifecycle, the q179 template applied to the
    * vector index:
    *
    *  1. the embedding corpus is staged as 3 files and streamed one
    *     file per micro-batch; each batch is assigned with the
    *     MEMOIZED codebook and appended into the partitioned layout —
    *     per-batch cost O(batch), never O(corpus);
    *  2. tombstones (CDC deletes arriving after ingestion;
    *     vec_id % 10 = 7) are compacted away into a new generation;
    *  3. the compacted stream-built generation is audited against the
    *     from-scratch assignment and a layout REBUILT in one batch
    *     from the surviving corpus: completeness (exactly the
    *     surviving corpus, no dup ids), per-vector cell equivalence
    *     (stream-built ≡ rebuilt — cell assignment is a per-vector
    *     artifact of the shared codebook, so parity holds by
    *     construction and any cross-vector state sneaking into the
    *     build breaks HERE first), tombstone absence, behavioral
    *     probe equivalence ([[ivfKnnPartitioned]] answers the same
    *     top-5 kNN from both generations), and the batch-count check
    *     proving the stream really split.
    *
    * Every audit leg is an O(corpus) scan/equi-join; dir resets keep
    * the query idempotent across bench repeats. */
  def q186StreamIvfIndex(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val stage = DurableIndex.stage(s, "sivf_src", d, "embeddings", e)
    val layout = InferOps.tmpPath("sivf_layout", d)
    val gen2 = InferOps.tmpPath("sivf_gen2", d)
    val ref = InferOps.tmpPath("sivf_ref", d)
    val ivf = ivfIndex(s, d)
    ivf.drop(s, layout)
    val nBatches = DurableIndex.streamFiles(s, stage, e.schema)(
      ivf.write(_, layout, append = true))
    val tomb = e.filter(col("vec_id") % 10 === 7).select(col("vec_id"))
    val surviving = e.join(broadcast(tomb), Seq("vec_id"), "left_anti")
    // generation rewrite ∥ reference rebuild ∥ survivor count: disjoint
    // outputs / independent scans (guide §2.6) — the codebook these
    // assignments share is already memoized
    val nSurv = Par.run(Seq[() => Any](
      () => ivf.compact(s, layout, gen2, tomb),
      () => ivf.write(surviving, ref),
      () => surviving.count()))(2).asInstanceOf[Long]
    val rebuilt = withCell(s, d)
      .join(broadcast(tomb), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
    def knn(layout: String) =
      ivfKnnPartitioned(s, d, layout).select(col("qid"), col("rnk"), col("nid"))
    // the three audit legs are independent counts over the two
    // finished generations — overlap them too
    val legs = Par.run(Seq[() => Any](
      () => ivf.tombstonesLeft(s, gen2, tomb),
      () => DurableIndex.coverage(storedCells(s, gen2), rebuilt, "vec_id"),
      () => DurableIndex.mismatches(knn(gen2), knn(ref), Seq("qid", "rnk", "nid"))))
    val audit = legs(1).asInstanceOf[org.apache.spark.sql.Row]
    DurableIndex.gate(s, Seq(
      ("stream_complete",
        audit.getLong(0) == nSurv && audit.getLong(1) == nSurv),
      ("stream_equiv_rebuild", audit.getLong(2) == 0L),
      ("stream_probe_equiv", legs(2) == 0L),
      ("stream_saw_batches", nBatches == 3),
      ("stream_tombstones_gone", legs(0) == 0L)))
  }

  val q186Sql: String =
    """SELECT * FROM (VALUES
      | ('stream_complete', true), ('stream_equiv_rebuild', true),
      | ('stream_probe_equiv', true), ('stream_saw_batches', true),
      | ('stream_tombstones_gone', true)
      |) t(component, ok) ORDER BY component""".stripMargin

  private val Dim = 64
  // r=4 bits per table, L=16 tables: collision prob for a cosine-0.4
  // neighbor ≈ 1-(1-p^4)^16 ≈ 0.94 (p = 1-θ/π ≈ 0.63) — wider buckets
  // with more tables beat narrow buckets on weakly-clustered vectors
  private val BitsPerTable = 4
  private val NumTables = 16

  /** Per-vector array statistics — array functions surface (size /
   *  aggregate / array_min / array_max), all per-row deterministic. */
  def q39VectorStats(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(
      col("vec_id"), col("label"),
      size(col("embedding")).cast("long").as("dim"),
      round(sqrt(aggregate(transform(col("embedding"), _.cast("double")),
        lit(0.0), (a, x) => a + x * x)), 6).as("norm"),
      round(array_min(col("embedding")).cast("double"), 6).as("min_el"),
      round(array_max(col("embedding")).cast("double"), 6).as("max_el"))
      .orderBy(col("vec_id"))

  val q39Sql: String =
    """SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS dim,
      | round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS norm,
      | round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_el,
      | round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_el
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Seed-deterministic random hyperplanes (java.util.Random LCG →
   *  identical across JVMs/runs). */
  private lazy val hyperplanes: Array[Array[Double]] = {
    val rnd = new java.util.Random(42L)
    Array.fill(NumTables * BitsPerTable)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  /** Approximate NN via random-hyperplane (sign) LSH: 16 tables × 4
   *  sign bits; candidates collide on a whole table key, then exact
   *  cosine re-rank. Pure column expressions (no UDF, no driver
   *  loop): the bucket join replaces the cross product at scale.
   *  Engine-specific hashing → rows-only check. */
  def q27KnnLsh(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // fail fast on a dimension mismatch: dot(v, plane) returns NULL
    // when lengths differ, every when(dot > 0) would fall to 0, and
    // ALL vectors would silently collapse into key 0 of every table —
    // a 16×-amplified all-pairs join returning plausible results
    e.select(size(col("v"))).head(1).foreach { r =>
      require(r.getInt(0) == Dim,
        s"q27 hyperplanes are $Dim-dimensional; corpus vectors have dim ${r.getInt(0)}")
    }
    // native DotProduct: the zip_with/aggregate formulation allocates
    // an intermediate array per (row, plane) — 64 allocations per row
    def tableKey(t: Int): Column =
      (0 until BitsPerTable).map { b =>
        val plane = typedLit(hyperplanes(t * BitsPerTable + b).toSeq)
        when(graft.functions.GraftFunctions.dot(col("v"), plane) > 0, lit(1L << b))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    val keyed = e.select(col("vec_id"), col("v"),
      explode(array((0 until NumTables).map(t =>
        struct(lit(t).as("t"), tableKey(t).as("key"))): _*)).as("tk"))
      .select(col("vec_id"), col("v"), col("tk.t"), col("tk.key"))
    val q = keyed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("t").as("qt"), col("key").as("qkey"))
    val cand = keyed.join(broadcast(q),
        col("t") === col("qt") && col("key") === col("qkey") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qv"), col("vec_id").as("nid"), col("v").as("nv"))
      .dropDuplicates("qid", "nid")
    cand
      .withColumn("sim", round(cosine_sim(col("qv"), col("nv")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk"), col("nid"), col("sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  // ---- Product quantization (q89) ----------------------------------

  private val PqM = 8           // subspaces (64-d → 8-d sub-vectors)
  private val PqK = 16          // centroids per subspace → 4-bit codes
  private val PqCandidates = 50 // ADC shortlist size before exact re-rank
  // hard bound on the tie-inclusive shortlist (see pqShortlistRerank):
  // an equal-code family larger than this is cut by id order — the
  // documented boundedness trade, mirroring Dedup.HotBucketCap
  private val PqTieCap = 1000

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Euclidean k-means (k-means++ seed, Lloyd mean updates) — the PQ
    * sub-quantizer fit. Deterministic via the seeded LCG, same
    * bounded-sample contract as [[fitCodebook]]. */
  private def kmeansL2(xs: Array[Array[Double]], k: Int, seed: Long): Array[Array[Double]] = {
    val kk = math.min(k, xs.length)
    val dim = xs.head.length
    val rnd = new java.util.Random(seed)
    val seeds = scala.collection.mutable.ArrayBuffer(xs(rnd.nextInt(xs.length)))
    while (seeds.length < kk) {
      val d2 = xs.map(v => seeds.map(c => l2(v, c)).min)
      val tot = d2.sum
      if (tot <= 0) seeds += xs(rnd.nextInt(xs.length))
      else {
        var r = rnd.nextDouble() * tot
        var i = 0
        while (i < d2.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
        seeds += xs(i)
      }
    }
    var centroids = seeds.toArray.map(_.clone)
    for (_ <- 0 until KMeansIters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      xs.foreach { v =>
        var best = 0; var bd = l2(v, centroids(0)); var c = 1
        while (c < kk) {
          val dd = l2(v, centroids(c)); if (dd < bd) { best = c; bd = dd }; c += 1
        }
        counts(best) += 1
        var j = 0; while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      centroids = Array.tabulate(kk) { c =>
        if (counts(c) == 0) centroids(c)
        else { val m = sums(c); var j = 0; while (j < dim) { m(j) /= counts(c); j += 1 }; m }
      }
    }
    centroids
  }

  /** Per-subspace PQ codebooks over the same bounded unit-normalized
    * sample as the IVF fit: m × k × (dim/m) doubles, corpus-size-
    * independent driver cost, memoized per corpus. Unit-normalized
    * full vectors make squared L2 ≡ 2 − 2·cosine, so ADC distance
    * ordering matches cosine ordering. */
  private[ops] def fitPqCodebooks(e: DataFrame): Array[Array[Array[Double]]] = {
    val sample: Array[Array[Double]] = e.sort(col("vec_id")).limit(KMeansSample)
      .collect()
      .map(r => unit(r.getSeq[Float](1).map(_.toDouble).toArray))
    if (sample.isEmpty || sample.head.length % PqM != 0) return Array.empty
    val sub = sample.head.length / PqM
    Array.tabulate(PqM) { i =>
      kmeansL2(sample.map(v => java.util.Arrays.copyOfRange(v, i * sub, (i + 1) * sub)),
        PqK, seed = 7L + i)
    }
  }

  /** Encode one unit-normalized vector as m 4-bit subspace codes
    * packed into a single Int (m=8 × log₂(k=16) = 32 bits): argmin
    * centroid per subspace, ties toward the lower index. ONE encoding
    * routine shared by the in-memory path (q89) and the persisted
    * layout ([[pqWriteCodes]]), so the two can never drift. */
  private def encodePacked(v: Array[Double],
      books: Array[Array[Array[Double]]], sub: Int): Int = {
    var packed = 0
    var i = 0
    while (i < PqM) {
      val vs = java.util.Arrays.copyOfRange(v, i * sub, (i + 1) * sub)
      var best = 0; var bd = l2(vs, books(i)(0)); var c = 1
      while (c < books(i).length) {
        val dd = l2(vs, books(i)(c)); if (dd < bd) { best = c; bd = dd }; c += 1
      }
      packed |= best << (4 * i); i += 1
    }
    packed
  }

  /** The fixed query set (vec_id < 10) with per-query ADC lookup
    * tables: m × k sub-distances query-subvector → centroid. Driver
    * cost is queries × m × k doubles — corpus-size-independent. */
  private def pqQueryLuts(e: DataFrame,
      books: Array[Array[Array[Double]]]): Array[(Long, Array[Array[Double]])] = {
    val sub = books(0)(0).length
    e.filter(col("vec_id") < 10)
      .collect()
      .map(r => (r.getLong(0), unit(r.getSeq[Float](1).map(_.toDouble).toArray)))
      .map { case (qid, qv) =>
        (qid, Array.tabulate(PqM) { i =>
          val qs = java.util.Arrays.copyOfRange(qv, i * sub, (i + 1) * sub)
          books(i).map(l2(qs, _))
        })
      }
  }

  /** Shared q89/[[pqKnnFromCodes]] tail: bounded ADC shortlist, then
    * exact cosine re-rank. Larger value wins in TopK, so the
    * quantized distance is negated (unit-sphere L2² ∈ [0,4] → the
    * 1e9 quantization keeps 9 significant digits, far below any
    * meaningful ADC gap); the shortlist rides the bounded TopK
    * aggregate, not a window sort.
    *
    * The shortlist is TIE-INCLUSIVE: every candidate whose quantized
    * ADC distance is at least as good as the PqCandidates-th best
    * enters the re-rank (up to the PqTieCap heap bound). ADC cannot
    * rank inside an equal-code group — a 4-bit-per-subspace code maps
    * many near-clones to the SAME code word — so cutting an equal-
    * distance group at position k by an arbitrary id order discards
    * true neighbors the exact re-rank could have recovered. The q61
    * pq floor caught exactly this at the 100× octave: ±3% clone
    * families of ~100 vectors share one code word, the old id-order
    * cut kept the lowest 50 ids of the tied family, and recall fell
    * below 0.6 (families of ≤50 at the 50× octave still fit — a
    * cliff at the shortlist size). Beyond PqTieCap the cut is the
    * documented boundedness trade, same contract as the dedup side's
    * hot-bucket cap. */
  private def pqShortlistRerank(e: DataFrame, scored: DataFrame): DataFrame = {
    val cand = scored
      .withColumn("negq", (-col("adc") * lit(1e9)).cast("long"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.topk(col("negq"), col("nid"), PqTieCap).as("sel"))
      // boundary key = the PqCandidates-th best kept (everything kept
      // when the corpus is smaller than the shortlist)
      .withColumn("thr",
        when(size(col("sel")) >= PqCandidates,
          element_at(col("sel.v"), PqCandidates))
          .otherwise(lit(Long.MinValue)))
      .select(col("qid"),
        explode(expr("filter(sel, x -> x.v >= thr)")).as("c"))
      .select(col("qid"), col("c.payload").as("nid"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    cand.join(e, col("nid") === col("vec_id"))
      .join(broadcast(q), "qid")
      .withColumn("sim", round(cosine_sim(col("embedding"), col("qe")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk"), col("nid"), col("sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** q89: product-quantization ANN — THE memory-bound 100 TB vector
   *  technique: each 256-byte float vector is encoded once as m=8
   *  4-bit codes (32× less scan traffic), queries score the codes via
   *  per-subspace lookup tables (asymmetric distance computation),
   *  and only the ADC top-`PqCandidates` shortlist is re-ranked with
   *  exact cosine. One corpus pass encodes AND scores; the persisted
   *  variant ([[pqWriteCodes]] + [[pqKnnFromCodes]]) stores the codes
   *  once and pays only the 4-byte-per-vector LUT scan per query
   *  batch — PqCodesLayoutSpec proves the two paths identical.
   *  Engine-specific → rows-only check; quality gated through q61
   *  (top-5 overlap vs exact ≥ 0.6, same floor as IVF). */
  def q89KnnPq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    graft.functions.TopK.register(s)
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val books = CorpusArtifacts.memo(s, "pq", d, "embeddings")(fitPqCodebooks(e))
    if (books.isEmpty)
      return s.emptyDataset[(Long, Long, Long, Double)]
        .toDF("qid", "rnk", "nid", "sim")
    val luts = pqQueryLuts(e, books)
    if (luts.isEmpty)
      return s.emptyDataset[(Long, Long, Long, Double)]
        .toDF("qid", "rnk", "nid", "sim")
    val sub = books(0)(0).length
    val bBooks = s.sparkContext.broadcast(books)
    val bLuts = s.sparkContext.broadcast(luts)
    val scored = e.as[(Long, Array[Float])].mapPartitions { it =>
      val bks = bBooks.value
      val ls = bLuts.value
      it.flatMap { case (vid, emb) =>
        val packed = encodePacked(unit(emb.map(_.toDouble)), bks, sub)
        ls.iterator.filter(_._1 != vid).map { case (qid, lut) =>
          var dist = 0.0; var j = 0
          while (j < PqM) { dist += lut(j)((packed >>> (4 * j)) & 0xF); j += 1 }
          (qid, vid, dist)
        }
      }
    }.toDF("qid", "nid", "adc")
    pqShortlistRerank(e, scored)
  }

  /** Persist the PQ codes column as a LAYOUT (mirror of
    * the [[ivfIndex]] layout for the coarse layer): every vector
    * encoded once — via the same [[encodePacked]] routine and the
    * same memoized codebooks as q89, so layout and in-memory path can
    * never disagree — into (vec_id, code:int) parquet. At 100 TB this
    * is the 32× scan-traffic reduction made durable: query batches
    * scan 4 bytes/vector instead of the 256-byte embedding, and only
    * the shortlist re-rank ever touches the full vectors. */
  def pqWriteCodes(s: SparkSession, d: String, out: String): Unit = {
    import s.implicits._
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val books = CorpusArtifacts.memo(s, "pq", d, "embeddings")(fitPqCodebooks(e))
    require(books.nonEmpty, s"$d: corpus not PQ-encodable (empty or dim % $PqM != 0)")
    val sub = books(0)(0).length
    val bBooks = s.sparkContext.broadcast(books)
    e.as[(Long, Array[Float])].mapPartitions { it =>
      val bks = bBooks.value
      it.map { case (vid, emb) =>
        (vid, encodePacked(unit(emb.map(_.toDouble)), bks, sub))
      }
    }.toDF("vec_id", "code")
      .write.mode("overwrite").parquet(out)
  }

  /** Top-5 kNN over a [[pqWriteCodes]] layout: the ADC scan reads
    * ONLY (vec_id, code) — the corpus embedding column is touched
    * just for the bounded shortlist re-rank and the 10-query LUT
    * build. Same LUTs, same shortlist, same re-rank as q89 →
    * identical results (PqCodesLayoutSpec). */
  def pqKnnFromCodes(s: SparkSession, d: String, layout: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    graft.functions.TopK.register(s)
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val books = CorpusArtifacts.memo(s, "pq", d, "embeddings")(fitPqCodebooks(e))
    require(books.nonEmpty, s"$d: corpus not PQ-encodable")
    val luts = pqQueryLuts(e, books)
    val bLuts = s.sparkContext.broadcast(luts)
    val scored = s.read.parquet(layout).as[(Long, Int)].mapPartitions { it =>
      val ls = bLuts.value
      it.flatMap { case (vid, packed) =>
        ls.iterator.filter(_._1 != vid).map { case (qid, lut) =>
          var dist = 0.0; var j = 0
          while (j < PqM) { dist += lut(j)((packed >>> (4 * j)) & 0xF); j += 1 }
          (qid, vid, dist)
        }
      }
    }.toDF("qid", "nid", "adc")
    pqShortlistRerank(e, scored)
  }

  // ---------------------------------------------------------------
  // q152: hard-negative mining for contrastive training
  // ---------------------------------------------------------------

  /** q152: hard-negative mining — for each query vector, the top-5
   *  most-cosine-similar vectors whose LABEL differs (the "looks the
   *  same, means something else" candidates a contrastive or reranker
   *  training set wants as negatives). The q26 exact-knn shape with a
   *  label-disagreement predicate pushed into the join condition, so
   *  same-label pairs never reach the scorer.
   *
   *  Scale: identical to q26's — the bounded query set broadcasts,
   *  the corpus streams once; swap the brute leg for the IVF/PQ probe
   *  (q37/q89) when the corpus outgrows a scan, the label predicate
   *  composes unchanged. round(…, 6) is fine here: cosine is
   *  irrational, the rational-rounding hazard doesn't apply. */
  def q152HardNegatives(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"), col("label"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("q_label"))
    val ranked = e.join(broadcast(q), col("label") =!= col("q_label"))
      .withColumn("sim", round(cosine_sim(col("embedding"), col("qe")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("sim").desc, col("vec_id"))).cast("long"))
      .filter(col("rnk") <= 5)
    ranked.select(col("qid"), col("rnk"), col("vec_id").as("nid"),
        col("q_label").cast("long").as("q_label"),
        col("label").cast("long").as("n_label"), col("sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  // ---------------------------------------------------------------
  // q155: int8 embedding quantization with a certified error bound
  // ---------------------------------------------------------------

  /** q155: symmetric absmax int8 quantization of the embedding
   *  column — the 4× storage/bandwidth reduction an embedding store
   *  takes before ANN at the 100 TB scale (the PQ leg (q89) compresses
   *  harder but lossier; int8 is the "keep re-rankable fidelity"
   *  tier). Per vector: scale = absmax/127, code_i =
   *  floor(x_i/scale + 0.5) ∈ [-127, 127], plus a SELF-CERTIFYING
   *  reconstruction audit: max |x_i − code_i·scale| must sit under
   *  scale/2 (+1 ulp slack), shipped as the err_ok gate column.
   *
   *  Determinism (oracle-hashed, not rows-only): float→double widening
   *  is exact, every per-element op (divide, +0.5, floor, multiply,
   *  subtract, abs) is one IEEE double op both engines run
   *  identically, and the only reductions are exact-integer sums and
   *  order-free maxes — `round()` half-mode divergence never enters
   *  (floor(v+0.5) IS the rounding). Zero vectors quantize to zero
   *  codes with err 0 rather than NaN.
   *
   *  Scale: embarrassingly parallel single projection — no shuffle,
   *  no UDF (array higher-order functions), codes stay with the row
   *  so the downstream layout write is the same partitioned write the
   *  IVF path uses. */
  def q155Int8Quant(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      .withColumn("absmax", array_max(transform(col("embedding"),
        x => abs(x.cast("double")))))
      .withColumn("scale", col("absmax") / lit(127.0))
    val codes = when(col("absmax") === 0.0,
        transform(col("embedding"), _ => lit(0L)))
      .otherwise(transform(col("embedding"),
        x => floor(x.cast("double") / col("scale") + lit(0.5))))
    val err = when(col("absmax") === 0.0, lit(0.0))
      .otherwise(array_max(zip_with(col("embedding"), col("codes"),
        (x, c) => abs(x.cast("double") - c.cast("double") * col("scale")))))
    e.withColumn("codes", codes)
      .withColumn("max_abs_err", err)
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        col("absmax"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        aggregate(col("codes"), lit(0L), (a, c) => a + abs(c)).as("code_l1"),
        col("max_abs_err"),
        (col("max_abs_err") <= col("scale") * lit(0.5000000001))
          .cast("int").cast("long").as("err_ok"))
      .orderBy(col("vec_id"))
  }

  val q155Sql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (
      |  SELECT vec_id, v,
      |   list_max(list_transform(v, x -> abs(x))) AS absmax
      |  FROM e),
      |q AS (
      |  SELECT vec_id, v, absmax, absmax / 127.0 AS scale,
      |   CASE WHEN absmax = 0
      |    THEN list_transform(v, x -> CAST(0 AS BIGINT))
      |    ELSE list_transform(v, x -> CAST(floor(x / (absmax / 127.0) + 0.5) AS BIGINT))
      |   END AS codes
      |  FROM s)
      |SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims, absmax,
      | CAST(coalesce(list_sum(codes), 0) AS BIGINT) AS code_sum,
      | CAST(coalesce(list_sum(list_transform(codes, c -> abs(c))), 0) AS BIGINT) AS code_l1,
      | CASE WHEN absmax = 0 THEN 0.0
      |  ELSE list_max(list_transform(range(1, len(v) + 1),
      |        i -> abs(v[i] - codes[i] * scale)))
      | END AS max_abs_err,
      | CAST(CASE WHEN (CASE WHEN absmax = 0 THEN 0.0
      |   ELSE list_max(list_transform(range(1, len(v) + 1),
      |         i -> abs(v[i] - codes[i] * scale))) END)
      |   <= scale * 0.5000000001 THEN 1 ELSE 0 END AS BIGINT) AS err_ok
      |FROM q ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------
  // q157: kNN over the int8-quantized embeddings (exact integer dot)
  // ---------------------------------------------------------------

  /** q157: similarity search over q155's int8 codes — the query the
   *  quantized store actually serves: score(q, c) =
   *  codeDot(q, c) · scale_q · scale_c ≈ ⟨x_q, x_c⟩, reading 4× fewer
   *  bytes per candidate than the float leg. The ranking is
   *  oracle-HASHED, not rows-only, because nothing in it is
   *  engine-soft: the code dot is an EXACT long sum (order-free), the
   *  two scale factors are single IEEE multiplies of identical
   *  doubles, and ties break on vec_id. This is the q26 broadcast
   *  shape; at the 100 TB octave the candidate side becomes the
   *  IVF-partitioned layout (q37) with codes stored per cell — the
   *  scoring expression composes unchanged.
   *
   *  Honest semantics note: this ranks by the QUANTIZED similarity —
   *  near-ties of the float ranking may legitimately swap; that is
   *  the accuracy/bandwidth trade int8 stores make, and q155's
   *  certified per-element error bound is the contract that keeps the
   *  swap window at scale/2 per dimension. */
  def q157KnnInt8(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      .withColumn("absmax", array_max(transform(col("embedding"),
        x => abs(x.cast("double")))))
      .withColumn("scale", col("absmax") / lit(127.0))
      .withColumn("codes", when(col("absmax") === 0.0,
          transform(col("embedding"), _ => lit(0L)))
        .otherwise(transform(col("embedding"),
          x => floor(x.cast("double") / col("scale") + lit(0.5)))))
      .select(col("vec_id"), col("scale"), col("codes"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("scale").as("q_scale"),
        col("codes").as("q_codes"))
    val ranked = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("code_dot",
        aggregate(zip_with(col("codes"), col("q_codes"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
      .withColumn("score",
        col("code_dot").cast("double") * col("scale") * col("q_scale"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("vec_id"))).cast("long"))
      .filter(col("rnk") <= 5)
    ranked.select(col("qid"), col("rnk"), col("vec_id").as("nid"),
        col("code_dot"), col("score"))
      .orderBy(col("qid"), col("rnk"))
  }

  val q157Sql: String =
    """WITH e0 AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (
      |  SELECT vec_id, v,
      |   list_max(list_transform(v, x -> abs(x))) AS absmax
      |  FROM e0),
      |e AS (
      |  SELECT vec_id, absmax / 127.0 AS scale,
      |   CASE WHEN absmax = 0
      |    THEN list_transform(v, x -> CAST(0 AS BIGINT))
      |    ELSE list_transform(v, x -> CAST(floor(x / (absmax / 127.0) + 0.5) AS BIGINT))
      |   END AS codes
      |  FROM s),
      |p AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS nid,
      |   CAST(list_sum(list_transform(range(1, len(c.codes) + 1),
      |         i -> c.codes[i] * q.codes[i])) AS BIGINT) AS code_dot,
      |   c.scale AS c_scale, q.scale AS q_scale
      |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      |p2 AS (
      |  SELECT qid, nid, code_dot,
      |   CAST(code_dot AS DOUBLE) * c_scale * q_scale AS score
      |  FROM p)
      |SELECT qid, rnk, nid, code_dot, score FROM (
      | SELECT qid, nid, code_dot, score,
      |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
      | FROM p2) t
      |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  val q152Sql: String =
    """SELECT qid, rnk, nid, q_label, n_label, sim FROM (
      | SELECT qid, nid, q_label, n_label, sim,
      |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
      | FROM (
      |  SELECT q.vec_id AS qid, c.vec_id AS nid,
      |   CAST(q.label AS BIGINT) AS q_label, CAST(c.label AS BIGINT) AS n_label,
      |   round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
      |     / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
      |        * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS sim
      |  FROM embeddings q JOIN embeddings c
      |   ON q.vec_id < 10 AND c.label <> q.label) p) t
      |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  // ----- durable two-level codebook artifact + scaled stream
  // ----- maintenance (q189, round-14 stretch)

  /** (k1, k2, coarse centroids, fine sub-codebooks per coarse cell). */
  private[ops] type Artifact =
    (Int, Int, Array[Array[Double]], Array[Array[Array[Double]]])

  /** Both blocking levels as ONE durable, driver-sized artifact —
   *  what [[twoLevelWithCell]] deliberately does NOT produce (its
   *  fine fits are fused into the layout pass and discarded). A
   *  stream-maintained SCALED layout needs them durable: each append
   *  batch must assign against the SAME fine sub-codebooks the base
   *  layout used, and past the flat ceiling those cannot be refit
   *  per batch (a corpus pass each) nor recovered from the layout.
   *  Total size k1·k2·dim doubles = k·dim ≈ 2 MB at 4096×64 —
   *  driver-sized at any k this tier reaches.
   *
   *  Tier-uniform: k ≤ [[KMeansSample]] degrades to (k1 = k, k2 = 1,
   *  fine = empty) and assignment reduces to the flat [[cellAssign]]
   *  expression with the same memoized codebook — so the artifact
   *  path is one code shape at every octave and the two-level tier
   *  engages exactly where [[withCell]]'s does.
   *
   *  FROZEN-index contract (stated, gated): at the scaled tier the
   *  per-cell population (~[[ScaledCellPop]]) is BELOW the fit-sample
   *  cap, so any append necessarily changes what a from-scratch refit
   *  would sample — append-≡-refit (the flat tier's q144 guarantee)
   *  is structurally unavailable past the ceiling. The artifact is
   *  therefore versioned-frozen: appends assign under the base
   *  artifact (what FAISS-class systems do), audits compare against
   *  the SAME frozen artifact, and refitting is a compaction-time
   *  rewrite (the q166 LSH-compaction discipline). */
  private[ops] def twoLevelCodebooks(s: SparkSession, e: DataFrame, k: Int): Artifact = {
    import s.implicits._
    if (k <= KMeansSample) {
      val coarse = fitCodebook(e, k)
      return (coarse.length, 1, coarse, Array.fill(coarse.length)(Array.empty[Array[Double]]))
    }
    val k2 = (k + KMeansSample - 1) / KMeansSample
    val k1Req = (k + k2 - 1) / k2
    val coarse = fitCodebook(e, k1Req)
    require(coarse.nonEmpty, "empty corpus, nothing to fit")
    // REALIZED coarse count: lloyd caps centroids at the sample size,
    // so a small corpus yields fewer cells than requested — the
    // artifact must record what was fit, not what was asked (ghost
    // empty cells otherwise corrupt the read-back)
    val k1 = coarse.length
    val cents: Array[(Int, Seq[Double])] =
      coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    val sampleCap = KMeansSample
    // one distributed pass: per coarse cell, fit the fine sub-codebook
    // on the cell's smallest-vec_id sample — THE SAME sample discipline
    // (and the same pure lloyd core) as the fused path, so the
    // collected artifact is bit-identical to what twoLevelWithCell
    // fits in-flight
    val fineRows = e.withColumn("ccell", cellAssign(cents))
      .select(col("vec_id"), col("v"), col("ccell"))
      .repartition(col("ccell"))
      .sortWithinPartitions(col("ccell"), col("vec_id"))
      .as[(Long, Seq[Float], Int)]
      .mapPartitions { rows =>
        val b = rows.buffered
        new Iterator[(Int, Seq[Seq[Double]])] {
          def hasNext: Boolean = b.hasNext
          def next(): (Int, Seq[Seq[Double]]) = {
            val cc = b.head._3
            val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
            while (b.hasNext && b.head._3 == cc && buf.length < sampleCap)
              buf += unit(b.next()._2.map(_.toDouble).toArray)
            while (b.hasNext && b.head._3 == cc) b.next() // drain the cell
            (cc, lloyd(buf.toArray, k2).map(_.toSeq).toSeq)
          }
        }
      }.collect()
    val fine = Array.fill(k1)(Array.empty[Array[Double]])
    fineRows.foreach { case (cc, cb) => fine(cc) = cb.map(_.toArray).toArray }
    (k1, k2, coarse, fine)
  }

  /** Assign a (vec_id, v) frame under a frozen two-level artifact.
   *  Flat tier (k2 = 1): the [[cellAssign]] expression — codegen'd,
   *  bit-identical to [[withCell]]. Two-level: one streaming
   *  mapPartitions with both levels broadcast-by-closure (~2 MB),
   *  replicating the fused path's exact arithmetic — cosine via the
   *  q37 driver-side formula for the coarse argmax (greatest(struct)
   *  ties to the LARGER cid ⇒ `>=` over ascending cid), raw dot with
   *  the same tie rule for the fine level. */
  private[ops] def assignWithArtifact(s: SparkSession, batch: DataFrame,
      k1: Int, k2: Int, coarse: Array[Array[Double]],
      fine: Array[Array[Array[Double]]]): DataFrame = {
    import s.implicits._
    if (k2 == 1) {
      val cents: Array[(Int, Seq[Double])] =
        coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      return batch.select(col("vec_id"), col("v"))
        .withColumn("cell", cellAssign(cents))
    }
    batch.select(col("vec_id"), col("v")).as[(Long, Seq[Float])]
      .mapPartitions { rows =>
        rows.map { case (id, v) =>
          val vd = v.map(_.toDouble).toArray
          val nv = math.sqrt(dotd(vd, vd))
          var cc = 0
          var best = Double.NegativeInfinity
          var i = 0
          while (i < coarse.length) {
            val c = coarse(i)
            val sim = dotd(vd, c) / (nv * math.sqrt(dotd(c, c)))
            // Double.compare, not `>=` (advice round-14): a zero-norm
            // vector makes every sim NaN, and plain `sim >= best`
            // never fires (cell 0) while [[cellAssign]]'s
            // greatest(struct) ranks NaN above everything with
            // NaN == NaN ties falling to the LARGER cid. Double
            // .compare implements exactly Spark's total order (NaN
            // greatest, NaN equal to itself), so the closure tracks
            // the expression path bit-for-bit on degenerate vectors
            // too. (A NULL vector element still fails loudly in the
            // Seq[Float] deserializer before this loop — same
            // loudness class as the parity audit.)
            if (java.lang.Double.compare(sim, best) >= 0) { cc = i; best = sim } // ties: larger cid
            i += 1
          }
          val fb = fine(cc)
          var f = 0
          if (fb.nonEmpty) {
            var bd = dotd(vd, fb(0)); var j = 1
            while (j < fb.length) {
              val dd = dotd(vd, fb(j))
              if (dd >= bd) { f = j; bd = dd } // ties: larger fine id
              j += 1
            }
          }
          (id, v, cc * k2 + f)
        }
      }.toDF("vec_id", "v", "cell")
  }

  /** Persist / load the artifact as a SIBLING dir of the layout
   *  (`<layout>_codebook`): an underscore-prefixed CHILD would be
   *  invisible even to a direct read (Spark's file index hides
   *  underscore paths at every level), and a plain child would leak
   *  into whole-layout scans. One row per coarse cell. */
  private[ops] def writeArtifact(s: SparkSession, layout: String, k1: Int,
      k2: Int, coarse: Array[Array[Double]],
      fine: Array[Array[Array[Double]]]): Unit = {
    import s.implicits._
    coarse.indices.map { i =>
      (i, k1, k2, coarse(i).toSeq, fine(i).map(_.toSeq).toSeq)
    }.toDF("ccell", "k1", "k2", "centroid", "fine")
      .repartition(1).write.mode("overwrite").parquet(s"${layout}_codebook")
  }

  private[ops] def readArtifact(s: SparkSession, layout: String): Artifact = {
    val rows = s.read.parquet(s"${layout}_codebook").collect()
    require(rows.nonEmpty, s"$layout: no codebook artifact")
    val k1 = rows.head.getInt(1); val k2 = rows.head.getInt(2)
    val coarse = Array.fill(k1)(Array.empty[Double])
    val fine = Array.fill(k1)(Array.empty[Array[Double]])
    rows.foreach { r =>
      val i = r.getInt(0)
      coarse(i) = r.getSeq[Double](3).toArray
      // element type must be collection.Seq: Spark materializes nested
      // arrays as mutable.ArraySeq, and an immutable.Seq element cast
      // blows up EXACTLY when fine codebooks are non-empty — i.e. only
      // past the flat ceiling (found by the 1000× probe, invisible at
      // every octave where k2 = 1)
      fine(i) = r.getSeq[scala.collection.Seq[Double]](4)
        .map(_.toArray).toArray
    }
    (k1, k2, coarse, fine)
  }

  /** The scaled IVF index ([[DurableIndex]]) under the frozen
   *  artifact `art`: cells from [[assignWithArtifact]] — appends are
   *  O(batch), no corpus pass, no refit. */
  private def scaledIndex(s: SparkSession, art: Artifact): DurableIndex = {
    val (k1, k2, coarse, fine) = art
    DurableIndex.cells(b => assignWithArtifact(s, vectors(b), k1, k2, coarse, fine))
  }

  /** Fit corpus `d`'s frozen artifact at the corpus-scaled cell count
   *  ([[scaledCellCount]]: a block-local quadratic consumer such as
   *  SemDeDup does per-cell work bounded by [[ScaledCellPop]]² and
   *  TOTAL work linear in the corpus), persist it beside `layout` and
   *  register that sibling as scratch (it is not tmpPath-tracked).
   *  Beside a registry dir ([[scaledLayoutDir]]) it also goes when
   *  the layout does ([[CorpusArtifacts]]).
   *  Returns the index the artifact defines and the requested k. */
  private[ops] def fitScaledIndex(s: SparkSession, d: String,
      layout: String): (DurableIndex, Int) = {
    graft.functions.GraftFunctions.register(s)
    val e = vectors(embeddings(s, d))
    val k = scaledCellCount(e.count())
    val art @ (k1, k2, coarse, fine) = twoLevelCodebooks(s, e, k)
    writeArtifact(s, layout, k1, k2, coarse, fine)
    InferOps.registerScratch(s"${layout}_codebook")
    (scaledIndex(s, art), k)
  }

  /** The scaled IVF index whose frozen artifact sits beside `layout`
   *  (read back, ~2 MB) — what a cell assignment under the persisted
   *  artifact means today, and the index appends go through. */
  private[ops] def scaledIndexAt(s: SparkSession, layout: String): DurableIndex = {
    graft.functions.GraftFunctions.register(s)
    scaledIndex(s, readArtifact(s, layout))
  }

  /** The durable SCALED (two-level artifact) layout for corpus `d`,
   *  a derived dir of its embeddings — the scaled twin of
   *  [[ivfLayoutDir]], added for q190 (SemDeDup candidate generation
   *  over two-level cells, round-15): corpus-scaled cell count, both
   *  blocking levels persisted as the frozen sibling artifact, flat-
   *  degenerate below the [[KMeansSample]] ceiling so one code shape
   *  serves every octave and the two-level tier engages naturally at
   *  the 1000× dir's 2 M vectors. */
  def scaledLayoutDir(s: SparkSession, d: String): String =
    CorpusArtifacts.dir(s, "ivf_scaled_layout", d, "embeddings") { dir =>
      fitScaledIndex(s, d, dir)._1.write(embeddings(s, d), dir)
    }

  /** q189: the SCALED IVF layout maintained from a live stream — the
   *  q186 lifecycle at the tier q186 stops short of. Stage the corpus
   *  as 3 files, build the frozen artifact from the full corpus (the
   *  smallest-id sample discipline — batches with ids above the
   *  sample leave it unchanged, the q144 contract), stream-append
   *  every batch under it, tombstone a decile, compact, then audit:
   *
   *   - `artifact_parity`: assignment under the artifact ≡ the fused
   *     [[withCell]] path at the same k — the two-level artifact is
   *     bit-identical to the in-flight fits (0 mismatches);
   *   - `stream_complete` / `stream_equiv_frozen`: the streamed
   *     layout holds exactly the corpus, each vector in exactly the
   *     cell the frozen artifact assigns;
   *   - `stream_saw_batches`: the maintenance really ran per-batch;
   *   - `stream_tombstones_gone`: compaction dropped the decile.
   *
   *  At the provisioned dirs k ≤ [[KMeansSample]] exercises the
   *  flat-degenerate artifact; past ~1M vectors (the 1000× dir's 2M)
   *  the two-level tier engages NATURALLY — the same query is the
   *  scale gate there. */
  def q189StreamScaledIvf(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val stage = DurableIndex.stage(s, "ssivf_src", d, "embeddings", e)
    val layout = InferOps.tmpPath("ssivf_layout", d)
    val gen2 = InferOps.tmpPath("ssivf_gen2", d)
    // the layout starts empty, carrying only the artifact: the stream
    // builds the data, each batch under the artifact read back
    val (frozenIndex, k) = fitScaledIndex(s, d, layout)
    frozenIndex.drop(s, layout)
    val nBatches = DurableIndex.streamFiles(s, stage, e.schema)(
      scaledIndexAt(s, layout).write(_, layout, append = true))
    val tomb = e.filter(col("vec_id") % 10 === 7).select(col("vec_id"))
    // frozen-artifact assignment feeds TWO audit legs (parity + the
    // completeness/equivalence aggregate) — persist so the n·(k1+k2)
    // projection runs once instead of once per leg
    val frozen = frozenIndex.build(e).select(col("vec_id"), col("cell"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (legs, nSurv) = try {
      // generation rewrite ∥ survivor count (guide §2.6)
      val nSurv0 = Par.run2(
        () => frozenIndex.compact(s, layout, gen2, tomb),
        () => e.join(broadcast(tomb), Seq("vec_id"), "left_anti").count())._2
      val fused = withCell(s, d, k).select(col("vec_id"), col("cell"))
      // the three audit legs are independent — overlap them
      (Par.run(Seq[() => Any](
        () => frozenIndex.tombstonesLeft(s, gen2, tomb),
        () => DurableIndex.coverage(storedCells(s, gen2),
          frozen.join(broadcast(tomb), Seq("vec_id"), "left_anti"), "vec_id"),
        () => DurableIndex.mismatches(frozen, fused, Seq("vec_id")))), nSurv0)
    } finally { frozen.unpersist(); () }
    val audit = legs(1).asInstanceOf[org.apache.spark.sql.Row]
    DurableIndex.gate(s, Seq(
      ("artifact_parity", legs(2) == 0L),
      ("stream_complete",
        audit.getLong(0) == nSurv && audit.getLong(1) == nSurv),
      ("stream_equiv_frozen", audit.getLong(2) == 0L),
      ("stream_saw_batches", nBatches == 3),
      ("stream_tombstones_gone", legs(0) == 0L)))
  }

  val q189Sql: String =
    """SELECT * FROM (VALUES
      | ('artifact_parity', true), ('stream_complete', true),
      | ('stream_equiv_frozen', true), ('stream_saw_batches', true),
      | ('stream_tombstones_gone', true)
      |) t(component, ok) ORDER BY component""".stripMargin
}
