package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import java.lang.Math.{addExact, multiplyExact}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * Distributed graph analytics over relational edge lists. The first
 * resident: PageRank (Brin & Page '98) over the co-purchase part
 * graph — two parts are linked when some order contains both, the
 * classic "customers who bought X also bought Y" graph, and the
 * centrality signal a catalog/curation pipeline reads off it.
 *
 * This is the DISTRIBUTED power-iteration shape — deliberately the
 * other half of q125's design space: q125 collapses its event-type
 * matrix to T² rows and iterates on a driver-sized artifact; here the
 * edge set is data-sized and stays a distributed frame, materialized
 * ONCE and reused by all iterations. How a round runs depends on the
 * tier. Under the vertex ceiling on memory-backed corpora
 * ([[attachEdges]]) the vertex state is driver-sized, as in Pregel:
 * the only distributed object is the dst-partitioned edge set held as
 * primitive edge blocks ([[EdgeBlock]]), persisted with their lineage
 * cut — the cached, lineage-truncated `EdgePartition`s of GraphX
 * (Gonzalez et al., OSDI 2014) — and kept across calls in the corpus
 * registry ([[CorpusArtifacts]]) while lineitem keeps its content key;
 * the degrees, the start vector and the readout are computed on the
 * driver, and each round is one single-stage Spark job of array loops
 * whose per-dst sums the driver combines. Elsewhere
 * ([[massPush]]) every round is one
 * ranks⋈edges equi-join on src plus one hash aggregate on dst — the
 * shuffle pair a 1000-executor PageRank runs. At 100 TB both sides
 * pre-partition on the join key (bucketing the edge table by src
 * makes each iteration's join shuffle-free on the big side).
 *
 * Determinism (cross-engine, iteration-proof): all mass arithmetic is
 * exact integer — total mass M = 10¹² units, damping 85/100, every
 * per-edge contribution is floor((r·85) / (100·deg)), every new rank
 * an order-free long sum plus the floor'd teleport share. No doubles
 * exist anywhere in the loop, so 10 iterations stay bit-identical to
 * the oracle's recursive-CTE replay (the q125 discipline, without the
 * driver-sized matrix). Overflow-safe: r ≤ M, so r·85 ≤ 8.5·10¹³.
 *
 * Every vertex of the symmetrized co-purchase graph has deg ≥ 1 (an
 * edge certifies both endpoints), so there are no dangling vertices
 * by construction and the iteration preserves the vertex row set;
 * parts never co-purchased simply aren't graph vertices.
 *
 * The round rule. Every SQL round loop — BFS, k-core, Bellman-Ford,
 * connected components, label propagation, HITS and the SQL tiers of
 * the rank core — runs through one driver ([[Rounds]]), which makes
 * four decisions, the same way for each:
 *  - Holding. The edge frame is persisted at the corpus tier's level
 *    (`EdgeTier.level`). Persisted, not checkpointed: a persisted frame
 *    keeps its partitioning, and it plan-matches later calls over the
 *    same edges, which reuse it while the table keeps its content key
 *    ([[CorpusArtifacts]]); it is never unpersisted. Two kinds of
 *    edges are read in place instead: the chunk parquet of a chunked
 *    corpus, which the rank core re-reads every round rather than
 *    park a copy beside it (the rescan tier), and edges the caller
 *    already checkpointed for the call, at a tier of level NONE (the
 *    link sets of q76, q94 and q180: nothing about them should
 *    outlive the call).
 *  - Broadcast gate. One count of the loop's vertex-sized start frame
 *    decides, against `EdgeTier.vertexCeiling`, whether the
 *    vertex-sized sides (ranks, labels, frontiers, survivors, scores)
 *    broadcast into the round joins, which leaves the edge side
 *    unshuffled. Past the ceiling the edge frame is laid out for
 *    sort-merge joins instead ([[roundEdges]]).
 *  - Cut. Each round frame is localCheckpointed, so the next round
 *    plans on a leaf, not on the whole chain ([[Rounds.cut]]).
 *  - Bound. A loop runs at most its round bound and stops earlier when
 *    its halt test says so. Once its own copy of the edges is
 *    materialized, the chunk parquet it came from is evicted
 *    ([[EdgeTier.evict]]); at chunked corpora every round ends with a
 *    reclaim ([[EdgeTier.afterRound]]).
 * Each loop keeps only its round body (exposed for the plan gates)
 * and its halt test. The attach tier of the rank core
 * ([[attachEdges]]) runs its rounds on the driver instead, and holds
 * its edge blocks in the registry, not in the cache manager.
 */
object Graph {
  import Tables._

  /** Total mass in integer units. */
  private val M = 1000000000000L
  private val Damp = 85L // /100
  private[ops] val Iterations = 10
  // largest edge strength c for which the weighted mass-push product
  // r*Damp*c (r <= M) stays inside int64 — checked at q165 runtime
  private[ops] val MaxSafeEdgeStrength = Long.MaxValue / (M * Damp)

  /** Lineitem-row threshold past which the co-purchase edge build
   *  switches to chunked sequential assembly (the q114 device). The
   *  single-pass build's distinct li⋈li must keep ~all edge rows plus
   *  its build shuffles live at once — at 1000× (600 M lineitem,
   *  ~10⁹ edges) that stack exceeded this container's ~60 GiB scratch
   *  twice (the round-12 disclosed boundary). Edge identity is
   *  per-(src, dst) and pmod(src, C) classes partition the src space,
   *  so C sequential chunk builds union EXACTLY — each chunk's live
   *  join+agg shuffle is ~1/C of the whole. The 10⁸ default keeps
   *  every octave ≤100× (60 M rows) on the single-pass plan
   *  bit-identically; on a real cluster per-executor scratch is
   *  ~1000× larger and SPARK_GRAFT_EDGEBUILD_MAX_ROWS lifts. */
  private[ops] val EdgeBuildMaxRows: Long =
    sys.env.get("SPARK_GRAFT_EDGEBUILD_MAX_ROWS").map(_.toLong)
      .getOrElse(100000000L)

  /** Lineitem row count of corpus `d`, memoized: parquet-metadata-
   *  cheap but still one job, and a dozen graph queries × Bench's
   *  min-of-N all route through here. */
  private def liCount(s: SparkSession, d: String): Long =
    CorpusArtifacts.memo(s, "li_count", d, "lineitem")(Tables.lineitem(s, d).count())

  /** Storage tier for a corpus dir's persisted/checkpointed edge
   *  frames — the q114/q135 parked-frame rule (round 15) applied to
   *  the graph family: the iterative loops re-read their edge frame
   *  10-13× per query, and DISK_ONLY+lz4 pays decompression and
   *  deserialization on every round where a memory-backed frame reads
   *  free. Below ~10⁷ lineitem rows the edge frame is ≲300 MB cached
   *  (every provisioned bench octave) — MEMORY_AND_DISK; past it the
   *  frame is data-sized and memory-resident blocks would compete
   *  with the rounds' execution memory (the measured 100× 16g OOM) —
   *  DISK_ONLY exactly as before. Same plan, same partitioning, same
   *  results either tier. */
  private def edgeLevel(s: SparkSession, d: String): StorageLevel =
    if (liCount(s, d) <= 10000000L) StorageLevel.MEMORY_AND_DISK
    else StorageLevel.DISK_ONLY

  /** Delete corpus `d`'s chunk-built edge parquet NOW. A loop that
   *  holds its own materialized copy of the edges (the persisted
   *  PageRank frame, BFS's checkpoint) duplicates the chunk parquet
   *  byte-for-byte in information content; at 1000×
   *  holding both filled a ~60 GiB single-host scratch volume to 97%
   *  and killed the q148 probe (the round-13 disclosed boundary).
   *  Fired through [[EdgeTier.evict]] exactly once that copy is
   *  MATERIALIZED — after eviction the persisted blocks are the sole
   *  copy, so a lost block can no longer recompute through lineage.
   *  That is safe in local mode (blocks live in the one surviving JVM)
   *  and moot on a real cluster (per-executor scratch is ~1000× a
   *  single host's, so the chunk path itself never engages). A later
   *  coPurchaseStrength call rebuilds. */
  private def evictEdgeChunks(d: String): Unit =
    CorpusArtifacts.release(d, "copurch").foreach { dir =>
      // make the reclaim visible in probe logs, and nudge the
      // ContextCleaner for the build join's now-dead shuffle files —
      // at 1000× the next allocation is iteration-1's shuffle and the
      // scratch it needs is exactly what the build just freed
      System.gc()
      System.err.println(s"[graph] evicted edge-chunk parquet $dir")
    }

  /** Vertex-count ceiling for broadcasting a vertex-sized side (ranks,
   *  labels, frontiers, degrees) into the round joins: the hashed
   *  relation costs ~50 B/vertex, so 20 M vertices ≈ 1 GB — affordable
   *  at the ≥48 g heaps that chunk-built corpora already require. Past
   *  it the loops fall back to SMJ rounds over an edge frame
   *  pre-partitioned and sorted by src. The 1000× co-purchase graph
   *  has ~6.5 M vertices (20 k parts × 1000 shifted copies) — a
   *  first-cut 5 M ceiling silently fell back to the SMJ shape and
   *  re-died on scratch, which is why the rank core logs its tier. */
  private[ops] val BroadcastMaxVertices = 20000000L

  /** The per-corpus edge tier: everything a graph loop needs to know
   *  about its corpus's size class, computed from the corpus by
   *  [[edgeTier]] and passed to every loop as one value. Tests build
   *  one directly to select a tier.
   *   - `level`: storage level of the persisted/checkpointed edge
   *     frames ([[edgeLevel]]); NONE holds no copy ([[Rounds]]).
   *   - `chunked`: the edge build came from the chunked assembly, the
   *     1000×-class cue. The rank core then re-scans the chunk parquet
   *     each round instead of persisting a copy (the rescan tier), and
   *     every loop reclaims scratch after each round ([[afterRound]]).
   *     Never true at ≤100×, so the bench octaves keep a gc-free loop.
   *   - `evict`: deletes the chunk parquet ([[evictEdgeChunks]]),
   *     fired once a loop's own copy of the edges is materialized
   *     (never in the rescan tier, which reads the parquet every
   *     round). A later query rebuilds the chunks.
   *   - `vertexCeiling`: the broadcast ceiling ([[BroadcastMaxVertices]]);
   *     0 forces the SMJ shapes.
   *   - `hold`: where the attach tier keeps its edge blocks across calls
   *     ([[Hold]]); without one they live for the call only. */
  final case class EdgeTier(level: StorageLevel = StorageLevel.DISK_ONLY,
      chunked: Boolean = false, evict: () => Unit = () => (),
      vertexCeiling: Long = BroadcastMaxVertices, hold: Option[Hold] = None) {
    /** Reclaim the finished round's shuffle files and dropped
     *  checkpoint blocks NOW at chunked-build scale: ContextCleaner is
     *  GC-driven AND async — the gc queues the dead references, the
     *  pause lets the cleaner thread unlink them (twelve unreclaimed
     *  ~GiB round exchanges was the round-14 1000× scratch death). */
    def afterRound(loop: String, round: Int, of: Int): Unit =
      if (chunked) {
        System.gc()
        Thread.sleep(2000)
        System.err.println(s"[graph] $loop round $round/$of done")
      }
  }

  /** Corpus `d`'s [[EdgeTier]]. */
  def edgeTier(s: SparkSession, d: String): EdgeTier =
    EdgeTier(edgeLevel(s, d), liCount(s, d) > EdgeBuildMaxRows, () => evictEdgeChunks(d))

  /** The registry entry ([[CorpusArtifacts.hold]]) that holds the attach
   *  tier's edge blocks of edge set `edgeSet` over corpus `dir` across
   *  calls, one per variant (uniform or weighted), while the corpus's
   *  lineitem keeps its content key. The name must identify the edge
   *  set: calls that name one set over one dir share its blocks. */
  final case class Hold(s: SparkSession, dir: String, edgeSet: String)

  /** Corpus `d`'s tier for the co-purchase edges of the rank queries,
   *  holding their attach-tier blocks as edge set `copurchase`. */
  private def coPurchaseTier(s: SparkSession, d: String): EdgeTier =
    edgeTier(s, d).copy(hold = Some(Hold(s, d, "copurchase")))

  /** The SMJ layout of an edge frame: repartitioned + sorted by the
   *  round join `key` and persisted DISK_ONLY (materialized here, the
   *  held frame released), so each SMJ round exchanges and sorts only
   *  the vertex side. Persisted, not checkpointed: a checkpoint forgets
   *  the layout — PlanQualitySpec's "q160/q171 pre-partitioned
   *  persisted edge frames" test pins both halves. */
  private def roundEdges(held: DataFrame, key: String = "src"): DataFrame = {
    val prepped = held.repartition(col(key)).sortWithinPartitions(col(key))
      .persist(StorageLevel.DISK_ONLY)
    prepped.count()
    held.unpersist()
    prepped
  }

  /** The round driver: the round rule of the [[Graph]] header, written
   *  once. Constructing it holds `edges` (or, with `rescan` or at level
   *  NONE, reads them in place), checkpoints the loop's start frame — `vertices` of the held
   *  edges — and counts it, which materializes both; the count is the
   *  broadcast gate. Past the ceiling the rounds join `smj(held,
   *  start)`, by default the held edges laid out by src.
   *  The held frame is never unpersisted: a later call reuses it only
   *  when its edges plan-match. Edges that carry a Scala closure (a
   *  typed `map`/`flatMap`) never plan-match, so each such call leaves
   *  one more cached frame for the rest of the session, until frames are
   *  released at query exit (ROADMAP item 4). GraphBfsTriangleSpec pins
   *  that the loops over plain relational frames leave none. */
  private final class Rounds(loop: String, edges: DataFrame, tier: EdgeTier,
      vertices: DataFrame => DataFrame, rescan: Boolean = false,
      smj: (DataFrame, DataFrame) => DataFrame = (held, _) => roundEdges(held)) {
    private val held =
      if (rescan) edges.coalesce(64)
      else if (tier.level == StorageLevel.NONE) edges
      else edges.persist(tier.level)
    val start: DataFrame = vertices(held).localCheckpoint(eager = false)
    val n: Long = start.count()
    val bcast: Boolean = n <= tier.vertexCeiling
    if (tier.chunked)
      System.err.println(s"[graph] $loop tier: vertices=$n ceiling=${tier.vertexCeiling} -> " +
        (if (!bcast) "smj" else if (rescan) "rescan" else "broadcast"))
    /** The edge frame the rounds join. */
    val e: DataFrame = if (bcast) held else smj(held, start)
    if (!(rescan && bcast)) tier.evict()

    /** A vertex-sized side of a round join: broadcast under the ceiling. */
    def side(v: DataFrame): DataFrame = if (bcast) broadcast(v) else v

    /** The per-round cut. Eager (the default) runs the whole round right
     *  here. LAZY only at the broadcast tier of an unchunked corpus, and
     *  only when ONE consumer inside a job reads the round frame — a
     *  second would compute the round again before its blocks land
     *  (LPA's round frame has two; measured 2× slower lazy); at chunked
     *  corpora eager rounds let [[EdgeTier.afterRound]] free each
     *  round's blocks on a fixed schedule. Under AQE a lazy
     *  `localCheckpoint` still runs the round's query stages (broadcast
     *  builds, shuffle-map stage) in this call; only the result stage
     *  that writes the blocks waits for the next reader. So a lazy
     *  round saves one job, not the round's work. */
    def cut(round: DataFrame, consumers: Int = 1): DataFrame =
      round.localCheckpoint(eager = !(bcast && !tier.chunked && consumers == 1))

    /** Rounds 1..`maxRounds` from `s0`: `round(s, i)` is the next state,
     *  or None when the loop halts (the state then stays `s`). */
    def run[S](s0: S, maxRounds: Int)(round: (S, Int) => Option[S]): S = {
      var s = s0
      var i = 1
      var halted = false
      while (!halted && i <= maxRounds) round(s, i) match {
        case Some(next) =>
          s = next
          tier.afterRound(loop, i, maxRounds)
          i += 1
        case None => halted = true
      }
      s
    }
  }

  /** Symmetric co-purchase edge frame with tie strength: (src, dst, c)
   *  where c = number of distinct orders containing both parts. One
   *  self-join on the order key plus one hash aggregate — Σ_o
   *  C(items_o, 2) pairs, bounded by the order-size distribution,
   *  never parts². Shared by q148 (PageRank ignores c), q158 (BFS over
   *  the c≥2 strength graph) and q159 (triangles).
   *
   *  Past [[EdgeBuildMaxRows]] the build runs as C sequential
   *  pmod(src, C) chunks parked in parquet (live scratch ~1/C), one
   *  sub-dir per chunk, under a derived dir of lineitem's content key
   *  ([[CorpusArtifacts]]) reused by every graph query in the JVM. */
  private[ops] def coPurchaseStrength(s: SparkSession, d: String,
      maxRows: Long = EdgeBuildMaxRows): DataFrame = {
    val rows = liCount(s, d)
    if (rows <= maxRows) {
      val li = lineitem(s, d).select(col("l_orderkey").as("ok"),
        col("l_partkey").as("pk")).distinct()
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
        .agg(count(lit(1)).as("c"))
    } else {
      val chunks = math.max(2L, math.min(16L,
        math.ceil(rows.toDouble / maxRows).toLong)).toInt
      val dir = CorpusArtifacts.dir(s, "copurch", d, "lineitem") { dir =>
        // a crashed build may have left chunk dirs of another count
        InferOps.deleteDir(dir)
        // ONE distinct pass, then park the (ok, pk) frame partitioned
        // AND sorted by the join key: every chunk's self-join reads it
        // exchange-free (filter preserves partitioning/sort), so the
        // C passes cost C disk reads — never C re-shuffles
        val li = lineitem(s, d).select(col("l_orderkey").as("ok"),
            col("l_partkey").as("pk")).distinct()
          .repartition(col("ok")).sortWithinPartitions(col("ok"), col("pk"))
          .persist(StorageLevel.DISK_ONLY)
        // try/finally (advice round-13): a chunk write that dies
        // mid-build — scratch exhaustion is the exact failure this
        // path guards against — must not leave the corpus-sized
        // DISK_ONLY `li` pinned for a retry to double
        try {
          (0 until chunks).foreach { c =>
            li.as("a").filter(pmod(col("a.pk"), lit(chunks.toLong)) === lit(c.toLong))
              .join(li.as("b"),
                col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
              .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
              .agg(count(lit(1)).as("c"))
              // zstd, not the parquet default: the parked chunk frame
              // is the durable scratch floor the whole build sits on
              // (~22 GiB snappy at 1000×; zstd cuts ~a third of it)
              .write.option("compression", "zstd")
              .mode("overwrite").parquet(s"$dir/c$c")
            // reclaim the finished chunk's shuffle files before the next
            // pass needs the scratch — ContextCleaner is GC-driven AND
            // async: the gc queues the dead references, the pause lets
            // the cleaner thread actually unlink them (the round-14
            // probe died with ~25 GiB of reclaimable-but-unreclaimed
            // transients stacked across chunks)
            System.gc()
            if (chunks >= 4) Thread.sleep(3000)
            // probe-visible progress: the 1000× post-mortems could not
            // even tell WHICH PHASE died (WARN-level logs only)
            System.err.println(s"[graph] edge chunk ${c + 1}/$chunks parked")
          }
        } finally li.unpersist(blocking = true)
      }
      // explicit schema: a pathological corpus could leave chunk files
      // empty and schema inference has nothing to read
      s.read.schema("src BIGINT, dst BIGINT, c BIGINT")
        .option("recursiveFileLookup", "true").parquet(dir)
    }
  }

  /** What varies between the PageRank variants: the round-invariant
   *  per-src degree (column `deg`, computed by `agg` over the src
   *  group), the per-edge contribution that divides by it, and where
   *  the teleport share lands — on every reached vertex, or (`seeded`)
   *  only at `dst`s whose 0/1 `dst_seed` edge column is set. The round
   *  arithmetic is written twice: in SQL (`contrib`, [[teleport]]) for
   *  the SQL-round tiers and in Scala ([[EdgeBlock.push]]) for the
   *  attach tier, whose seeded teleport is a lookup in the driver's
   *  seed array ([[personalizedPageRank]]). Both are the same floored
   *  exact-integer expressions and both throw on int64 overflow (ANSI
   *  SQL; `Math.*Exact`). A `weighted` variant multiplies each share by
   *  the edge's `c`, which the attach tier then carries per edge. */
  private[ops] final case class Push(deg: String, agg: Column, contrib: String,
      weighted: Boolean = false, seeded: Boolean = false) {
    def teleport(tele: Long): Column =
      if (seeded) max(col("dst_seed")) * lit(tele) else lit(tele)
  }
  private[ops] val UniformPush = Push("deg", count(lit(1)), s"r * $Damp div (100 * deg)")
  private[ops] val WeightedPush = Push("wdeg", sum(col("c")), s"r * $Damp * c div (100 * wdeg)",
    weighted = true)
  private val SeededPush = UniformPush.copy(seeded = true)

  /** Teleport share of `k` vertices: floor(M·15 / (100·k)). */
  private def teleShare(k: Long): Long = (M * (100L - Damp)) / (100L * k)

  /** The rank core's edge rule, the same at every tier: an edge with a
   *  NULL endpoint is dropped before any tier reads the edges. */
  private def rankEdges(edges: DataFrame): DataFrame =
    edges.filter(col("src").isNotNull && col("dst").isNotNull)

  /** Local integer ids for `vs`: its distinct values ascending, and the
   *  index of each value of `vs` into them. Hashing, so only the
   *  distinct values are sorted. */
  private def localIds(vs: Array[Long]): (Array[Long], Array[Int]) = {
    val id = mutable.LongMap.empty[Int]
    var k = 0
    while (k < vs.length) { id(vs(k)) = 0; k += 1 }
    val keys = id.keys.toArray
    java.util.Arrays.sort(keys)
    var i = 0
    while (i < keys.length) { id(keys(i)) = i; i += 1 }
    val at = new Array[Int](vs.length)
    k = 0
    while (k < vs.length) { at(k) = id(vs(k)); k += 1 }
    (keys, at)
  }

  /** (key, value) runs merged on the driver: the distinct keys
   *  ascending, each with its values folded from 0 by `combine`. */
  private def mergeRuns(runs: Array[(Array[Long], Array[Long])],
      combine: (Long, Long) => Long): (Array[Long], Array[Long]) = {
    val all = new Array[Long](runs.map(_._1.length).sum)
    var p = 0
    runs.foreach { case (ks, _) => System.arraycopy(ks, 0, all, p, ks.length); p += ks.length }
    val (keys, at) = localIds(all)
    val vals = new Array[Long](keys.length)
    p = 0
    runs.foreach { case (_, vs) =>
      var j = 0
      while (j < vs.length) {
        vals(at(p)) = combine(vals(at(p)), vs(j))
        j += 1
        p += 1
      }
    }
    (keys, vals)
  }

  /** One dst partition of the attach tier's edge frame as
   *  primitive arrays, with local integer vertex ids — the layout of
   *  GraphX's `EdgePartition` (Gonzalez et al., OSDI 2014). `srcs` holds
   *  the partition's distinct srcs ascending, each src's degree at the
   *  same index of `degs`; the edges of local src i are the positions
   *  `off(i) until off(i + 1)` (CSR); edge k lands at `dsts(dstAt(k))`,
   *  `dsts` the partition's distinct dsts ascending; `c(k)` is its
   *  strength, carried by weighted variants only (else null). */
  private final case class EdgeBlock(srcs: Array[Long], degs: Array[Long], off: Array[Int],
      dstAt: Array[Int], dsts: Array[Long], c: Array[Long]) {
    /** The largest `c`; Long.MinValue without any. */
    def maxC: Long = {
      var m = Long.MinValue
      var k = 0
      while (c != null && k < c.length) { m = math.max(m, c(k)); k += 1 }
      m
    }

    /** One round over the block: every local src that holds a rank in
     *  (`ns`, `rs`), `ns` ascending, is looked up once and pushes its
     *  floored share floor(r·85·c / (100·deg)) (c = 1 uniform, so one
     *  share per src) along its edges into a per-dst sum. Returns the
     *  reached dsts ascending with their sums: a dst is reached when an
     *  edge from a ranked src lands on it, even with a zero share — the
     *  SQL round's inner join. */
    def push(ns: Array[Long], rs: Array[Long]): (Array[Long], Array[Long]) = {
      val sums = new Array[Long](dsts.length)
      val reached = new java.util.BitSet(dsts.length)
      var lo = 0
      var i = 0
      while (i < srcs.length) {
        val at = java.util.Arrays.binarySearch(ns, lo, ns.length, srcs(i))
        lo = if (at >= 0) at + 1 else -at - 1
        if (at >= 0) {
          val pushed = multiplyExact(rs(at), Damp)
          val per = multiplyExact(100L, degs(i))
          val uniform = if (c == null) pushed / per else 0L
          var k = off(i)
          while (k < off(i + 1)) {
            val d = dstAt(k)
            sums(d) = addExact(sums(d), if (c == null) uniform else multiplyExact(pushed, c(k)) / per)
            reached.set(d)
            k += 1
          }
        }
        i += 1
      }
      val keys = new Array[Long](reached.cardinality)
      val vals = new Array[Long](keys.length)
      var j = 0
      var d = reached.nextSetBit(0)
      while (d >= 0) {
        keys(j) = dsts(d); vals(j) = sums(d)
        j += 1
        d = reached.nextSetBit(d + 1)
      }
      (keys, vals)
    }
  }

  private object EdgeBlock {
    /** The block of one partition's (src, dst, deg[, c]) rows,
     *  all long, `c` at index `iC` (-1: none). */
    def apply(rows: Iterator[InternalRow], iC: Int): EdgeBlock = {
      val (src, dst, deg, cs) = (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong,
        new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong)
      rows.foreach { r =>
        src += r.getLong(0); dst += r.getLong(1); deg += r.getLong(2)
        if (iC >= 0) cs += r.getLong(iC)
      }
      val (es, eg, ec) = (src.result(), deg.result(), cs.result())
      val (srcs, srcAt) = localIds(es)
      val (dsts, dstOf) = localIds(dst.result())
      // a counting sort of the edges by local src gives the CSR offsets
      val off = new Array[Int](srcs.length + 1)
      var k = 0
      while (k < es.length) { off(srcAt(k) + 1) += 1; k += 1 }
      var i = 0
      while (i < srcs.length) { off(i + 1) += off(i); i += 1 }
      val next = off.clone()
      val degs = new Array[Long](srcs.length)
      val dstAt = new Array[Int](es.length)
      val c = if (iC >= 0) new Array[Long](es.length) else null
      k = 0
      while (k < es.length) {
        val at = next(srcAt(k))
        next(srcAt(k)) += 1
        degs(srcAt(k)) = eg(k)
        dstAt(at) = dstOf(k)
        if (c != null) c(at) = ec(k)
        k += 1
      }
      EdgeBlock(srcs, degs, off, dstAt, dsts, c)
    }
  }

  /** The attach tier's state: `blocks` are the attached edge frame's
   *  partitions as [[EdgeBlock]]s, persisted and lineage-cut; `nodes`
   *  holds every src ascending, its degree at the same index of `degs`;
   *  `maxC` is the largest `c`; `s` builds the readout frames. */
  private final case class Attached(s: SparkSession, blocks: RDD[EdgeBlock],
      nodes: Array[Long], degs: Array[Long], maxC: Long) {
    /** The final (node, r) arrays, `ns` ascending, narrowed to the srcs
     *  — the inner join of the SQL readout: (node, deg, r), ascending. */
    def withDeg(ns: Array[Long], rs: Array[Long]): (Array[Long], Array[Long], Array[Long]) = {
      val (vs, ds, us) = (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong,
        new mutable.ArrayBuilder.ofLong)
      var j = 0
      var i = 0
      while (i < ns.length) {
        while (j < nodes.length && nodes(j) < ns(i)) j += 1
        if (j < nodes.length && nodes(j) == ns(i)) { vs += ns(i); ds += degs(j); us += rs(i) }
        i += 1
      }
      (vs.result(), ds.result(), us.result())
    }
  }

  /** Destroys the broadcasts the executed plan of `qe` built (the
   *  attach tier's degree table among them), once the blocks read from
   *  it are materialized with their lineage cut. Spark's ContextCleaner
   *  frees them only after some later GC finds the plan unreachable, so
   *  the relation, a few MiB on the driver, would stay live for a time
   *  that depends on when the collector runs. */
  private[ops] def releaseBroadcasts(qe: QueryExecution): Unit =
    new AdaptiveSparkPlanHelper {}.collect(qe.executedPlan) { case b: BroadcastExchangeLike => b }
      .foreach(_.relationFuture.get().destroy())

  /** The attach tier of the rank core: memory-backed, unchunked
   *  corpora under the vertex ceiling — every octave up to 10×. Its one
   *  distributed object is the edge blocks ([[Attached]]). To build them
   *  the round-invariant degree `push.agg` is attached to the edge rows
   *  through a broadcast join, the result cast to long and
   *  hash-partitioned by dst — the only SQL the tier plans, never
   *  persisted — and one RDD job (the prologue) turns each partition
   *  into one [[EdgeBlock]], persisted at `tier.level` and
   *  localCheckpointed, and collects every src's degree and the largest
   *  `c`. The cut lineage makes each round job one stage whose task
   *  reads a block and nothing under it, and nothing needs the build's
   *  broadcasts after the prologue: they are destroyed then
   *  ([[releaseBroadcasts]]).
   *  With a `tier.hold` the blocks are built once per lineitem content
   *  key and kept in the registry ([[CorpusArtifacts.hold]]) under the
   *  edge set's name and the variant: a warm call evaluates no `edges`,
   *  plans no SQL and runs only its round jobs; a key change, `release`
   *  or `releaseAll` unpersists them. Without one they are built for
   *  the call and unpersisted before this returns, leaving nothing
   *  persisted. `use` runs the rounds ([[driverRounds]]) and the
   *  readout on the driver. None at the other tiers, and past the
   *  ceiling (reachable only with a forced ceiling): the blocks are
   *  released and the caller runs the SQL tiers of [[massPush]]. */
  private def attachEdges[T](edges: => DataFrame, push: Push, tier: EdgeTier)(
      use: Attached => T): Option[T] =
    if (tier.chunked || tier.level != StorageLevel.MEMORY_AND_DISK) None
    else {
      def build(): Attached = {
        val e = edges
        val cols = Seq("src", "dst", push.deg) ++ (if (push.weighted) Seq("c") else Nil)
        val iC = cols.indexOf("c")
        val qe = e.join(broadcast(e.groupBy(col("src")).agg(push.agg.as(push.deg))), "src")
          .select(cols.map(c => col(c).cast("long")): _*)
          .repartition(col("dst")).queryExecution
        val blocks = qe.toRdd.mapPartitions(rows => Iterator.single(EdgeBlock(rows, iC)))
          .persist(tier.level).localCheckpoint()
        // a src's edges spread over the dst partitions, each block
        // holding the same attached degree
        val parts = try blocks.map(b => ((b.srcs, b.degs), b.maxC)).collect()
        catch { case t: Throwable => blocks.unpersist(); throw t }
        releaseBroadcasts(qe)
        tier.evict()
        val (nodes, degs) = mergeRuns(parts.map(_._1), (_, d) => d)
        Attached(e.sparkSession, blocks, nodes, degs,
          parts.map(_._2).maxOption.getOrElse(Long.MinValue))
      }
      tier.hold match {
        case Some(h) =>
          val tag = s"attach:${h.edgeSet}/${if (push.weighted) "weighted" else "uniform"}"
          val a = CorpusArtifacts.hold(h.s, tag, h.dir, "lineitem")(build())(_.blocks)
          if (a.nodes.length > tier.vertexCeiling) {
            CorpusArtifacts.release(h.dir, tag)
            None
          } else Some(use(a))
        case None =>
          val a = build()
          try if (a.nodes.length > tier.vertexCeiling) None else Some(use(a))
          finally a.blocks.unpersist(blocking = true)
      }
    }

  /** The SQL tiers of the rank core, shared by [[pageRank]],
   *  [[weightedPageRank]] and [[personalizedPageRank]] wherever
   *  [[attachEdges]] declines: the [[Rounds]] over `edges` whose start
   *  frame is the per-src degree `push.deg` (plus the `extra`
   *  aggregates). At chunked corpora the rounds rescan the zstd chunk
   *  parquet rather than persist a corpus-sized copy next to it (47 GiB
   *  of blockmgr beside 12 GiB of parquet was the round-14 ENOSPC,
   *  twice), coalesced, because the dst partial aggregate's exchange
   *  volume is (map tasks)×(vertex count) rows and fewer, larger map
   *  tasks make the map-side combine actually combine. Past the ceiling
   *  the SMJ layout is the deg-joined frame. */
  private def pushRounds(edges: DataFrame, push: Push, tier: EdgeTier,
      extra: Column*): Rounds =
    new Rounds("mass-push", edges, tier,
      _.groupBy(col("src")).agg(push.agg.as(push.deg), extra: _*),
      rescan = tier.chunked,
      smj = (held, deg) => roundEdges(held.join(deg.select(col("src"), col(push.deg)), "src")))

  /** `iterations` rounds of [[pushRound]] from `ranks0` over `r`
   *  ([[pushRounds]]), `tele` the teleport share; returns the final
   *  (node, r). Under the ceiling each round broadcasts (node, r, deg)
   *  against the coalesced edge frame — the edge side never shuffles,
   *  the only exchange is the dst partial aggregate; past it each round
   *  joins the deg-joined SMJ layout and exchanges only the ranks side.
   *  Arithmetic is the identical exact-integer protocol in every tier,
   *  the attach tier included ([[Push]]) — long sums are order-free, so
   *  no tier can move a rank unit. */
  private def massPush(r: Rounds, ranks0: DataFrame, push: Push, tele: Long,
      iterations: Int): DataFrame = {
    val degSide = r.start.select(col("src"), col(push.deg))
    val e = if (r.bcast) r.e.coalesce(64) else r.e
    r.run(ranks0, iterations) { (ranks, _) =>
      val side =
        if (r.bcast) broadcast(ranks.join(degSide, col("node") === col("src"))
          .select(col("node"), col("r"), col(push.deg)))
        else ranks
      Some(r.cut(pushRound(e, side, push.contrib, push.teleport(tele))))
    }
  }

  /** The attach tier's rounds. The rank vector is vertex-sized and
   *  already crosses the driver every round (that is what broadcasting
   *  it means), so the driver also combines it: each round is ONE job
   *  over the [[EdgeBlock]]s `a.blocks`, starting from `r0`
   *  (aligned with `a.nodes`). The round broadcasts the (node, r)
   *  arrays, node ascending; every task pushes its block
   *  ([[EdgeBlock.push]]) and returns the reached dsts with their sums
   *  as two primitive arrays; the driver merges them, adds `teleAt(dst)`
   *  and broadcasts the next vector. The semantics are those of the SQL
   *  round's inner join plus `groupBy(dst)`: an edge whose src holds no
   *  rank contributes nothing, and the next vector holds exactly the
   *  dsts that were reached. Each round's broadcast is destroyed once
   *  its job is done. Returns the final (node, r) arrays, sorted by
   *  node. */
  private def driverRounds(a: Attached, r0: Array[Long], teleAt: Long => Long,
      iterations: Int): (Array[Long], Array[Long]) = {
    var nodes = a.nodes
    var rs = r0
    for (_ <- 1 to iterations) {
      val bc = a.blocks.sparkContext.broadcast((nodes, rs))
      val reached = a.blocks.map { b =>
        val (ns, rv) = bc.value
        b.push(ns, rv)
      }.collect()
      bc.destroy()
      // a dst's edges share one block; the merge still adds any split
      val (next, sums) = mergeRuns(reached, addExact)
      var i = 0
      while (i < next.length) { sums(i) = addExact(sums(i), teleAt(next(i))); i += 1 }
      nodes = next
      rs = sums
    }
    (nodes, rs)
  }

  /** A driver-built readout frame: every column named `names` is a
   *  long except `share`, a double. */
  private def localRanks(s: SparkSession, names: Seq[String],
      rows: Seq[Row]): DataFrame =
    s.createDataFrame(rows.asJava, StructType(names.map {
      case "share" => StructField("share", DoubleType)
      case c => StructField(c, LongType, nullable = false)
    }))

  /** Rank units as the readout's `share`: the raw division of an exact
   *  long by a constant, bit-identical to the SQL `r / (M * 1.0)`. */
  private def shareOf(r: Long): Double = r / (M * 1.0)

  /** pageRank and weightedPageRank at the attach tier: the uniform
   *  start vector, the rounds, and [[rankReadout]]'s rows (node,
   *  <degCol>, rank_units, share) ordered by node, built on the driver. */
  private def attachedRank(a: Attached, degCol: String, iterations: Int): DataFrame = {
    val n = a.nodes.length.toLong
    val rows =
      if (n == 0) Seq.empty[Row]
      else {
        val tele = teleShare(n)
        val (ns, rs) = driverRounds(a, Array.fill(a.nodes.length)(M / n), _ => tele, iterations)
        val (vs, ds, us) = a.withDeg(ns, rs)
        vs.indices.map(i => Row(vs(i), ds(i), us(i), shareOf(us(i))))
      }
    localRanks(a.s, Seq("node", degCol, "rank_units", "share"), rows)
  }

  /** One mass-push round, the round body of every variant in the SQL
   *  tiers: `ranks` (node, r[, deg]) equi-joins the edge frame on src,
   *  each edge carries its floor'd `contrib`, and the contributions sum
   *  per dst plus the variant's `teleport` term. Exposed for the plan
   *  gate. */
  private[ops] def pushRound(e: DataFrame, ranks: DataFrame, contrib: String,
      teleport: Column): DataFrame =
    e.join(ranks, col("src") === col("node"))
      .groupBy(col("dst"))
      .agg((sum(expr(contrib)) + teleport).as("r"))
      .select(col("dst").as("node"), col("r"))

  /** (node, <deg>, rank_units, share) ordered by node. */
  private def rankReadout(ranks: DataFrame, deg: DataFrame, degCol: String,
      bcast: Boolean): DataFrame = {
    val side = deg.select(col("src"), col(degCol))
    ranks.join(if (bcast) broadcast(side) else side, col("node") === col("src"))
      .select(col("node"), col(degCol), col("r").as("rank_units"),
        // raw division of exact longs by a constant — bit-identical
        (col("r") / (M * 1.0)).as("share"))
      .orderBy(col("node"))
  }

  /** Integer PageRank over a directed edge list (src, dst) — callers
   *  pass a symmetrized frame for undirected graphs. An edge with a NULL
   *  src or dst is dropped at every tier ([[rankEdges]]; the same holds
   *  for [[weightedPageRank]] and [[personalizedPageRank]]). Returns
   *  (node, deg, rank_units, share) ordered by node; the rounds run at
   *  the attach tier ([[attachEdges]]) or in [[massPush]], as `tier`
   *  selects. `edges` is evaluated only when a tier builds from it: a
   *  warm attach-tier call with a `tier.hold` never does. */
  def pageRank(edges: => DataFrame, iterations: Int = Iterations,
      tier: EdgeTier = EdgeTier()): DataFrame = {
    lazy val e = rankEdges(edges)
    attachEdges(e, UniformPush, tier)(attachedRank(_, "deg", iterations)) match {
      case Some(ranked) => return ranked
      case None =>
    }
    val r = pushRounds(e, UniformPush, tier)
    if (r.n == 0)
      return r.start.select(col("src").as("node"), lit(0L).as("deg"),
        lit(0L).as("rank_units"), lit(0.0).as("share"))
    val ranks = massPush(r, r.start.select(col("src").as("node"), lit(M / r.n).as("r")),
      UniformPush, teleShare(r.n), iterations)
    rankReadout(ranks, r.start, "deg", r.bcast)
  }

  /** q148: PageRank over the co-purchase part graph (10 integer
   *  iterations, damping 0.85). Edge build: distinct (order, part)
   *  pairs self-joined on the order key — Σ_o C(items_o, 2) pairs,
   *  bounded by the order-size distribution, never parts².
   *
   *  1000× evidence contract (permanent — SURVEY §8 q148 row): the
   *  unrestricted 10⁹-edge DuckDB replay exceeds ~2× this
   *  container's RAM+scratch however phrased; the top octave is
   *  certified by hash-PASS through 100×, forced-chunk sf0.01
   *  hash-PASS on the exact 1000× code path, 1000× rows-PASS, and
   *  the rescan-tier spec pins. */
  def q148PageRank(s: SparkSession, d: String): DataFrame = {
    pageRank(coPurchaseStrength(s, d).select(col("src"), col("dst")),
        tier = coPurchaseTier(s, d))
      .select(col("node").as("part_id"), col("deg"), col("rank_units"), col("share"))
  }

  /** Oracle: the identical integer iteration replayed as a recursive
   *  CTE (one self-reference, grouped recursive arm — the q125
   *  technique at vertex scale). */
  /** Oracle: UNROLLED as ten MATERIALIZED arms rather than one
   *  recursive CTE — the q168/q171/q181 device, which at 1000× is
   *  load-bearing for memory, not just for plan sanity: the recursive
   *  form spilled >59 GiB of temp (the working-table machinery buffers
   *  the grouped arm's inputs), while each unrolled arm is one hash
   *  join with a VERTEX-sized (2·10⁷ row) build side that the
   *  10⁹-row edge frame streams through, plus a vertex-sized
   *  aggregate — bounded memory per arm by construction. */
  val q148Sql: String = {
    val arms = (1 to Iterations).map { k =>
      s"""it$k AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |   CAST(1000000000000 * 15 // (100 * min(n.n))
         |        + sum(p.r * 85 // (100 * e.deg)) AS BIGINT) AS r
         |  FROM it${k - 1} p JOIN e ON p.node = e.src CROSS JOIN n
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.pk AS src, b.pk AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
       |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY src),
       |e AS MATERIALIZED (SELECT e0.src, e0.dst, d.deg FROM e0 JOIN deg d USING (src)),
       |n AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       |it0 AS MATERIALIZED (
       |  SELECT src AS node, CAST(1000000000000 // n.n AS BIGINT) AS r FROM deg, n),
       |$arms
       |SELECT t.node AS part_id, d.deg, t.r AS rank_units,
       | t.r * 1.0 / 1000000000000 AS share
       |FROM it$Iterations t JOIN deg d ON t.node = d.src
       |ORDER BY part_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q165: WEIGHTED PageRank — mass flows ∝ edge strength
  // ---------------------------------------------------------------

  /** Integer PageRank with edge-strength-proportional mass flow over
   *  a (src, dst, c) frame: each vertex pushes r·85·c div (100·Σc)
   *  along every out-edge, so a part co-purchased with another in 50
   *  orders pulls 50× the mass of a one-order tie — the centrality
   *  signal q148 deliberately discards (`coPurchaseStrength` computes
   *  `c`, q148 drops it). The same [[massPush]] rounds as
   *  [[pageRank]], with the weighted degree (Σc per src) in place of
   *  the edge count.
   *
   *  Exactness: all-integer like q148 — floor per edge, order-free
   *  long sums, so 10 iterations are bit-identical to the oracle's
   *  recursive-CTE replay. Overflow: r ≤ M (floors only lose mass),
   *  so the per-edge product r·85·c ≤ 8.5·10¹³·c stays in int64 only
   *  for c ≤ MaxSafeEdgeStrength ≈ 1.08·10⁵ — far above any
   *  co-purchase multiplicity (ScaleGen copies shift into disjoint
   *  key spaces, leaving c unchanged at every octave). The bound is
   *  CHECKED at runtime (one extra column in the degree aggregate):
   *  a corpus past it fails loudly with a pre-scale-by-GCD hint
   *  instead of silently wrapping in non-ANSI mode while the int128
   *  oracle stays exact.
   *  At the attach tier the check reads the `maxC` of the blocks, held
   *  or not, so a warm call checks too.
   *  Returns (node, wdeg, rank_units, share). */
  def weightedPageRank(edges: => DataFrame, iterations: Int = Iterations,
      tier: EdgeTier = EdgeTier()): DataFrame = {
    def checkC(maxC: Long): Unit =
      require(maxC <= MaxSafeEdgeStrength,
        s"weightedPageRank: max edge strength $maxC exceeds the int64-safe " +
          s"bound $MaxSafeEdgeStrength for the per-edge product r*$Damp*c " +
          "(r can reach the 1e12 mass scale); pre-scale c by its GCD or " +
          "carry contributions in decimal(38,0)")
    lazy val e = rankEdges(edges)
    attachEdges(e, WeightedPush, tier) { a =>
      if (a.nodes.nonEmpty) checkC(a.maxC)
      attachedRank(a, "wdeg", iterations)
    } match {
      case Some(ranked) => return ranked
      case None =>
    }
    val r = pushRounds(e, WeightedPush, tier, max(col("c")).as("cmax"))
    if (r.n == 0)
      return r.start.select(col("src").as("node"), lit(0L).as("wdeg"),
        lit(0L).as("rank_units"), lit(0.0).as("share"))
    checkC(r.start.agg(max(col("cmax"))).head().getLong(0))
    val ranks = massPush(r, r.start.select(col("src").as("node"), lit(M / r.n).as("r")),
      WeightedPush, teleShare(r.n), iterations)
    rankReadout(ranks, r.start, "wdeg", r.bcast)
  }

  /** q165: strength-weighted PageRank over the co-purchase graph —
   *  the full (src, dst, c) frame q148 truncates. */
  def q165WeightedPageRank(s: SparkSession, d: String): DataFrame = {
    weightedPageRank(coPurchaseStrength(s, d), tier = coPurchaseTier(s, d))
      .select(col("node").as("part_id"), col("wdeg"), col("rank_units"),
        col("share"))
  }

  /** Oracle: the identical weighted integer iteration as a recursive
   *  CTE (the q148 replay with c-proportional contributions). */
  val q165Sql: String =
    """WITH RECURSIVE
      |li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |ew AS MATERIALIZED (
      |  SELECT a.pk AS src, b.pk AS dst, CAST(count(*) AS BIGINT) AS c
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
      |  GROUP BY 1, 2),
      |wd AS MATERIALIZED (SELECT src, CAST(sum(c) AS BIGINT) AS wdeg FROM ew GROUP BY src),
      |e AS MATERIALIZED (SELECT ew.src, ew.dst, ew.c, d.wdeg FROM ew JOIN wd d USING (src)),
      |n AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM wd),
      |it(k, node, r) AS (
      |  SELECT 0, src, CAST(1000000000000 // n.n AS BIGINT) FROM wd, n
      |  UNION ALL
      |  SELECT it.k + 1, e.dst,
      |   CAST(1000000000000 * 15 // (100 * min(n.n))
      |        + sum(it.r * 85 * e.c // (100 * e.wdeg)) AS BIGINT)
      |  FROM it JOIN e ON it.node = e.src CROSS JOIN n
      |  WHERE it.k < 10
      |  GROUP BY it.k + 1, e.dst)
      |SELECT it.node AS part_id, d.wdeg, it.r AS rank_units,
      | it.r * 1.0 / 1000000000000 AS share
      |FROM it JOIN wd d ON it.node = d.src
      |WHERE it.k = 10 ORDER BY part_id""".stripMargin

  // ---------------------------------------------------------------
  // q158: multi-source BFS hop distance (frontier iteration)
  // ---------------------------------------------------------------

  /** Distributed multi-source BFS: minimum hop count from any seed,
   *  capped at maxHops. The textbook frontier iteration — each round
   *  is ONE equi-join of the (small) frontier against the edge frame
   *  plus one anti-join against the visited set; work per round is
   *  O(edges incident to the frontier), total O(E) across all rounds,
   *  and the loop halts early when a frontier empties (the frontier's
   *  row count is the probe).
   *
   *  Returns (node, hops) — every node reachable within maxHops, seeds
   *  at 0. Hop counts are exact integers: no float anywhere, so the
   *  frame is bit-identical to the oracle's recursive-CTE replay. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      tier: EdgeTier = EdgeTier()): DataFrame = {
    // materialized before the driver evicts the source the seeds may
    // read (q158's do)
    val dist0 = seeds.select(col("node"), lit(0L).as("hops")).distinct().localCheckpoint()
    val r = new Rounds("bfs", edges.select(col("src"), col("dst")), tier,
      _.select(col("src").as("node")).distinct())
    val (dist, _, _) = r.run((dist0, dist0.select(col("node")), dist0.count()), maxHops) {
      case ((_, _, 0L), _) => None
      case ((dist, frontier, _), h) =>
        val next = r.cut(bfsRound(r.e, dist, frontier, h, r.bcast))
        Some((dist.union(next).localCheckpoint(), next.select(col("node")), next.count()))
    }
    dist
  }

  /** One BFS expansion: frontier-incident edges (equi-join on src) →
   *  distinct targets → anti-join against the visited set. Exposed so
   *  the plan gate can pin the round's shape (the iterated plan hides
   *  behind per-round checkpoints). With `bcast` the vertex-sized
   *  frontier and visited sides broadcast — identical join semantics,
   *  zero exchange/sort on the edge side. */
  private[ops] def bfsRound(e: DataFrame, dist: DataFrame,
      frontier: DataFrame, h: Int, bcast: Boolean = false): DataFrame =
    e.join(if (bcast) broadcast(frontier) else frontier,
        e("src") === frontier("node"))
      .select(col("dst").as("node")).distinct()
      .join(if (bcast) broadcast(dist) else dist, Seq("node"), "left_anti")
      .select(col("node"), lit(h.toLong).as("hops"))

  /** q158: hop distance from one brand's catalog over the co-purchase
   *  STRENGTH graph — only ties backed by ≥2 distinct shared orders
   *  count as edges (the c≥2 cut turns the dense co-purchase clique
   *  union into a sparse affinity graph with real multi-hop
   *  structure). Seeds: graph vertices whose part is Brand#11.
   *
   *  1000× evidence contract (permanent — SURVEY §8 q158 row): same
   *  disclosed-oracle-boundary class as q148 — the oracle's
   *  unrestricted 1.8·10⁹-raw-pair aggregate cannot be statically
   *  pruned (reachability IS the query) and ENOSPC's DuckDB on this
   *  box; certified by hash-PASS through 100×, forced-chunk sf0.01
   *  hash-PASS on the 1000× code path, and the 1000× rows-PASS with
   *  live chunk eviction. */
  def q158BfsHops(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseStrength(s, d).filter(col("c") >= 2)
      .select(col("src"), col("dst"))
    val seedParts = part(s, d).filter(col("p_brand") === "Brand#11")
      .select(col("p_partkey"))
    val seeds = e.select(col("src").as("node")).distinct()
      .join(seedParts, col("node") === col("p_partkey"), "left_semi")
    bfsHops(e, seeds, maxHops = 6, tier = edgeTier(s, d))
      .select(col("node").as("part_id"), col("hops"))
      .orderBy(col("part_id"))
  }

  /** Oracle: the same BFS as a recursive CTE with set (UNION) semantics
   *  — (node, d) pairs dedup each round, so the recursion is bounded by
   *  V·maxHops rows, never path-enumerating. */
  val q158Sql: String =
    """WITH RECURSIVE
      |li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |ew AS MATERIALIZED (
      |  SELECT a.pk AS src, b.pk AS dst, count(*) AS c
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
      |  GROUP BY 1, 2),
      |e AS MATERIALIZED (SELECT src, dst FROM ew WHERE c >= 2),
      |seeds AS MATERIALIZED (
      |  SELECT DISTINCT src AS node FROM e
      |  JOIN part ON p_partkey = src WHERE p_brand = 'Brand#11'),
      |it AS (
      |  SELECT node, 0 AS d FROM seeds
      |  UNION
      |  SELECT e.dst, it.d + 1 FROM it JOIN e ON it.node = e.src
      |  WHERE it.d < 6)
      |SELECT node AS part_id, CAST(min(d) AS BIGINT) AS hops
      |FROM it GROUP BY node ORDER BY part_id""".stripMargin

  // ---------------------------------------------------------------
  // q159: triangle counting + local clustering coefficient
  // ---------------------------------------------------------------

  /** q159: per-vertex triangle count and local clustering coefficient
   *  over the c≥2 co-purchase strength graph (same cut as q158 — the
   *  raw co-purchase frame is a union of per-order cliques, so its
   *  wedge count explodes with order size; the strength cut bounds the
   *  effective arboricity and is the graph whose clustering actually
   *  means affinity, not basket size), by degree-ordered orientation
   *  (Schank & Wagner '05 / the MapReduce formulation of Suri &
   *  Vassilvitskii '11): orient each undirected edge from the lower
   *  (deg, id) endpoint to the higher, build wedges only at the LOW
   *  vertex — every vertex's oriented out-degree is O(√E) on any
   *  graph, so wedge count is Σ C(outdeg, 2) = O(E^1.5) worst case and
   *  near-linear on bounded-arboricity graphs — then close each wedge
   *  with ONE semi-join back on the oriented edge set. No vertex's
   *  full neighborhood is ever collected; both the wedge join and the
   *  closure join are plain shuffles on vertex keys. Clustering
   *  coefficient = 2·T / (deg·(deg−1)) as a raw division of exact
   *  longs (bit-identical cross-engine). */
  def q159Triangles(s: SparkSession, d: String): DataFrame = {
    val strength = coPurchaseStrength(s, d)
    val tier = edgeTier(s, d)
    val e = strength.filter(col("c") >= 2).select(col("src"), col("dst"))
      .localCheckpoint(eager = true, tier.level)
    // vertex-sized; checkpointed so the two orientation joins, the
    // readout join and the broadcast gate share one computation
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    deg.select(col("src").as("part_id"), col("deg"))
      .join(triangleCredits(e, deg, tier),
        col("part_id") === col("node"), "left")
      .select(col("part_id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("deg") >= 2,
          col("triangles") * 2.0 / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)))
      .orderBy(col("part_id"))
  }

  /** Per-vertex triangle counts (node, triangles) over a symmetric
   *  edge frame with its degree frame — the oriented wedge-closure
   *  core of q159, shared with the fixture spec. */
  private[ops] def triangleCredits(e: DataFrame, deg: DataFrame,
      tier: EdgeTier = EdgeTier()): DataFrame = {
    val bcast = deg.count() <= tier.vertexCeiling
    def side(v: DataFrame) = if (bcast) broadcast(v) else v
    // oriented edges carry the endpoint ranks so the wedge join can
    // order its two legs without re-joining degrees. The degree joins
    // broadcast under the vertex ceiling; the frame parks partitioned
    // by the wedge key u AND sorted (u, v) — persist, not checkpoint
    // (a checkpoint forgets the layout: PlanQualitySpec's "q160/q171
    // pre-partitioned persisted edge frames" test), so the wedge
    // self-join reads BOTH its sides exchange-free and sort-free, and
    // the closure semi-join's build side (keys (cv, cw) = (u, v)) is
    // subset-co-partitioned on u with the sort order already exact —
    // before round 15 the checkpointed o re-exchanged three times.
    val o = e
      .join(side(deg.select(col("src").as("u_key"), col("deg").as("du"))),
        col("src") === col("u_key"))
      .join(side(deg.select(col("src").as("v_key"), col("deg").as("dv"))),
        col("dst") === col("v_key"))
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("src") < col("dst")))
      .select(col("src").as("u"), col("dst").as("v"),
        col("dv"))
      .repartition(col("u")).sortWithinPartitions(col("u"), col("v"))
      .persist(tier.level)
    val wedges = o.as("a").join(o.as("b"),
        col("a.u") === col("b.u") &&
          (col("a.dv") < col("b.dv") ||
            (col("a.dv") === col("b.dv") && col("a.v") < col("b.v"))))
      .select(col("a.u").as("u"), col("a.v").as("v"), col("b.v").as("w"))
    // the closing edge (v, w) is oriented exactly v→w because the wedge
    // ordered its legs by the same (deg, id) rank the orientation used
    wedges.join(o.select(col("u").as("cv"), col("v").as("cw")),
        col("v") === col("cv") && col("w") === col("cw"), "left_semi")
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
  }

  /** Oracle: enumerate each triangle once as u<v<w by part id (the
   *  orientation trick is a Spark-side work bound, not a semantic —
   *  per-vertex counts are orientation-independent). */
  val q159Sql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |ew AS (
      |  SELECT a.pk AS src, b.pk AS dst, count(*) AS c
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
      |  GROUP BY 1, 2),
      |e0 AS (SELECT src, dst FROM ew WHERE c >= 2),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY src),
      |tr AS (
      |  SELECT a.src AS u, a.dst AS v, b.dst AS w
      |  FROM e0 a
      |  JOIN e0 b ON b.src = a.dst AND b.dst > a.dst
      |  JOIN e0 c ON c.src = a.src AND c.dst = b.dst
      |  WHERE a.src < a.dst),
      |credits AS (
      |  SELECT u AS node FROM tr
      |  UNION ALL SELECT v FROM tr
      |  UNION ALL SELECT w FROM tr),
      |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
      |       FROM credits GROUP BY node)
      |SELECT d.src AS part_id, d.deg,
      | coalesce(tc.triangles, 0) AS triangles,
      | CASE WHEN d.deg >= 2
      |  THEN coalesce(tc.triangles, 0) * 2.0 / (d.deg * (d.deg - 1))
      |  ELSE 0.0 END AS clustering
      |FROM deg d LEFT JOIN tc ON d.src = tc.node
      |ORDER BY part_id""".stripMargin

  // ---------------------------------------------------------------
  // q168: k-core peel (bounded-round degeneracy pruning)
  // ---------------------------------------------------------------

  /** Bounded-round k-core peel: iteratively remove every vertex whose
   *  degree WITHIN the surviving subgraph is < k — the classic
   *  degeneracy pruning a graph-curation pipeline runs to strip
   *  low-engagement fringe before community/centrality analysis.
   *  Exactly `rounds` peeling passes run (not peel-to-fixpoint):
   *  bounded rounds are what makes the oracle an UNROLLED CTE chain
   *  replaying the identical iteration, and once the peel has
   *  converged further rounds are idempotent, so on any corpus that
   *  converges within the bound the result IS the true k-core — the
   *  `is_stable` output column (final in-core degree ≥ k, computed
   *  identically in both engines) certifies convergence row by row
   *  instead of leaving it an assumption.
   *
   *  Shape per round: two semi-joins of the edge frame against the
   *  vertex-sized survivor set + one degree hash-aggregate — the
   *  q148/q160 shuffle pair. Work per round is O(surviving edges),
   *  total O(rounds·E); all counts exact integers. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int,
      tier: EdgeTier = EdgeTier()): DataFrame = {
    val r = new Rounds("k-core", edges.select(col("src"), col("dst")), tier,
      _.select(col("src").as("node")).distinct())
    val surv = r.run(r.start, rounds) { (surv, _) =>
      // both semi-joins read the survivors
      Some(r.cut(aliveEdges(r.e, surv, r.bcast)
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("node")), consumers = 2))
    }
    aliveEdges(r.e, surv, r.bcast)
      .groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("node"), col("core_deg"),
        (col("core_deg") >= k).as("is_stable"))
  }

  /** Edges with BOTH endpoints in the survivor set — two semi-joins,
   *  exposed for the plan gate. With `bcast` the vertex-sized survivor
   *  side broadcasts into both semi-joins (identical semantics). */
  private[ops] def aliveEdges(e: DataFrame, surv: DataFrame,
      bcast: Boolean = false): DataFrame = {
    def side(c: String) = {
      val s = surv.select(col("node").as(c))
      if (bcast) broadcast(s) else s
    }
    e.join(side("__s1"), col("src") === col("__s1"), "left_semi")
      .join(side("__s2"), col("dst") === col("__s2"), "left_semi")
  }

  private[ops] val KCoreK = 3
  // 12 rounds: measured convergence at sf0.01 (935 survivors, zero
  // unstable; 8 rounds left 4 mid-peel) — sf0.1's sparser c≥2 graph
  // peels to an EMPTY 3-core, and ScaleGen octaves are key-disjoint
  // copies of their base graph, so convergence transfers to octaves
  // verbatim. If a corpus ever reports is_stable=false rows, raise
  // the bound — the certificate makes under-iteration visible, never
  // silent.
  private[ops] val KCoreRounds = 12

  /** q168: the 3-core of the c≥2 co-purchase strength graph after
   *  `KCoreRounds` (12) peeling rounds — (part_id, core_deg,
   *  is_stable). */
  def q168KCore(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseStrength(s, d).filter(col("c") >= 2).select(col("src"), col("dst"))
    kCorePeel(e, KCoreK, KCoreRounds, edgeTier(s, d))
      .select(col("node").as("part_id"), col("core_deg"), col("is_stable"))
      .orderBy(col("part_id"))
  }

  /** Oracle: the identical peel UNROLLED as a CTE chain — round i+1
   *  keeps exactly the vertices with ≥ k surviving-subgraph neighbors
   *  at round i (generated for the fixed round count, so both engines
   *  run the same number of passes by construction). */
  val q168Sql: String = {
    // MATERIALIZED is load-bearing: each round references its
    // predecessor twice (both endpoints), and DuckDB inlines CTEs per
    // reference by default — the un-hinted chain re-evaluates
    // exponentially (measured: >2 min vs 0.8 s at sf0.01)
    val rounds = (0 until KCoreRounds).map { i =>
      s"""s${i + 1} AS MATERIALIZED (
         |  SELECT src AS node FROM e0
         |  WHERE src IN (SELECT node FROM s$i)
         |    AND dst IN (SELECT node FROM s$i)
         |  GROUP BY src HAVING count(*) >= $KCoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |ew AS MATERIALIZED (
       |  SELECT a.pk AS src, b.pk AS dst, count(*) AS c
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
       |  GROUP BY 1, 2),
       |e0 AS MATERIALIZED (SELECT src, dst FROM ew WHERE c >= 2),
       |s0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e0),
       |$rounds,
       |fin AS (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg FROM e0
       |  WHERE src IN (SELECT node FROM s$KCoreRounds)
       |    AND dst IN (SELECT node FROM s$KCoreRounds)
       |  GROUP BY src)
       |SELECT node AS part_id, core_deg, core_deg >= $KCoreK AS is_stable
       |FROM fin ORDER BY part_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q169: degree assortativity (Pearson over edge endpoint degrees)
  // ---------------------------------------------------------------

  /** q169: the degree-assortativity coefficient of the c≥2
   *  co-purchase graph — Pearson correlation of (deg(src), deg(dst))
   *  over the DIRECTED symmetric edge list (Newman 2002), the one-
   *  number answer to "do popular parts co-purchase with popular
   *  parts?". The edge list is symmetric, so the x and y marginals
   *  coincide (Σx = Σy, Σx² = Σy²) and the coefficient reduces to
   *  r = (E·Σxy − (Σx)²) / (E·Σx² − (Σx)²) — both engines evaluate
   *  that same reduced form.
   *
   *  Determinism: Σx, Σx², Σxy accumulate in decimal(38,0) (exact at
   *  any octave) and cast down to int64 for output (bounded by
   *  E·deg² ≤ 10¹⁶ through the 100× octave — ScaleGen copies are
   *  key-disjoint, so degrees never grow with copies); r is one
   *  closed form over those integers, zero-denominator guarded to 0
   *  (a degree-regular graph has no degree variance to correlate).
   *
   *  Scale: edge build + two degree joins + ONE moment aggregate —
   *  everything linear in E, no window, nothing collected. */
  def q169Assortativity(s: SparkSession, d: String): DataFrame = {
    // checkpoint the edge frame once (round 15): the degree aggregate
    // and the moment join both read it, and the dual-subtree plan was
    // not guaranteed exchange reuse; the vertex-sized degree frame
    // checkpoints and broadcasts into both endpoint joins
    val tier = edgeTier(s, d)
    val e = coPurchaseStrength(s, d).filter(col("c") >= 2)
      .select(col("src"), col("dst"))
      .localCheckpoint(eager = true, tier.level)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val bc = deg.count() <= tier.vertexCeiling
    def side(v: DataFrame) = if (bc) broadcast(v) else v
    val dec = "decimal(38,0)"
    val ed = e
      .join(side(deg.select(col("src").as("u_key"), col("deg").as("x"))),
        col("src") === col("u_key"))
      .join(side(deg.select(col("src").as("v_key"), col("deg").as("y"))),
        col("dst") === col("v_key"))
    val m = ed.agg(
      count(lit(1)).as("n_edges"),
      sum(col("x").cast(dec)).cast("long").as("sx"),
      sum((col("x") * col("x")).cast(dec)).cast("long").as("sxx"),
      sum((col("x") * col("y")).cast(dec)).cast("long").as("sxy"))
    val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
    m.withColumn("den",
        dbl(col("n_edges")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
      .withColumn("assortativity",
        when(col("den") === 0.0, lit(0.0))
          .otherwise((dbl(col("n_edges")) * dbl(col("sxy"))
            - dbl(col("sx")) * dbl(col("sx"))) / col("den")))
      .select(col("n_edges"), col("sx"), col("sxx"), col("sxy"),
        col("assortativity"))
  }

  val q169Sql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |ew AS (
      |  SELECT a.pk AS src, b.pk AS dst, count(*) AS c
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
      |  GROUP BY 1, 2),
      |e0 AS (SELECT src, dst FROM ew WHERE c >= 2),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY src),
      |ed AS (
      |  SELECT d1.deg AS x, d2.deg AS y
      |  FROM e0 JOIN deg d1 ON e0.src = d1.src JOIN deg d2 ON e0.dst = d2.src),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
      |   CAST(CAST(sum(CAST(x AS HUGEINT)) AS DECIMAL(38,0)) AS BIGINT) AS sx,
      |   CAST(CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS BIGINT) AS sxx,
      |   CAST(CAST(sum(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS BIGINT) AS sxy
      |  FROM ed)
      |SELECT n_edges, sx, sxx, sxy,
      | CASE WHEN (CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) = 0.0 THEN 0.0
      | ELSE (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      / (CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS assortativity
      |FROM m""".stripMargin

  // ---------------------------------------------------------------
  // q170: link prediction (common neighbors / Jaccard / resource
  // allocation)
  // ---------------------------------------------------------------

  /** q170: link-prediction scores for NON-adjacent part pairs of the
   *  c≥2 co-purchase graph — the "customers who bought both X and W
   *  may want V" candidates a recommendation pipeline ranks. For each
   *  unordered pair (u < v) that shares ≥ 2 common neighbors and is
   *  NOT already an edge:
   *    - cn = |Γ(u) ∩ Γ(v)| — exact count of shared neighbors;
   *    - jaccard = cn / (deg(u) + deg(v) − cn) — ONE division of
   *      exact integers, bit-identical cross-engine;
   *    - ra_units = Σ_w 10⁹ div deg(w) over the shared neighbors
   *      (Zhou et al. 2009's resource-allocation index as a scaled
   *      INTEGER: per-neighbor terms are exact integer divisions and
   *      the sum is order-free — the cross-engine float-sum-order
   *      trap never opens; Adamic-Adar's 1/ln(deg) would not survive
   *      the two engines' differing log ulps).
   *
   *  Candidate generation is wedge enumeration (the q159 bound): one
   *  self-join of the checkpointed edge frame on the middle vertex +
   *  one hash aggregate — Σ_w deg(w)² wedges, never |V|² pairs; u<v
   *  halves the frame and the existing-edge anti-join runs AFTER
   *  aggregation, against the (candidate-sized, far smaller) pair
   *  frame. At 100 TB the edge frame bucket-partitions on the wedge
   *  key so the self-join is co-located; the deg frame is
   *  vertex-sized and broadcast-eligible. */
  def q170LinkPredict(s: SparkSession, d: String): DataFrame = {
    val strength = coPurchaseStrength(s, d)
    linkPredict(strength.filter(col("c") >= 2).select(col("src"), col("dst")),
        tier = edgeTier(s, d))
      .orderBy(col("u"), col("v"))
  }

  /** Core scorer over a symmetric (src, dst) edge frame — exposed so
   *  the spec can pin the wedge/anti-join/score math on hand-sized
   *  graphs. Returns (u, v, cn, deg_u, deg_v, jaccard, ra_units).
   *
   *  Layout (round 15): the frame parks partitioned by src and sorted
   *  (src, dst) — persist, not checkpoint — so the wedge self-join
   *  (keys w = src both sides) and the existing-edge anti-join (keys
   *  (u, v) = (src, dst), subset-co-partitioned on src) read the edge
   *  side exchange-free and sort-free; the vertex-sized degree frame
   *  checkpoints once and broadcasts into its three joins under the
   *  tier's vertex ceiling. Before round 15 the checkpointed frame
   *  re-exchanged in all four joins. */
  def linkPredict(edges: DataFrame, minCn: Int = 2,
      tier: EdgeTier = EdgeTier()): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).sortWithinPartitions(col("src"), col("dst"))
      .persist(tier.level)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val bc = deg.count() <= tier.vertexCeiling
    def side(v: DataFrame) = if (bc) broadcast(v) else v
    val mid = e.select(col("src").as("w"), col("dst").as("u"))
      .join(side(deg.select(col("src").as("w"), col("deg").as("wdeg"))), "w")
    val wedges = mid.join(e.select(col("src").as("w2"), col("dst").as("v")),
      col("w") === col("w2") && col("u") < col("v"))
    val cand = wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000000L div wdeg")).as("ra_units"))
      .filter(col("cn") >= minCn)
      .join(e.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
    cand
      .join(side(deg.select(col("src").as("u"), col("deg").as("deg_u"))), "u")
      .join(side(deg.select(col("src").as("v"), col("deg").as("deg_v"))), "v")
      .select(col("u"), col("v"), col("cn"), col("deg_u"), col("deg_v"),
        (col("cn").cast("double")
          / (col("deg_u") + col("deg_v") - col("cn")).cast("double"))
          .as("jaccard"),
        col("ra_units"))
  }

  val q170Sql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |ew AS (
      |  SELECT a.pk AS src, b.pk AS dst, count(*) AS c
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
      |  GROUP BY 1, 2),
      |e AS MATERIALIZED (SELECT src, dst FROM ew WHERE c >= 2),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
      |w AS (
      |  SELECT a.dst AS u, b.dst AS v, d.deg AS wdeg
      |  FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
      |  JOIN deg d ON d.src = a.src),
      |cand AS (
      |  SELECT u, v, CAST(count(*) AS BIGINT) AS cn,
      |   CAST(sum(1000000000 // wdeg) AS BIGINT) AS ra_units
      |  FROM w GROUP BY u, v HAVING count(*) >= 2),
      |nc AS (
      |  SELECT cand.* FROM cand
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM e WHERE e.src = cand.u AND e.dst = cand.v))
      |SELECT u, v, cn, d1.deg AS deg_u, d2.deg AS deg_v,
      | CAST(cn AS DOUBLE) / CAST(d1.deg + d2.deg - cn AS DOUBLE) AS jaccard,
      | ra_units
      |FROM nc JOIN deg d1 ON d1.src = nc.u JOIN deg d2 ON d2.src = nc.v
      |ORDER BY u, v""".stripMargin

  // ---------------------------------------------------------------
  // q171: cheapest-path cost (bounded Bellman-Ford relaxation)
  // ---------------------------------------------------------------

  private[ops] val BfRounds = 6

  /** Bounded Bellman-Ford: minimum path cost from a seed set over a
   *  weighted edge frame, exactly `rounds` relaxation rounds (the
   *  q158 BFS generalized from hop counts to additive edge costs —
   *  after round k every cheapest path of ≤ k edges is final, the
   *  same guarantee BFS gives for hops). Integer-exact: costs are
   *  long sums of long weights, min is order-free, so the frame is
   *  bit-identical to the oracle's unrolled replay.
   *
   *  Shape per round: ONE dist⋈edges equi-join on the frontier key +
   *  one min hash-aggregate over (previous dist ∪ relaxed) — the
   *  PageRank shuffle pair with min in place of sum. The broadcast
   *  gate reads the vertex count, which bounds every dist frame. */
  def cheapestPaths(edges: DataFrame, seeds: DataFrame,
      rounds: Int = BfRounds, tier: EdgeTier = EdgeTier()): DataFrame = {
    // materialized before the driver evicts the source the seeds may
    // read (q171's do)
    val dist0 = seeds.select(col("node"), lit(0L).as("dcost")).distinct()
      .localCheckpoint()
    val r = new Rounds("bellman-ford", edges.select(col("src"), col("dst"), col("w")), tier,
      _.select(col("src").as("node")).distinct())
    // the join and the union both read dist
    r.run(dist0, rounds)((dist, _) => Some(r.cut(relaxRound(r.e, dist, r.bcast), consumers = 2)))
  }

  /** One Bellman-Ford relaxation: dist equi-joins the edge frame on
   *  src, relaxed costs union the previous frame, min hash-aggregates
   *  per node. Exposed for the plan gate. With `bcast` the
   *  vertex-sized dist side broadcasts (identical semantics). */
  private[ops] def relaxRound(e: DataFrame, dist: DataFrame,
      bcast: Boolean = false): DataFrame = {
    val relaxed = (if (bcast) broadcast(dist) else dist)
      .join(e, col("node") === col("src"))
      .select(col("dst").as("node"), (col("dcost") + col("w")).as("dcost"))
    dist.unionByName(relaxed)
      .groupBy(col("node")).agg(min(col("dcost")).as("dcost"))
  }

  /** q171: cheapest co-purchase path cost from one brand's catalog —
   *  edge cost 1000 div c (strong ties are cheap), so the result
   *  ranks every part by how tightly the co-purchase structure links
   *  it back to the brand. Seeds at 0. */
  def q171CheapestPath(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseStrength(s, d).filter(col("c") >= 2)
      .select(col("src"), col("dst"), expr("1000L div c").as("w"))
    val seeds = e.select(col("src").as("node")).distinct()
      .join(part(s, d).filter(col("p_brand") === "Brand#11")
        .select(col("p_partkey")),
        col("node") === col("p_partkey"), "left_semi")
    cheapestPaths(e, seeds, tier = edgeTier(s, d))
      .select(col("node").as("part_id"), col("dcost").as("cost_units"))
      .orderBy(col("part_id"))
  }

  /** Oracle: the identical relaxation UNROLLED as a MATERIALIZED CTE
   *  chain (the q168 device — both engines run exactly BfRounds
   *  rounds, and DuckDB must not re-inline the doubly-referenced
   *  round frames). */
  val q171Sql: String = {
    val rounds = (0 until BfRounds).map { i =>
      s"""d${i + 1} AS MATERIALIZED (
         |  SELECT node, CAST(min(dcost) AS BIGINT) AS dcost FROM (
         |    SELECT node, dcost FROM d$i
         |    UNION ALL
         |    SELECT e.dst AS node, d$i.dcost + e.w AS dcost
         |    FROM d$i JOIN e ON d$i.node = e.src) t
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |ew AS (
       |  SELECT a.pk AS src, b.pk AS dst, count(*) AS c
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
       |  GROUP BY 1, 2),
       |e AS MATERIALIZED (
       |  SELECT src, dst, CAST(1000 // c AS BIGINT) AS w FROM ew WHERE c >= 2),
       |seeds AS (
       |  SELECT DISTINCT src AS node FROM e
       |  JOIN part ON p_partkey = src WHERE p_brand = 'Brand#11'),
       |d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dcost FROM seeds),
       |$rounds
       |SELECT node AS part_id, dcost AS cost_units
       |FROM d$BfRounds ORDER BY part_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q176: bipartite HITS (customer hubs → part authorities)
  // ---------------------------------------------------------------

  /** HITS mass scale — 10¹² units like PageRank's: the scale must
   *  EXCEED the vertex count by a wide margin or the integer
   *  renormalization floors a vertex's share to zero (a 10⁶-unit
   *  first cut did exactly that at the 100× octave's 2·10⁷ parts —
   *  every authority floored to 0 and the next round divided by a
   *  zero total). The rescale product v·M can reach ~10²⁵, past
   *  int64, so the raw sums and the renormalization ride
   *  decimal(38,0)/HUGEINT (exact, ≤31 digits) and only the SCALED
   *  values (≤ M) come back as longs. */
  private[ops] val HitsM = 1000000000000L
  private[ops] val HitsRounds = 4

  /** q176: Kleinberg's HITS on the customer→part purchase bipartite
   *  graph — hubs are customers (good hubs buy authoritative parts),
   *  authorities are parts (authoritative parts are bought by good
   *  hubs); the catalog-authority signal a marketplace ranks with.
   *  On a bipartite graph HITS is exactly the alternating two-sided
   *  iteration (authority = Σ hub over buyers, hub = Σ authority over
   *  bought parts), which the symmetric co-purchase residents (q148/
   *  q165) cannot express.
   *
   *  Integer-exact (the q148 discipline, two-sided): start every hub
   *  at HitsM units; each half-round is one equi-join + one long-sum
   *  hash aggregate, then an INTEGER renormalization
   *  v·HitsM div Σv — floor-exact, order-free sums, so 4 rounds are
   *  bit-identical to the oracle's unrolled replay. No doubles exist
   *  anywhere; the output `share` is ONE final division.
   *
   *  Scale: the edge frame (distinct customer→part purchase pairs) is
   *  data-sized — held once by the round driver (the (cust, part)
   *  build is one orders⋈lineitem SMJ + distinct, the single widest
   *  stage of the 100× run, and the held frame plan-matches later
   *  calls), reused by all 8 half-rounds and by the buyer count below;
   *  score frames are vertex-sized. At 100 TB the edge frame
   *  bucket-partitions on each join key exactly like the PageRank
   *  resident. */
  def q176Hits(s: SparkSession, d: String): DataFrame = {
    val e = orders(s, d).select(col("o_orderkey").as("ok"),
        col("o_custkey").as("cust"))
      .join(lineitem(s, d).select(col("l_orderkey").as("ok"),
        col("l_partkey").as("part")), "ok")
      .select(col("cust"), col("part")).distinct()
    // these edges are not the co-purchase chunks: nothing to evict
    val auths = hitsAuthorities(e, HitsRounds, edgeTier(s, d).copy(evict = () => ()))
    val nBuyers = e.groupBy(col("part")).agg(count(lit(1)).as("n_buyers"))
    auths.join(nBuyers, "part")
      .select(col("part").as("part_id"), col("n_buyers"),
        col("v").as("auth_units"),
        (col("v") / (HitsM * 1.0)).as("share"))
      .orderBy(col("part_id"))
  }

  /** The alternating integer iteration over a (cust, part) edge frame
   *  — exposed so the spec can replay rounds by hand. Returns the
   *  authority frame (part, v).
   *
   *  PRECONDITION (advice round-15): `e` must hold DISTINCT
   *  (cust, part) pairs. The bigint sum carrier below is int64-safe
   *  because a post-round-0 group sum is bounded by the corpus-wide
   *  rescaled total ≤ [[HitsM]]; duplicated edges weaken that bound to
   *  dup×HitsM. Spark 4's default ANSI mode aborts loudly (never
   *  wraps) if a caller ever violates this. */
  private[ops] def hitsAuthorities(e: DataFrame, rounds: Int,
      tier: EdgeTier = EdgeTier(), wideSums: Boolean = false): DataFrame = {
    val dec = "decimal(38,0)"
    // past the ceiling the auth half-round's join key lays the edges out
    val r = new Rounds("hits", e, tier,
      _.select(col("cust")).distinct().select(col("cust"), lit(HitsM).as("h")),
      smj = (held, _) => roundEdges(held, "cust"))
    // Size the round scans explicitly (round 15 session 2): a
    // PERSISTED edge frame's output partitioning is pinned (AQE
    // cached-plan coalescing is off by default —
    // canChangeCachedPlanOutputPartitioning), so a tiny-octave frame
    // keeps shuffle-partition-count near-empty partitions and every
    // half-round's partial aggregate emits (tasks × keys) rows — at
    // sf0.1 that sextupled the query's shuffle rows vs the old
    // AQE-coalesced checkpoint; a flat coalesce(1) then over-
    // serialized the probe (wall 4.8 → 8.5 s, measured both). The
    // measured sweet spots — ~6 tasks at sf0.1 (600 k edges), ~32 at
    // 100× (60 M) — are tasks ≈ rows/100k capped at the session's
    // parallelism (scale-adaptive: the cap follows the core budget,
    // never a local[32] constant). One exact count of the held frame
    // sizes it; coalesce on a cached frame is narrow — no shuffle,
    // identical rows. The SMJ layout keeps its partitioning instead.
    val eR =
      if (!r.bcast) r.e
      else {
        val em = r.e.count()
        val cap = e.sparkSession.sparkContext.defaultParallelism.toLong
        r.e.coalesce(
          math.max(1L, math.min(math.max(1L, cap), em / 100000L + 1L)).toInt)
      }
    val (_, auths) = r.run((r.start, null: DataFrame), rounds) { case ((hubs, _), i) =>
      // Narrower sum carrier (round 15 session 2, guide §2.3): only
      // ROUND 0's auth sum can exceed int64 — h0 is the UN-normalized
      // M = 10¹² per hub, so a 10⁷-buyer vertex sums to 10¹⁹. Every
      // LATER half-round consumes rescale()d scores whose CORPUS-WIDE
      // total is ≤ M (integer div truncation ⇒ Σ ≤ 10¹²), so any one
      // group's sum is ≤ 10¹² — int64-safe for ANY graph, no
      // data-dependent guard needed. The sums are exact integers in
      // either carrier (value-identical results), the decimal(38,0)
      // partial rows were 2× the shuffle bytes of a long across 7 of
      // the 8 half-rounds, and ANSI mode would abort loudly (never
      // wrap) if this bound were ever wrong. `wideSums` forces the
      // all-decimal carrier so the spec can pin tier equality.
      val aCast = if (wideSums || i == 1) dec else "bigint"
      val hCast = if (wideSums) dec else "bigint"
      val auths = r.cut(rescale(
        eR.join(r.side(hubs), "cust").groupBy(col("part"))
          .agg(sum(col("h").cast(aCast)).as("v")), "part"))
      Some((r.cut(rescale(
        eR.join(r.side(auths.select(col("part"), col("v"))), "part")
          .groupBy(col("cust")).agg(sum(col("v").cast(hCast)).as("v")), "cust")
        .select(col("cust"), col("v").as("h"))), auths))
    }
    auths
  }

  /** Integer renormalization to HitsM total units: v·HitsM div Σv,
   *  carried in decimal(38,0) (the product reaches ~10²⁵). The 1-row
   *  sum broadcasts; nothing collects. */
  private def rescale(scores: DataFrame, key: String): DataFrame = {
    val total = scores.agg(sum(col("v").cast("decimal(38,0)")).as("tot"))
    scores.crossJoin(broadcast(total))
      .select(col(key),
        expr(s"cast(cast(v as decimal(38,0)) * ${HitsM}L div tot as bigint)")
          .as("v"))
  }

  /** Oracle: the identical alternating integer iteration unrolled as
   *  a MATERIALIZED CTE chain (4 rounds × 2 sides). */
  val q176Sql: String = {
    val rounds = (0 until HitsRounds).map { i =>
      s"""a${i + 1}r AS MATERIALIZED (
         |  SELECT e.part, sum(CAST(p.h AS HUGEINT)) AS v
         |  FROM e JOIN h$i p ON e.cust = p.cust GROUP BY e.part),
         |a${i + 1} AS MATERIALIZED (
         |  SELECT part, CAST(v * $HitsM // (SELECT sum(v) FROM a${i + 1}r)
         |    AS BIGINT) AS v
         |  FROM a${i + 1}r),
         |h${i + 1}r AS MATERIALIZED (
         |  SELECT e.cust, sum(CAST(a.v AS HUGEINT)) AS v
         |  FROM e JOIN a${i + 1} a ON e.part = a.part GROUP BY e.cust),
         |h${i + 1} AS MATERIALIZED (
         |  SELECT cust, CAST(v * $HitsM // (SELECT sum(v) FROM h${i + 1}r)
         |    AS BIGINT) AS h
         |  FROM h${i + 1}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |h0 AS MATERIALIZED (
       |  SELECT DISTINCT cust, CAST($HitsM AS BIGINT) AS h FROM e),
       |$rounds,
       |nb AS (SELECT part, CAST(count(*) AS BIGINT) AS n_buyers
       |       FROM e GROUP BY part)
       |SELECT a.part AS part_id, nb.n_buyers, a.v AS auth_units,
       | CAST(a.v AS DOUBLE) / $HitsM.0 AS share
       |FROM a$HitsRounds a JOIN nb ON a.part = nb.part
       |ORDER BY part_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q177: modularity of the brand partition
  // ---------------------------------------------------------------

  /** q177: Newman-Girvan modularity of the BRAND partition of the
   *  c≥2 co-purchase graph — "do same-brand parts co-purchase more
   *  than a degree-preserving random graph predicts?", the companion
   *  number to q169's degree assortativity (that one correlates
   *  degrees; this one scores an exogenous community labeling).
   *  Q = Σ_c (e_c/m − (d_c/2m)²) over communities c, with m directed
   *  edge endpoints... computed here over the directed symmetric edge
   *  list (every undirected edge counted twice, the standard
   *  convention), which reduces to ONE exact integer ratio:
   *
   *    Q = (2E·Σ_c in_c − Σ_c d_c²) / (2E)²
   *
   *  where 2E = directed edge count, in_c = directed within-community
   *  edges, d_c = Σ degrees of community c. Both engines evaluate the
   *  identical closed form: all moments are exact longs (bounded by
   *  (2E)² ≤ 4·10¹⁶ through the 100× octave — ScaleGen octaves are
   *  key-disjoint copies, so 2E grows linearly and the bound holds to
   *  ~10⁹ directed edges), and Q is one division.
   *
   *  Scale: edge build + one broadcast-sized brand join per endpoint
   *  + two bounded aggregates (per brand, then 1 row). Nothing
   *  quadratic, nothing collected. */
  def q177Modularity(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseStrength(s, d).filter(col("c") >= 2)
      .select(col("src"), col("dst"))
    val brand = part(s, d).select(col("p_partkey").as("pid"),
      col("p_brand").as("brand"))
    labeledModularity(e
      .join(brand.select(col("pid").as("src"), col("brand").as("b_src")), "src")
      .join(brand.select(col("pid").as("dst"), col("brand").as("b_dst")), "dst"))
  }

  /** Modularity of a labeled directed-symmetric edge frame
   *  (b_src, b_dst) — exposed so the spec can pin the closed form on
   *  a two-community textbook fixture. Returns ONE row
   *  (two_e, in_total, deg_sq, modularity). */
  private[ops] def labeledModularity(lab: DataFrame): DataFrame = {
    val perBrand = lab.groupBy(col("b_src").as("brand"))
      .agg(count(lit(1)).as("deg_sum"),
        sum(when(col("b_src") === col("b_dst"), 1L).otherwise(0L)).as("in_edges"))
    val m = perBrand.agg(
      sum(col("deg_sum")).as("two_e"),
      sum(col("in_edges")).as("in_total"),
      sum(col("deg_sum") * col("deg_sum")).as("deg_sq"))
    val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
    m.select(col("two_e"), col("in_total"), col("deg_sq"),
      ((dbl(col("two_e")) * dbl(col("in_total")) - dbl(col("deg_sq")))
        / (dbl(col("two_e")) * dbl(col("two_e")))).as("modularity"))
  }

  val q177Sql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |ew AS (
      |  SELECT a.pk AS src, b.pk AS dst, count(*) AS c
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
      |  GROUP BY 1, 2),
      |e0 AS (SELECT src, dst FROM ew WHERE c >= 2),
      |lab AS (
      |  SELECT ps.p_brand AS b_src, pd.p_brand AS b_dst
      |  FROM e0 JOIN part ps ON e0.src = ps.p_partkey
      |          JOIN part pd ON e0.dst = pd.p_partkey),
      |pb AS (
      |  SELECT b_src AS brand, CAST(count(*) AS BIGINT) AS deg_sum,
      |   CAST(sum(CASE WHEN b_src = b_dst THEN 1 ELSE 0 END) AS BIGINT)
      |     AS in_edges
      |  FROM lab GROUP BY b_src),
      |m AS (
      |  SELECT CAST(sum(deg_sum) AS BIGINT) AS two_e,
      |   CAST(sum(in_edges) AS BIGINT) AS in_total,
      |   CAST(sum(deg_sum * deg_sum) AS BIGINT) AS deg_sq
      |  FROM pb)
      |SELECT two_e, in_total, deg_sq,
      | (CAST(two_e AS DOUBLE) * CAST(in_total AS DOUBLE)
      |    - CAST(deg_sq AS DOUBLE))
      |   / (CAST(two_e AS DOUBLE) * CAST(two_e AS DOUBLE)) AS modularity
      |FROM m""".stripMargin

  // ---------------------------------------------------------------
  // q160: connected components (min-label propagation to fixpoint)
  // ---------------------------------------------------------------

  /** Distributed connected components by min-label propagation over
   *  a symmetric (src, dst) edge frame: every vertex starts as its own
   *  label; each round a vertex takes the min over its own and its
   *  neighbors' labels — ONE equi-join of labels into the edge frame
   *  plus one hash aggregate (the same shuffle pair as a PageRank
   *  iteration), converging in O(diameter) rounds. The fixpoint probe
   *  is a 1-row aggregate: labels only ever decrease, so Σlabel (exact
   *  decimal — order-free, overflow-free past 10³⁸) strictly decreases
   *  until converged; no per-node diff join is needed. Labels are
   *  exact longs (min node id per component), so the result is
   *  bit-identical to the oracle's closure replay. At most `maxRounds`
   *  rounds run, the converging one included: a graph whose diameter
   *  needs more returns a complete, partially converged labeling.
   *  Returns (node, label). */
  def connectedComponents(edges: DataFrame, tier: EdgeTier = EdgeTier(),
      maxRounds: Int = Int.MaxValue): DataFrame = {
    val r = new Rounds("cc", edges.select(col("src"), col("dst")), tier,
      _.select(col("src").as("node")).distinct().withColumn("label", col("node")))
    def mass(l: DataFrame): java.math.BigDecimal = Option(
      l.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0))
      .getOrElse(java.math.BigDecimal.ZERO)
    // an empty graph has nothing to propagate (and a NULL mass)
    if (r.n == 0) return r.start
    var prev = mass(r.start)
    r.run(r.start, maxRounds) { (labels, _) =>
      // the mass probe is the round frame's one consumer
      val next = r.cut(ccRound(r.e, labels, r.bcast))
      val cur = mass(next)
      val moved = cur.compareTo(prev) != 0
      prev = cur
      if (moved) Some(next) else None
    }
  }

  /** The symmetric (src, dst) edge frame of undirected `a`–`b` pairs,
   *  checkpointed: materialized once, re-read by every round. */
  private[ops] def undirected(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.select(col(a).as("src"), col(b).as("dst"))
      .union(pairs.select(col(b).as("src"), col(a).as("dst")))
      .localCheckpoint()

  /** One propagation round: push labels across edges, take the min of
   *  incoming and own label per vertex. Exposed for the plan gate.
   *  With `bcast` the vertex-sized label side broadcasts (identical
   *  join semantics; min is order-free). */
  private[ops] def ccRound(e: DataFrame, labels: DataFrame,
      bcast: Boolean = false): DataFrame =
    e.join(if (bcast) broadcast(labels) else labels,
        e("src") === labels("node"))
      .select(col("dst").as("node"), col("label"))
      .union(labels)
      .groupBy(col("node")).agg(min(col("label")).as("label"))

  /** q160: component structure of one brand family's affinity subgraph
   *  — the c≥2 strength graph restricted to parts whose brand starts
   *  with `Brand#1` (vertex-induced: BOTH endpoints in the family).
   *  The restriction is the realistic catalog ask ("how does this
   *  brand family cluster?") and keeps the oracle's transitive-closure
   *  replay pair-bounded; the Spark primitive itself is unrestricted.
   *  Returns (part_id, component = min part id, comp_size). */
  def q160Components(s: SparkSession, d: String): DataFrame = {
    val fam = part(s, d).filter(col("p_brand").like("Brand#1%"))
      .select(col("p_partkey"))
    val e = coPurchaseStrength(s, d).filter(col("c") >= 2)
      .join(fam, col("src") === col("p_partkey"), "left_semi")
      .join(fam, col("dst") === col("p_partkey"), "left_semi")
      .select(col("src"), col("dst"))
    val cc = connectedComponents(e, edgeTier(s, d))
    val sizes = cc.groupBy(col("label")).agg(count(lit(1)).as("comp_size"))
    cc.join(sizes, Seq("label"))
      .select(col("node").as("part_id"), col("label").as("component"),
        col("comp_size"))
      .orderBy(col("part_id"))
  }

  /** Oracle: full transitive closure of the restricted graph with set
   *  semantics (pairs bounded by Σ|component|², small by the brand
   *  restriction), then min label + component size.
   *
   *  The family restriction is pushed BELOW the co-purchase aggregate
   *  — an exact rewrite, because src/dst are the group keys and the
   *  strength c of a family-family pair counts orders containing both
   *  PARTS of the pair, which parts outside the family can never
   *  affect. Without the pushdown DuckDB materialized the full ~10⁹-
   *  row edge aggregate at the 1000× octave and died on >63 GiB of
   *  temp spill (round-13 probe); the Spark side deliberately KEEPS
   *  the unrestricted build — exercising the chunked full-corpus edge
   *  assembly is the point of the probe. MATERIALIZED on every CTE is
   *  equally load-bearing (the q168/q171 lesson): un-hinted, DuckDB
   *  re-inlines `e` into each recursive-arm evaluation and recomputes
   *  the edge aggregate per round. */
  val q160Sql: String =
    """WITH RECURSIVE
      |fam AS MATERIALIZED (SELECT p_partkey FROM part WHERE p_brand LIKE 'Brand#1%'),
      |li AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM fam)),
      |ew AS MATERIALIZED (
      |  SELECT a.pk AS src, b.pk AS dst, count(*) AS c
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
      |  GROUP BY 1, 2),
      |e AS MATERIALIZED (SELECT src, dst FROM ew WHERE c >= 2),
      |reach(node, m) AS (
      |  SELECT src, src FROM e
      |  UNION
      |  SELECT e.dst, reach.m FROM reach JOIN e ON e.src = reach.node),
      |cc AS (SELECT node, min(m) AS component FROM reach GROUP BY node),
      |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS comp_size
      |       FROM cc GROUP BY component)
      |SELECT cc.node AS part_id, cc.component, sz.comp_size
      |FROM cc JOIN sz USING (component)
      |ORDER BY part_id""".stripMargin

  // ---------------------------------------------------------------
  // q181: label-propagation communities (synchronous LPA)
  // ---------------------------------------------------------------

  // 12 semi-synchronous rounds = 6 effective sweeps per parity class
  // (the fully-synchronous cut needed 6 sweeps: 4 left 71/1880 nodes
  // mid-flip at sf0.01, 6 left one certified 2-cycle oscillator pair
  // — bipartite-ish regions oscillate FOREVER under synchronous
  // update; no round count settles them, which is why the update is
  // now semi-synchronous, see [[labelPropagation]]). Bounded rounds
  // are what makes the oracle an unrolled CTE chain (the q168
  // device), and the is_stable certificate proves a true synchronous
  // fixpoint per node in BOTH engines.
  private[ops] val LpRounds = 12

  /** Semi-synchronous label propagation (Raghavan et al. 2007, "Near
   *  linear time algorithm to detect community structures"; the
   *  class-alternating schedule follows Cordasco & Gargano 2012,
   *  "Community detection via semi-synchronous label propagation"):
   *  every vertex starts as its own community; each round the ACTIVE
   *  parity class (odd node ids on odd rounds, even on even) adopts
   *  the most frequent label among its neighbors AND itself (the
   *  self-vote damps bridge takeover), ties to the SMALLEST label;
   *  the inactive class keeps its label. Alternating classes is what
   *  retires the synchronous 2-cycle: an adjacent pair can never
   *  swap labels in the same round unless both ids share parity, and
   *  the co-purchase oscillators measured at sf0.01/10× are
   *  cross-parity (verified by the all-stable certificate below —
   *  the schedule is still deterministic data-independent, so the
   *  oracle unrolls it exactly). Fully deterministic and
   *  integer-exact, which is what makes it oracle-able. Where q160's
   *  components answer "what is connected", LPA answers "what is
   *  densely knit": a bridge between two triangles leaves two
   *  communities where CC reports one.
   *
   *  Shape per round: ONE labels⋈edges equi-join on src against the
   *  pre-partitioned persisted edge frame (the q160 layout — zero
   *  per-round Exchange/Sort on the edge side, PlanQualitySpec-
   *  gated), a (node, label) vote count with map-side partials, an
   *  argmax reduced as max(struct(votes, -label)) — no per-node
   *  window — and one node-sized equi-join merging the vote into the
   *  inactive class's kept labels. Work per round O(E); all counts
   *  exact longs; label negation is safe for any ScaleGen-shifted id
   *  (< 2⁶³).
   *
   *  The final `is_stable` is a genuine FIXPOINT certificate, not a
   *  last-two-rounds comparison: one extra full synchronous vote
   *  runs over the final labels and is_stable(u) ⇔ u's vote equals
   *  u's label — true for every node iff the labeling is a
   *  synchronous fixpoint (round 11 left certified oscillators here;
   *  the semi-synchronous schedule settles them). Returns
   *  (node, community, comm_size, is_stable). */
  def labelPropagation(edges: DataFrame, rounds: Int = LpRounds,
      tier: EdgeTier = EdgeTier()): DataFrame = {
    val r = new Rounds("lpa", edges.select(col("src"), col("dst")), tier,
      _.select(col("src").as("node")).distinct().withColumn("label", col("node")))
    val labels = r.run(r.start, rounds) { (labels, i) =>
      // round 15: vote ONLY the active parity class — the inactive
      // class's votes were computed and then discarded by the merge
      // below, so filtering n2 before the vote aggregates halves
      // their input with row-identical output (votes per n2 are
      // independent; every active node self-votes). The A/B'd
      // alternatives both lost: per-round broadcast hints and a
      // union-of-filters merge each measured ~2× SLOWER than this
      // shape at sf0.1 (the per-round broadcast build is a blocking
      // driver job; AQE already picks the right strategy from the
      // materialized checkpoint stats).
      // the vote flow and the kept-label merge both read the labels
      val voted = lpRound(r.e, labels, parity = Some(i % 2L))
      Some(r.cut(voted.union(labels.filter(pmod(col("node"), lit(2L)) =!= lit(i % 2L))),
        consumers = 2))
    }
    // fixpoint certificate: one more full synchronous vote — a node
    // is stable iff re-voting over the FINAL labels would not move it
    val cert = lpRound(r.e, labels)
    val stable = labels.as("a").join(r.side(cert.as("b")), col("a.node") === col("b.node"))
      .select(col("a.node").as("node"), col("a.label").as("community"),
        (col("a.label") === col("b.label")).as("is_stable"))
    val sizes = stable.groupBy(col("community")).agg(count(lit(1)).as("comm_size"))
    stable.join(r.side(sizes), "community")
      .select(col("node"), col("community"), col("comm_size"), col("is_stable"))
  }

  /** One synchronous vote round: neighbor labels flow across edges,
   *  each vertex adds its own label, the most frequent label wins
   *  with ties to the smallest. Exposed for the plan gate. */
  private[ops] def lpRound(e: DataFrame, labels: DataFrame,
      bcast: Boolean = false, parity: Option[Long] = None): DataFrame = {
    val flow = e.join(if (bcast) broadcast(labels) else labels,
        col("src") === col("node"))
      .select(col("dst").as("n2"), col("label"))
      .union(labels.select(col("node").as("n2"), col("label")))
    // semi-synchronous rounds only consume the ACTIVE class's votes —
    // restricting n2 BEFORE the aggregates prunes the discarded half
    // (vote counts per n2 are independent, so the restriction is exact)
    val scoped = parity.fold(flow)(p =>
      flow.filter(pmod(col("n2"), lit(2L)) === lit(p)))
    scoped
      .groupBy(col("n2"), col("label")).agg(count(lit(1)).as("votes"))
      .groupBy(col("n2"))
      .agg(max(struct(col("votes"), (-col("label")).as("neg"))).as("m"))
      .select(col("n2").as("node"), (-col("m.neg")).as("label"))
  }

  /** q181: LPA communities of the c≥2 co-purchase strength graph —
   *  the assignment-level complement of q177 (which scores an
   *  EXOGENOUS brand partition) and q160 (which reports mere
   *  connectivity). */
  def q181Communities(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseStrength(s, d).filter(col("c") >= 2).select(col("src"), col("dst"))
    labelPropagation(e, tier = edgeTier(s, d))
      .select(col("node").as("part_id"), col("community"),
        col("comm_size"), col("is_stable"))
      .orderBy(col("part_id"))
  }

  /** The shared LPA oracle prefix (li → ew → e → l0 → l1..l[[LpRounds]]
   *  → the `cert` fixpoint vote) used VERBATIM by q181Sql and q182Sql
   *  — one copy so the vote rule cannot drift between the assignment
   *  and its quality readout. The argmax is a row_number ordered
   *  (votes DESC, label), semantically identical to the engine's
   *  max(struct(votes, -label)) on exact integers; each round's
   *  active parity class takes its vote and the other class keeps via
   *  the same CASE the engine computes; MATERIALIZED per round is
   *  load-bearing (the q168 lesson: DuckDB re-inlines CTEs per
   *  reference). */
  private val LpaCtes: String = {
    val rounds = (0 until LpRounds).map { i =>
      val r = i + 1
      s"""v$r AS (
         |  SELECT e.dst AS node, l.label FROM e JOIN l$i l ON e.src = l.node
         |  UNION ALL SELECT node, label FROM l$i),
         |c$r AS (
         |  SELECT node, label, count(*) AS votes FROM v$r GROUP BY 1, 2),
         |w$r AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |     row_number() OVER (PARTITION BY node ORDER BY votes DESC, label) AS rn
         |    FROM c$r) t WHERE rn = 1),
         |l$r AS MATERIALIZED (
         |  SELECT o.node,
         |   CASE WHEN o.node % 2 = ${r % 2} THEN w.label ELSE o.label END AS label
         |  FROM l$i o JOIN w$r w ON o.node = w.node)""".stripMargin
    }.mkString(",\n")
    s"""li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |ew AS (
       |  SELECT a.pk AS src, b.pk AS dst, count(*) AS c
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
       |  GROUP BY 1, 2),
       |e AS MATERIALIZED (SELECT src, dst FROM ew WHERE c >= 2),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e),
       |$rounds,
       |vc AS (
       |  SELECT e.dst AS node, l.label FROM e JOIN l$LpRounds l ON e.src = l.node
       |  UNION ALL SELECT node, label FROM l$LpRounds),
       |cc AS (SELECT node, label, count(*) AS votes FROM vc GROUP BY 1, 2),
       |cert AS MATERIALIZED (
       |  SELECT node, label FROM (
       |    SELECT node, label,
       |     row_number() OVER (PARTITION BY node ORDER BY votes DESC, label) AS rn
       |    FROM cc) t WHERE rn = 1)""".stripMargin
  }

  /** Oracle: the identical semi-synchronous vote UNROLLED as a
   *  MATERIALIZED CTE chain (the q168 device — both engines run
   *  exactly [[LpRounds]] rounds), with the same one-extra-vote
   *  fixpoint certificate. */
  val q181Sql: String =
    s"""WITH $LpaCtes
       |SELECT a.node AS part_id, a.label AS community,
       | CAST(count(*) OVER (PARTITION BY a.label) AS BIGINT) AS comm_size,
       | a.label = b.label AS is_stable
       |FROM l$LpRounds a JOIN cert b ON a.node = b.node
       |ORDER BY part_id""".stripMargin

  // ---------------------------------------------------------------
  // q182: modularity of the DISCOVERED partition (q181 ∘ q177)
  // ---------------------------------------------------------------

  /** q182: Newman-Girvan modularity of the q181 LPA partition — the
   *  quality readout that closes the community loop: q177 scores an
   *  EXOGENOUS labeling (brands), q181 discovers one, q182 scores
   *  the discovery with the same closed form, so "did LPA find
   *  denser-than-chance structure?" becomes one comparable number
   *  (at sf0.01 the discovered partition scores far above the brand
   *  partition — the discovered labels follow the actual edges).
   *  Shape: the q181 rounds plus two label equi-joins and two
   *  bounded aggregates ([[labeledModularity]]); nothing beyond
   *  O(E)/round + O(E) scoring. */
  def q182LpaModularity(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseStrength(s, d).filter(col("c") >= 2)
      .select(col("src"), col("dst"))
    // the modularity readout re-reads e: keep the chunks it reads
    val comm = labelPropagation(e, tier = edgeTier(s, d).copy(evict = () => ()))
      .select(col("node"), col("community"))
    labeledModularity(e
      .join(comm.select(col("node").as("src"), col("community").as("b_src")),
        "src")
      .join(comm.select(col("node").as("dst"), col("community").as("b_dst")),
        "dst"))
  }

  /** Oracle: the shared [[LpaCtes]] labels feeding q177's closed-form
   *  modularity reduction. */
  val q182Sql: String =
    s"""WITH $LpaCtes,
       |lab AS (
       |  SELECT ls.label AS b_src, ld.label AS b_dst
       |  FROM e JOIN l$LpRounds ls ON e.src = ls.node
       |         JOIN l$LpRounds ld ON e.dst = ld.node),
       |pb AS (
       |  SELECT b_src, CAST(count(*) AS BIGINT) AS deg_sum,
       |   CAST(sum(CASE WHEN b_src = b_dst THEN 1 ELSE 0 END) AS BIGINT)
       |     AS in_edges
       |  FROM lab GROUP BY b_src),
       |m AS (
       |  SELECT CAST(sum(deg_sum) AS BIGINT) AS two_e,
       |   CAST(sum(in_edges) AS BIGINT) AS in_total,
       |   CAST(sum(deg_sum * deg_sum) AS BIGINT) AS deg_sq
       |  FROM pb)
       |SELECT two_e, in_total, deg_sq,
       | (CAST(two_e AS DOUBLE) * CAST(in_total AS DOUBLE)
       |    - CAST(deg_sq AS DOUBLE))
       |   / (CAST(two_e AS DOUBLE) * CAST(two_e AS DOUBLE)) AS modularity
       |FROM m""".stripMargin

  // ---------------------------------------------------------------
  // q184: PERSONALIZED PageRank — teleport restarts at a seed set
  // ---------------------------------------------------------------

  /** Rows in the q184 recommendation readout. */
  private[ops] val PprTopK = 100

  /** Integer personalized PageRank (random-walk-with-restart): the
   *  q148 mass-push iteration with the teleport mass restarting at a
   *  SEED SET instead of spreading uniformly — the "related to X"
   *  recommendation signal (Haveliwala 2002, topic-sensitive
   *  PageRank) a catalog pipeline reads per brand/topic, and the one
   *  centrality variant q148/q165 can't express (their teleport is
   *  global). The same rounds as [[pageRank]], with the teleport share
   *  landing only at seed dsts. At the attach tier the vertex-bounded
   *  seed set is collected once per call into a sorted array that the
   *  driver consults where it adds the teleport, so q148's uniform edge
   *  blocks serve unchanged (one held entry for both) and no seed marker
   *  enters them. The SQL tiers carry a 0/1 seed indicator on the edge
   *  rows instead ([[Push]] `seeded`), attached through a broadcast of
   *  the seed set, so the build never shuffles edges.
   *  Vertices of the symmetric graph all have in-edges, so the rank
   *  frame stays complete across rounds even though non-seeds start
   *  at zero mass.
   *
   *  Determinism: all-integer like q148 (floor per edge, order-free
   *  long sums, floor'd per-seed teleport M·15 div (100·|S|)), so 10
   *  rounds replay bit-identically in the oracle's grouped recursive
   *  CTE; the top-k readout orders by (rank_units DESC, node) — exact
   *  integer ties. Seeds = graph vertices of the lexicographically
   *  smallest p_brand (data-derived, octave-stable: ScaleGen part
   *  copies keep brand values). */
  def personalizedPageRank(edges: => DataFrame, seeds: DataFrame,
      iterations: Int = Iterations, tier: EdgeTier = EdgeTier()): DataFrame = {
    lazy val e = rankEdges(edges)
    attachEdges(e, UniformPush, tier) { a =>
      val seedArr = seeds.select(col("pk").cast("long")).distinct().collect()
        .collect { case r if !r.isNullAt(0) => r.getLong(0) }.sorted
      def isSeed(v: Long) = java.util.Arrays.binarySearch(seedArr, v) >= 0
      val ns = a.nodes.count(isSeed).toLong
      val rows =
        if (ns == 0) Seq.empty[Row]
        else {
          val tele = teleShare(ns)
          val (nodes, rs) = driverRounds(a, a.nodes.map(v => if (isSeed(v)) M / ns else 0L),
            v => if (isSeed(v)) tele else 0L, iterations)
          val (vs, ds, us) = a.withDeg(nodes, rs)
          us.indices.sortBy(i => (-us(i), vs(i))).take(PprTopK).map(i =>
            Row(vs(i), ds(i), us(i), shareOf(us(i)), if (isSeed(vs(i))) 1L else 0L))
        }
      localRanks(a.s, Seq("part_id", "deg", "rank_units", "share", "is_seed"), rows)
    } match {
      case Some(ranked) => return ranked
      case None =>
    }
    // seedSet is vertex-bounded (one brand's parts) — checkpoint it
    // once so its consumers below don't re-run its distinct
    val seedSet = seeds.select(col("pk")).distinct().localCheckpoint()
    val r = pushRounds(e
      .join(broadcast(seedSet.withColumn("dst_seed", lit(1L))),
        col("dst") === col("pk"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("dst_seed"), lit(0L)).as("dst_seed")), SeededPush, tier)
    val deg = r.start
    val ns = deg.join(seedSet, col("src") === col("pk"), "left_semi")
      .count()
    if (ns == 0)
      return deg.select(col("src").as("part_id"), col("deg"),
        lit(0L).as("rank_units"), lit(0.0).as("share"),
        lit(0L).as("is_seed")).limit(0)
    val ranks = massPush(r,
      deg.join(seedSet, col("src") === col("pk"), "left")
        .select(col("src").as("node"),
          when(col("pk").isNotNull, lit(M / ns)).otherwise(lit(0L)).as("r")),
      SeededPush, teleShare(ns), iterations)
    ranks.join(r.side(deg), col("node") === col("src"))
      .join(broadcast(seedSet), col("node") === col("pk"), "left")
      .select(col("node").as("part_id"), col("deg"),
        col("r").as("rank_units"), (col("r") / (M * 1.0)).as("share"),
        col("pk").isNotNull.cast("long").as("is_seed"))
      .orderBy(col("rank_units").desc, col("part_id"))
      .limit(PprTopK)
  }

  /** q184: personalized PageRank over the co-purchase graph, seeded
   *  at the smallest brand's parts — the top-100 "related to this
   *  brand" parts with exact integer ranks. */
  def q184PersonalizedPageRank(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d)
    val minBrand = p.agg(min(col("p_brand"))).head().getString(0)
    val seeds = p.filter(col("p_brand") === lit(minBrand))
      .select(col("p_partkey").as("pk"))
    personalizedPageRank(coPurchaseStrength(s, d).select(col("src"), col("dst")), seeds,
      tier = coPurchaseTier(s, d))
  }

  /** Oracle: the identical seeded integer iteration as a grouped
   *  recursive CTE — the q148 replay with the teleport arm gated by
   *  max(dst_seed) and the base ranks concentrated on the seeds.
   *  The ns = 0 edge case (no seed intersects the vertex set —
   *  unreachable with q184's brand-derived seeds, but a public-API
   *  caller can construct it) matches the engine's empty result:
   *  every `// ns` term is CASE-guarded so the recursion runs on
   *  zero mass instead of dividing by zero, and the final readout
   *  filters itself empty. */
  val q184Sql: String =
    s"""WITH RECURSIVE
       |li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS (
       |  SELECT DISTINCT a.pk AS src, b.pk AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY src),
       |sd AS (SELECT DISTINCT d.src AS pk FROM deg d JOIN part p
       |        ON d.src = p.p_partkey
       |       WHERE p.p_brand = (SELECT min(p_brand) FROM part)),
       |e AS (SELECT e0.src, e0.dst, d.deg,
       |       CASE WHEN e0.dst IN (SELECT pk FROM sd) THEN 1 ELSE 0 END
       |         AS dst_seed
       |      FROM e0 JOIN deg d USING (src)),
       |sn AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM sd),
       |it(k, node, r) AS (
       |  SELECT 0, d.src, CAST(CASE WHEN s.pk IS NULL OR sn.ns = 0 THEN 0
       |        ELSE 1000000000000 // sn.ns END AS BIGINT)
       |  FROM deg d LEFT JOIN sd s ON d.src = s.pk CROSS JOIN sn
       |  UNION ALL
       |  SELECT it.k + 1, e.dst,
       |   CAST(CASE WHEN min(sn.ns) = 0 THEN 0
       |        ELSE max(e.dst_seed) * (1000000000000 * 15 // (100 * min(sn.ns)))
       |        END
       |        + sum(it.r * 85 // (100 * e.deg)) AS BIGINT)
       |  FROM it JOIN e ON it.node = e.src CROSS JOIN sn
       |  WHERE it.k < $Iterations
       |  GROUP BY it.k + 1, e.dst)
       |SELECT part_id, deg, rank_units, share, is_seed FROM (
       |  SELECT it.node AS part_id, d.deg, it.r AS rank_units,
       |   it.r * 1.0 / 1000000000000 AS share,
       |   CAST(CASE WHEN s.pk IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_seed
       |  FROM it JOIN deg d ON it.node = d.src
       |  LEFT JOIN sd s ON it.node = s.pk
       |  WHERE it.k = $Iterations AND (SELECT ns FROM sn) > 0)
       |ORDER BY rank_units DESC, part_id LIMIT $PprTopK""".stripMargin

  // ---------------------------------------------------------------
  // q185: GraphSAGE-style deterministic 2-hop neighbor sampling
  // ---------------------------------------------------------------

  /** Hop-1 / hop-2 sample fan-outs (GraphSAGE's S₁/S₂). */
  private[ops] val SageFan1 = 3
  private[ops] val SageFan2 = 2
  private[ops] val SageMod = 1000000007L

  /** q185: the mini-batch neighborhood-sampling primitive GNN
   *  training runs over a graph this size (GraphSAGE, Hamilton et al.
   *  2017) made exactly reproducible: each node gets ONE fixed
   *  neighbor sample — its `SageFan1` neighbors of smallest
   *  (h, dst) where h = ((src mod p)·1000003 + (dst mod p)·7919)
   *  mod p is a keyed hash both engines compute identically in int64
   *  (operands reduced mod p = 10⁹+7 BEFORE multiplying, the ScaleGen
   *  overflow rule) — and the 2-hop frontier is the sample table
   *  self-joined (hop-2 = the top-`SageFan2` rows of each hop-1
   *  neighbor's own sample). Per-node-fixed samples mean ONE window
   *  pass builds the table and one linear equi-join expands it: no
   *  per-root re-sampling blow-up, ≤ S₁·S₂ rows per root, and the
   *  row_number window is PARTITIONED by src (never global). The c≥2
   *  strength graph keeps the fan-out meaningful at every octave.
   *
   *  Determinism: the hash, both tie-breaks (h, then dst) and the
   *  join are exact-integer; row_number cast to long (DuckDB width
   *  rule). Returns (root, n1_rank, n1, n2_rank, n2). */
  def q185NeighborSample(s: SparkSession, d: String): DataFrame =
    neighborSample2Hop(coPurchaseStrength(s, d).filter(col("c") >= 2)
      .select(col("src"), col("dst")))

  /** The 2-hop sampling core over a (src, dst) edge frame — exposed
   *  for fixture specs and the plan gate. */
  private[ops] def neighborSample2Hop(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = ((col("src") % SageMod) * lit(1000003L)
      + (col("dst") % SageMod) * lit(7919L)) % SageMod
    val rn = row_number().over(
      Window.partitionBy(col("src")).orderBy(h.asc, col("dst").asc))
    val samp = e.select(col("src"), col("dst"), rn.cast("long").as("rn"))
      .filter(col("rn") <= SageFan1)
    samp.as("a").join(
        samp.as("b").filter(col("rn") <= SageFan2),
        col("a.dst") === col("b.src"))
      .select(col("a.src").as("root"), col("a.rn").as("n1_rank"),
        col("a.dst").as("n1"), col("b.rn").as("n2_rank"),
        col("b.dst").as("n2"))
      .orderBy(col("root"), col("n1_rank"), col("n2_rank"))
  }

  /** Oracle: the identical hash-ranked sample table self-joined. */
  val q185Sql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |ew AS MATERIALIZED (
       |  SELECT a.pk AS src, b.pk AS dst, count(*) AS c
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
       |  GROUP BY 1, 2),
       |e AS (SELECT src, dst FROM ew WHERE c >= 2),
       |samp AS MATERIALIZED (
       |  SELECT src, dst, CAST(row_number() OVER (
       |    PARTITION BY src ORDER BY h, dst) AS BIGINT) AS rn
       |  FROM (SELECT src, dst,
       |         ((src % $SageMod) * 1000003 + (dst % $SageMod) * 7919)
       |           % $SageMod AS h
       |        FROM e)
       |  QUALIFY rn <= $SageFan1),
       |two AS (
       |  SELECT a.src AS root, a.rn AS n1_rank, a.dst AS n1,
       |   b.rn AS n2_rank, b.dst AS n2
       |  FROM samp a JOIN samp b ON a.dst = b.src AND b.rn <= $SageFan2)
       |SELECT root, n1_rank, n1, n2_rank, n2 FROM two
       |ORDER BY root, n1_rank, n2_rank""".stripMargin
}
