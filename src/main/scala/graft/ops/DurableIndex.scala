package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/**
 * One durable-index lifecycle for every maintained index here — the
 * flat IVF layout (q144, q186; q137/q143 consume it), the scaled IVF
 * layout under a frozen two-level artifact (q189; q190 consumes it)
 * and the banded-MinHash LSH index (q166, q179): write → append a
 * generation → compact tombstones → stream `foreachBatch` append →
 * audit stream ≡ batch. Incremental maintenance in place of rebuilds
 * (the EDBT 2020 incremental top-k framework; Continuously Adaptive
 * Similarity Search, SIGMOD 2020).
 *
 * An index is three things:
 *  - its key column (`vec_id`, `doc_id`) — the unit tombstones delete;
 *  - its physical [[DurableIndex.Part]]s, each in one of two layouts:
 *    [[DurableIndex.CellDirs]], a `partitionBy("cell")` parquet dir at
 *    a path, so a probe reads only its cells through partition pruning
 *    (PlanQualitySpec pins PartitionFilters on the scan); or
 *    [[DurableIndex.Buckets]], a `bucketBy(n, col)[.sortBy(col)]`
 *    parquet catalog table, so a probe equi-join on the bucket column
 *    has no exchange on the index side (BucketingSpec pins it);
 *  - `build`, the function from a corpus batch to the rows its parts
 *    derive from: a cell assignment (memoized codebook or frozen
 *    artifact), or the MinHash signature frame both LSH tables read.
 *
 * Layout contract, stated once:
 *  - every row is a PER-KEY artifact of the batch it arrived in (no
 *    cross-row state in `build`), so a union of appends ≡ one build of
 *    the whole corpus, row for row — the equivalence the audits gate;
 *  - an append adds files to the existing cell dirs / buckets and
 *    never rewrites old ones: O(batch) per micro-batch;
 *  - compaction writes a NEW generation (Spark cannot overwrite what it
 *    reads; a deployment wants the atomic swap anyway), dropping the
 *    tombstoned keys through a broadcast left-anti join per part — the
 *    deletion-sized side broadcasts, the index streams through a
 *    map-side filter — and lands in the same layout, so probes keep
 *    their pruned / zero-exchange plans.
 */
final case class DurableIndex(key: String, parts: Seq[DurableIndex.Part],
    build: DataFrame => DataFrame) {
  import DurableIndex._

  /** Write (overwrite) or append `batch` into the index at `base`. A
    * build read by more than one part is persisted once and the part
    * writes overlap through [[Par]]; same rows either way. */
  def write(batch: DataFrame, base: String, append: Boolean = false): Unit = {
    val mode = if (append) "append" else "overwrite"
    val rows = build(batch)
    val shared = parts.lengthCompare(1) > 0
    if (shared) rows.persist(StorageLevel.MEMORY_AND_DISK)
    try Par.run(parts.map(p => () => p.put(p.rows(rows), base, mode)))
    finally if (shared) { rows.unpersist(); () }
    ()
  }

  /** The parts stored at `base`, in [[parts]] order. */
  def read(s: SparkSession, base: String): Seq[DataFrame] = parts.map(_.read(s, base))

  /** Rewrite the index at `src` without the `tombstones` keys as a new
    * generation at `dst`, the parts overlapped through [[Par]]. */
  def compact(s: SparkSession, src: String, dst: String, tombstones: DataFrame): Unit = {
    val tomb = broadcast(tombstones.select(col(key)).distinct())
    Par.run(parts.map(p => () =>
      p.put(p.read(s, src).join(tomb, Seq(key), "left_anti"), dst, "overwrite")))
    ()
  }

  /** Remove the index at `base`, so appends start from nothing. */
  def drop(s: SparkSession, base: String): Unit = parts.foreach(_.drop(s, base))

  /** Audit leg: stored rows, over every part, whose key is a tombstone. */
  def tombstonesLeft(s: SparkSession, base: String, tombstones: DataFrame): Long =
    read(s, base).map(_.join(broadcast(tombstones), Seq(key), "left_semi").count()).sum
}

object DurableIndex {
  sealed trait Layout
  /** `partitionBy("cell")` parquet dir at the part's path. */
  case object CellDirs extends Layout
  /** `bucketBy(n, by)[.sortBy(by)]` parquet catalog table named by the
    * part's path. */
  final case class Buckets(n: Int, by: String, sorted: Boolean) extends Layout

  /** One physical part: stored at `base + suffix` in `layout`, holding
    * `rows` of the index's build. */
  final case class Part(suffix: String, layout: Layout,
      rows: DataFrame => DataFrame = identity) {
    def read(s: SparkSession, base: String): DataFrame = layout match {
      case CellDirs => s.read.parquet(base + suffix)
      case _: Buckets => s.table(base + suffix)
    }

    def put(df: DataFrame, base: String, mode: String): Unit = layout match {
      case CellDirs => df.write.mode(mode).partitionBy("cell").parquet(base + suffix)
      case Buckets(n, by, sorted) =>
        val w = df.write.mode(mode).bucketBy(n, by)
        (if (sorted) w.sortBy(by) else w).format("parquet").saveAsTable(base + suffix)
    }

    def drop(s: SparkSession, base: String): Unit = layout match {
      case CellDirs => InferOps.deleteDir(base + suffix)
      case _: Buckets => s.sql(s"DROP TABLE IF EXISTS $base$suffix"); ()
    }
  }

  /** A one-part index keyed by `vec_id` over cell dirs. */
  def cells(build: DataFrame => DataFrame): DurableIndex =
    DurableIndex("vec_id", Seq(Part("", CellDirs)), build)

  /** Stage `corpus`, a projection of `table` in `d`, as 3 parquet files
    * for [[streamFiles]]: a derived dir of the table's content key
    * ([[CorpusArtifacts]]), so a corpus rewritten in place lands a NEW
    * stage instead of streaming the stale one. */
  def stage(s: SparkSession, tag: String, d: String, table: String,
      corpus: DataFrame): String =
    CorpusArtifacts.dir(s, tag, d, table)(
      corpus.repartition(3).write.mode("overwrite").parquet(_))

  /** Stream the files under `dir` one per micro-batch (AvailableNow,
    * maxFilesPerTrigger=1 — a genuine multi-batch foreachBatch chain)
    * into `each`; returns the number of batches seen. */
  def streamFiles(s: SparkSession, dir: String, schema: StructType)
      (each: DataFrame => Unit): Int = {
    import org.apache.spark.sql.streaming.Trigger
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        batches.incrementAndGet()
        each(b)
      }.trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    batches.get()
  }

  /** Full join of `stored` and `ref` (same column names) on `keys`, one
    * row per key with `mismatch` set where either side is missing or
    * any other column differs. */
  def compared(stored: DataFrame, ref: DataFrame, keys: Seq[String]): DataFrame = {
    val values = stored.columns.filterNot(keys.contains)
    val a = (c: String) => col(s"a.$c")
    val b = (c: String) => col(s"b.$c")
    val mismatch = (a(keys.head).isNull || b(keys.head).isNull) +:
      values.toSeq.map(v => a(v).isNull || b(v).isNull || a(v) =!= b(v))
    stored.as("a").join(ref.as("b"), keys.map(k => a(k) === b(k)).reduce(_ && _), "full")
      .select(keys.map(k => coalesce(a(k), b(k)).as(k)) :+
        mismatch.reduce(_ || _).as("mismatch"): _*)
  }

  /** Audit leg: rows of [[compared]] that mismatch. */
  def mismatches(stored: DataFrame, ref: DataFrame, keys: Seq[String]): Long =
    compared(stored, ref, keys).filter(col("mismatch")).count()

  /** Audit leg in one aggregate: (rows, distinct keys, mismatching
    * rows, then `extra`) of [[compared]] on `key` — completeness and
    * equivalence of a stored generation against its reference. */
  def coverage(stored: DataFrame, ref: DataFrame, key: String, extra: Column*): Row =
    compared(stored, ref, Seq(key))
      .agg(count(lit(1)), countDistinct(col(key)) +:
        count(when(col("mismatch"), 1)) +: extra: _*)
      .head()

  /** An all-true-VALUES gate's (component, ok) rows, ordered by
    * component (on the driver: a Spark sort would shuffle them). */
  def gate(s: SparkSession, legs: Seq[(String, Boolean)]): DataFrame = {
    import s.implicits._
    legs.sortBy(_._1).toDF("component", "ok")
  }
}
