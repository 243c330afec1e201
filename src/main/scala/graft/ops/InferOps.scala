package graft.ops

import graft.core.SchemaInfer
import graft.io.CsvIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Queries exercising the reference's own core capability — sampled
 * schema inference and CSV round-tripping (SURVEY.md §2.4, §2.1-2.2)
 * — through the driver's oracle gate.
 */
object InferOps {
  import Tables._

  /** Temp artifact path keyed by BOTH pid and source dir: two graft
   *  JVMs on the same sfDir must not share round-trip scratch space
   *  (embedded Derby refuses a second boot; csv/orc dirs could be
   *  overwritten mid-read). Because the pid makes every JVM's scratch
   *  unique, each registered path is deleted best-effort at JVM exit —
   *  otherwise repeated runs would grow /tmp without bound. */
  private[graft] def tmpPath(tag: String, d: String, suffix: String = ""): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_${tag}_" +
      s"${ProcessHandle.current().pid()}_${Integer.toHexString(d.hashCode)}$suffix"
    cleanupHook
    cleanupPaths.add(p)
    p
  }

  /** Per-invocation disambiguator for chunk-protocol scratch dirs
    * (q114/q135): a dir keyed by parameters alone would let two
    * concurrent invocations in one JVM interleave append-mode chunk
    * writes and silently double-count the assembled sums. */
  private[graft] val chunkDirSeq = new java.util.concurrent.atomic.AtomicLong(0)

  private val cleanupPaths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => cleanupScratch()))

  /** Register an externally-created scratch directory (e.g. the
    * pid-keyed warehouse from [[graft.GraftSession]]) for the same
    * exit-time cleanup `tmpPath` paths get — without it every graft
    * JVM leaks its managed-table generations (q80/q96/q166 indexes
    * can be corpus-sized) into java.io.tmpdir. */
  private[graft] def registerScratch(p: String): Unit = {
    cleanupHook
    cleanupPaths.add(p)
  }

  /** Best-effort recursive delete of ONE scratch path NOW rather than
    * at exit: operators that park chunked intermediates (q114's
    * per-chunk partial counts are candidate-sized at the large
    * octaves) reclaim them as soon as the assembled result is
    * materialized — waiting for exit-time cleanup leaked one
    * chunk dir per invocation into exactly the scratch the chunking
    * exists to protect. */
  private[graft] def deleteDir(p: String): Unit =
    try {
      val root = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(root))
        scala.util.Using.resource(java.nio.file.Files.walk(root)) { st =>
          st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f =>
              // POSIX unlink succeeds on open files (e.g. live Derby)
              try { java.nio.file.Files.deleteIfExists(f); () }
              catch { case _: Exception => () })
        }
    } catch { case _: Exception => () }

  /** Delete every registered scratch path, best-effort. Verify/Bench
    * call this explicitly before stopping Spark — the shutdown-hook
    * fallback races other hooks (Hadoop's shutdown manager can halt
    * the JVM before a slow hook drains the whole queue). */
  def cleanupScratch(): Unit = {
    var p = cleanupPaths.poll()
    while (p != null) {
      deleteDir(p)
      p = cleanupPaths.poll()
    }
  }

  /**
   * Distributed schema inference (treeAggregate of the ColumnDef
   * monoid) over lineitem rendered as raw strings — the shape every
   * CSV ingest sees. Returns one row per column: (name, inferred
   * type, emitted DDL, nullable).
   *
   * The oracle is a golden VALUES list pinned to the reference
   * lattice's expected output on this data (e.g. the timestamp
   * column classifies as `date` because all ship timestamps are at
   * midnight — the reference's is_date quirk, core.py:608-609).
   */
  def q32SchemaInfer(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = lineitem(s, d)
    // Deterministic sample: the 20k smallest-(orderkey, linenumber)
    // rows — the fitCodebook discipline (Similarity.scala). sort+limit
    // is TakeOrdered (per-partition top-k heaps, no global sort), so
    // the sample is O(scan) at any corpus size AND identical across
    // octaves: ScaleGen copies shift into strictly higher key spaces,
    // so the smallest 20k keys are always the base corpus's — the
    // golden below is octave-stable, unlike the previous whole-corpus
    // min/max whose int tiers widened with shifted keys. The monoid
    // fold over the sample stays the distributed inferFull path.
    val sample = li.sort(col("l_orderkey"), col("l_linenumber"))
      .limit(SchemaInfer.DefaultSampleSize)
    val raw = sample.select(
      li.columns.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
    val defs = SchemaInfer.inferFull(raw)
    defs.map(c => (c.name, c.settledType, c.ddlType, c.nullable))
      .toDF("col_name", "inferred_type", "ddl_type", "is_nullable")
      .orderBy(col("col_name"))
  }

  /** Golden oracle for sf0.01 lineitem (driver's correctness scale).
   *  Int tiers depend on observed min/max at this SF. */
  val q32Sql: String =
    """SELECT * FROM (VALUES
      | ('l_orderkey', 'int', 'SMALLINT', false),
      | ('l_partkey', 'int', 'SMALLINT', false),
      | ('l_suppkey', 'int', 'SMALLINT', false),
      | ('l_linenumber', 'int', 'SMALLINT', false),
      | ('l_quantity', 'float', 'FLOAT', false),
      | ('l_extendedprice', 'float', 'FLOAT', false),
      | ('l_discount', 'float', 'FLOAT', false),
      | ('l_tax', 'float', 'FLOAT', false),
      | ('l_returnflag', 'text', 'VARCHAR(50)', false),
      | ('l_linestatus', 'text', 'VARCHAR(50)', false),
      | ('l_shipdate', 'date', 'DATE', false)
      |) t(col_name, inferred_type, ddl_type, is_nullable)
      |ORDER BY col_name""".stripMargin

  /**
   * CSV round-trip: export lineitem with the reference's export
   * projection (_cleanbool), re-import with inferred schema, and
   * aggregate — the oracle aggregates the parquet directly, so any
   * fidelity loss in export/infer/cast shows up as a mismatch.
   * Directory-of-parts layout (singleFile=false) is the scale path.
   */
  def q33CsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = tmpPath("csv_rt", d)
    CsvIO.exportCsv(lineitem(s, d), s"$dir/lineitem.csv", singleFile = false,
      unixLineSep = true)
    // newline-free values → multiLine off keeps the files splittable
    val (typed, _) = CsvIO.importCsv(s, s"$dir/lineitem.csv", multiLine = false)
    typed.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).as("sum_qty"),
        (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q33Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      | sum(l_quantity) AS sum_qty,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_price
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** XLSX round-trip (S4-S6/K6): write nation⋈region to a workbook
   *  via the OOXML writer, re-import with inference, aggregate; the
   *  oracle aggregates the parquet directly. */
  def q35XlsxRoundtrip(s: SparkSession, d: String): DataFrame = {
    import graft.io.XlsxIO
    val df = nation(s, d)
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
    val out = tmpPath("xlsx_rt", d, suffix = ".xlsx")
    XlsxIO.writeSheet(df, out, "nation")
    val (back, _) = XlsxIO.importSheet(s, out, "nation")
    back.groupBy(col("r_name"))
      .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).cast("long").as("sum_key"))
      .orderBy(col("r_name"))
  }

  val q35Sql: String =
    """SELECT r_name, count(*) AS n, CAST(sum(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** JDBC round-trip (S9/S10/K1-K3) through embedded Derby:
   *  truncate-or-create load with 1,000-row batches, partitioned
   *  range read back, aggregate; oracle aggregates the parquet. */
  def q36JdbcRoundtrip(s: SparkSession, d: String): DataFrame = {
    import graft.io.JdbcIO
    val url = s"jdbc:derby:${tmpPath("derby", d)}/db;create=true"
    val cust = customer(s, d)
    JdbcIO.writeTable(cust, url, "customer_rt", None, truncate = true)
    // partition bounds from the ACTUAL key range — hardcoded wide
    // bounds would put every row in stride 1 and leave 7 partitions
    // issuing empty range queries
    val bounds = cust.agg(min(col("c_custkey")), max(col("c_custkey"))).head()
    JdbcIO.readTable(s, url, "customer_rt",
        partitionOn = Some(("c_custkey", bounds.getLong(0), bounds.getLong(1) + 1, 8)))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        (sum(cents(col("c_acctbal"))) / 100.0).as("sum_acctbal"))
      .orderBy(col("c_mktsegment"))
  }

  val q36Sql: String =
    """SELECT c_mktsegment, count(*) AS n,
      | CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_acctbal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** JSONL round-trip — the de-facto training-corpus format: export
   *  documents as JSON lines, re-read with an explicit schema (no
   *  sampling pass at scale), aggregate; oracle aggregates the
   *  parquet directly. */
  def q51JsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = tmpPath("jsonl_rt", d)
    val docs = documents(s, d)
    docs.write.mode("overwrite").json(dir)
    val back = s.read.schema(docs.schema).json(dir)
    back.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_len"))
      .orderBy(col("lang"))
  }

  val q51Sql: String =
    """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      | CAST(sum(length(text)) AS BIGINT) AS sum_len
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Hive-style partitioned layout: write documents partitioned BY
   *  lang, read back with a partition predicate — the scan must touch
   *  only the matching directories (PartitionFilters, asserted in
   *  PlanQualitySpec). The layout primitive for 100 TB corpora. */
  def q57PartitionedPrune(s: SparkSession, d: String): DataFrame = {
    partitionedDocs(s, d)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** Partitioned copy of documents, a derived dir of their content
    * key ([[CorpusArtifacts]]). */
  def partitionedDocs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(CorpusArtifacts.dir(s, "part_docs", d, "documents")(
      documents(s, d).write.mode("overwrite").partitionBy("lang").parquet(_)))

  val q57Sql: String =
    """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE lang IN ('en', 'de')
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Small-file compaction — the standard maintenance operator for a
   *  100 TB parquet corpus: a fragmented layout (here: documents
   *  deliberately shattered into 64 files) is rewritten into
   *  size-targeted files, and the compacted copy must answer queries
   *  identically. Target file count = ceil(bytes / targetBytes),
   *  measured from the fragmented layout itself — no driver-side data
   *  movement, one distributed read→repartition→write. */
  def compact(s: SparkSession, inDir: String, outDir: String,
      targetBytes: Long): Int = {
    val bytes = {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get(inDir))) {
        _.iterator().asScala
          .filter(_.toString.endsWith(".parquet"))
          .map(java.nio.file.Files.size).sum
      }
    }
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    s.read.parquet(inDir).repartition(parts)
      .write.mode("overwrite").parquet(outDir)
    parts
  }

  /** Driver-gated compaction query: shatter documents into 64 tiny
   *  files, compact to a byte-targeted layout, aggregate the
   *  compacted copy; the oracle aggregates the source parquet — any
   *  row lost/duplicated by the rewrite shows up as a mismatch. */
  def q67Compaction(s: SparkSession, d: String): DataFrame = {
    val frag = tmpPath("frag", d)
    val compacted = tmpPath("compact", d)
    documents(s, d).repartition(64).write.mode("overwrite").parquet(frag)
    compact(s, frag, compacted, targetBytes = 4L << 20)
    s.read.parquet(compacted)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_len"))
      .orderBy(col("lang"))
  }

  val q67Sql: String =
    """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      | CAST(sum(length(text)) AS BIGINT) AS sum_len
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** ORC round-trip — the columnar alternative on the same query. */
  def q52OrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = tmpPath("orc_rt", d)
    lineitem(s, d).write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .filter(col("l_discount") > 0.05) // pushdown survives the format hop
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  val q52Sql: String =
    """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
      |FROM lineitem WHERE l_discount > 0.05
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q150: schema-evolution-tolerant ingest — the long-lived-dataset
   *  reality: an early snapshot was written BEFORE a column existed,
   *  a later one after. Snapshot v1 (even order keys) omits
   *  o_orderstatus; v2 (odd keys) carries it. One `mergeSchema` read
   *  over the batch-partitioned layout unifies them — v1 rows surface
   *  a NULL status — and the aggregate runs over the union. Additive
   *  (new-column) evolution only: that is what parquet schema merge
   *  guarantees; type WIDENING is a rewrite, not a merge (documented
   *  divergence from systems that upcast on read).
   *
   *  Scale: schema merge reads FOOTERS, not data (and respects
   *  spark.sql.parquet.mergeSchema semantics — per-file schemas union
   *  on the driver); the data path stays a plain partitioned parquet
   *  scan with pushdown intact. The oracle recomputes the identical
   *  union from the source table (the q33/q67 lossless-roundtrip
   *  protocol: no oracle dependency on scratch paths). */
  def q150SchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = tmpPath("evolve", d)
    val o = orders(s, d)
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/batch=1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/batch=2")
    s.read.option("mergeSchema", "true").parquet(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(Tables.cents(col("o_totalprice"))).as("sum_cents"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy(col("o_orderstatus"))
  }

  val q150Sql: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL
      |        ELSE o_orderstatus END AS o_orderstatus,
      | count(*) AS n,
      | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q188: TYPE-WIDENING schema evolution (round-14 ask 6 — the other
  // half of q150's additive-only rule)
  // ---------------------------------------------------------------

  /** Lossless numeric promotion lattice for cross-snapshot reads —
   *  Iceberg's evolution rules: integral widths widen among
   *  themselves (TINYINT→…→BIGINT) and FLOAT widens to DOUBLE.
   *  Everything else — BIGINT→DOUBLE (drops low bits past 2⁵³),
   *  any narrowing, any cross-family change — is declared a REWRITE
   *  and fails loudly rather than silently upcasting into loss. */
  private[ops] def widenType(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val intRank = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    (a, b) match {
      case (x, y) if x == y => x
      case (x, y) if intRank.contains(x) && intRank.contains(y) =>
        if (intRank(x) >= intRank(y)) x else y
      case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
      case _ => throw new IllegalArgumentException(
        s"no lossless widening between $a and $b: that schema change " +
          "is a rewrite, not a widen")
    }
  }

  /** Union snapshot generations under widening reconciliation: each
   *  column is cast to the widest type it carries across generations
   *  (the [[widenType]] lattice) and a column absent from some
   *  generation surfaces there as typed NULL (q150's additive rule —
   *  both evolution axes compose in one read). Column order follows
   *  first appearance. Zero-shuffle: the reconciliation is one
   *  projection per generation whose casts fold into the scan, so
   *  per-generation pushdown and pruning survive untouched. */
  def widenUnion(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "widenUnion of zero generations")
    val cols = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.types.DataType]
    frames.foreach(_.schema.fields.foreach { f =>
      cols(f.name) = cols.get(f.name)
        .map(widenType(_, f.dataType)).getOrElse(f.dataType)
    })
    frames.map { df =>
      val have = df.schema.fieldNames.toSet
      df.select(cols.toSeq.map { case (n, t) =>
        (if (have(n)) col(n).cast(t) else lit(null).cast(t)).as(n)
      }: _*)
    }.reduce(_.unionByName(_))
  }

  /** q188: type-widening ingest — the long-lived-dataset cell q150
   *  deliberately left out: snapshot v1 was written while order keys
   *  still fit 32 bits (and prices were float32); once keys outgrew
   *  INT the writer moved to BIGINT/DOUBLE. parquet mergeSchema
   *  REFUSES that layout (incompatible per-file types), so the read
   *  reconciles explicitly: each generation under its own declared
   *  manifest schema, every column cast up the [[widenType]] lattice.
   *
   *  The magnitude split is octave-honest: the provisioned dirs put
   *  every row in v1 (all keys fit INT — v2 is a zero-row generation,
   *  readable because a snapshot manifest carries its schema even
   *  when no files do), while the 1e10-shifted derived octaves
   *  populate both generations, so the same query exercises the
   *  empty-generation edge at small scale and the genuine two-type
   *  union at large. The oracle replays the float32 round-trip with
   *  the identical magnitude CASE. */
  def q188TypeWidening(s: SparkSession, d: String): DataFrame = {
    val dir = tmpPath("widen", d)
    val o = orders(s, d)
    val fits = col("o_orderkey") <= lit(Int.MaxValue.toLong)
    o.filter(fits)
      .select(col("o_orderkey").cast("int").as("o_orderkey"),
        col("o_custkey"),
        col("o_totalprice").cast("float").as("o_totalprice"),
        col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$dir/batch=1")
    o.filter(!fits)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$dir/batch=2")
    val v1 = s.read.schema(
        "o_orderkey INT, o_custkey BIGINT, o_totalprice FLOAT, o_orderstatus STRING")
      .parquet(s"$dir/batch=1")
    val v2 = s.read.schema(
        "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
      .parquet(s"$dir/batch=2")
    widenUnion(Seq(v1, v2))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        max(col("o_orderkey")).as("max_key"),
        sum(Tables.cents(col("o_totalprice"))).as("sum_cents"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy(col("o_orderstatus"))
  }

  /** Oracle: recompute the widened union from the source table — the
   *  v1 float32 degradation replayed per-row by the same magnitude
   *  CASE that routed the row at write time (CAST to REAL and back is
   *  IEEE-deterministic in both engines). */
  val q188Sql: String =
    """SELECT o_orderstatus, count(*) AS n,
      | max(o_orderkey) AS max_key,
      | CAST(sum(CAST(round(
      |   CASE WHEN o_orderkey <= 2147483647
      |        THEN CAST(CAST(o_totalprice AS REAL) AS DOUBLE)
      |        ELSE o_totalprice END * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
}
