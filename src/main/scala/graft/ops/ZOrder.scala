package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Z-order (Morton-curve) clustered layout — the data-layout primitive
 * for MULTI-column selective scans, complementing q57's single-column
 * Hive partitioning: interleaving the bits of two quantized sort keys
 * places rows close in (a, b) space close in file order, so parquet's
 * per-file and per-row-group min/max envelopes become tight little
 * boxes instead of full-range stripes. A 2-D box predicate then
 * prunes most files via footer stats alone — at 100 TB the difference
 * between touching every file (a 1-D sort layout is full-range in the
 * second column) and touching O(box) files.
 *
 * All arithmetic is codegen'd column expressions (shift/mask Morton
 * spread — no UDF, no custom Expression needed); the write is one
 * range-repartition by z (a single shuffle, the same cost as any
 * global sort), and readers need no special support: the layout IS
 * the optimization.
 */
object ZOrder {

  /** Morton spread of the low 16 bits: interleaves zeros between bits
    * (classic shift-and-mask sequence), as a codegen'd column tree. */
  private[ops] def spread16(c: Column): Column = {
    var x = c.bitwiseAND(lit(0xFFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Quantize `c` (known [lo, hi] domain) to a 16-bit rank. All
    * scaling in double, dividing BEFORE multiplying, so domains wider
    * than ~2^47 (epoch-micros columns) can't overflow an int64
    * multiply and abort under ANSI, and the domain endpoints map
    * exactly to 0/65535 at any width. Interior ranks can round one
    * cell off the exact rational beyond 2^53 — which merely shifts a
    * row one z-cell: the layout stays transparent to readers, so
    * quantization precision can never affect results. */
  private[ops] def rank16(c: Column, lo: Long, hi: Long): Column =
    if (hi <= lo) lit(0L)
    else ((c - lit(lo)).cast("double") / lit((hi - lo).toDouble) * lit(65535.0))
      .cast("long")

  /** z = interleave(rank16(a), rank16(b)) — 32-bit Morton code. */
  def zValue(a: Column, aLo: Long, aHi: Long, b: Column, bLo: Long, bHi: Long): Column =
    spread16(rank16(a, aLo, aHi))
      .bitwiseOR(shiftleft(spread16(rank16(b, bLo, bHi)), 1))

  /** Writes `df` clustered by the Morton code of (colA, colB) into
    * `numFiles` range-partitioned parquet files. Column domains are
    * taken from one tiny min/max aggregate (a driver scalar per
    * column — NOT a per-row collect). */
  def writeZOrdered(df: DataFrame, colA: String, colB: String,
      out: String, numFiles: Int): Unit = {
    val r = df.agg(min(col(colA)), max(col(colA)), min(col(colB)), max(col(colB))).head
    def asLong(i: Int): Long = r.get(i) match {
      case n: Number => n.longValue()
      case other => sys.error(s"z-order columns must be numeric, got $other")
    }
    df.withColumn("__z",
        zValue(col(colA), asLong(0), asLong(1), col(colB), asLong(2), asLong(3)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(out)
  }

  /** File count for a z-ordered rewrite of `df`, from its source
    * size: ~32 MB of (compressed) input bytes per output file, floor
    * 16. A FIXED count was the 100×-octave scale bug of this module:
    * 60M rows forced into 16 range partitions ran 16 giant
    * sort-and-encode tasks on 32 cores (255 s) — and at 100 TB would
    * mean multi-TB files no reader wants. File count must grow with
    * the data; per-file size is what stays constant. */
  private[ops] def filesForBytes(bytes: Long): Int =
    math.max(16L, bytes / (32L << 20) + 1).min(1 << 14).toInt

  private[ops] def autoNumFiles(df: DataFrame): Int = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val bytes = df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      try p.getFileSystem(conf).getFileStatus(p).getLen catch { case _: Exception => 0L }
    }.sum
    filesForBytes(bytes)
  }

  /** Z-ordered copy of lineitem by (l_partkey, l_suppkey), a derived
    * dir of its content key ([[CorpusArtifacts]]). */
  def zorderedLineitem(s: SparkSession, d: String): DataFrame =
    s.read.parquet(CorpusArtifacts.dir(s, "zorder_li", d, "lineitem") { dir =>
      val src = Tables.lineitem(s, d)
      writeZOrdered(src, "l_partkey", "l_suppkey", dir, autoNumFiles(src))
    })

  /** q82: a 2-D box query answered FROM the z-ordered layout; the
    * oracle runs the identical predicate on the source table, so the
    * driver's hash-compare proves the clustered rewrite is lossless
    * (row-for-row, not just count-preserving). The pruning win itself
    * is asserted in ZOrderSpec via per-file min/max envelopes. */
  def q82ZorderLayout(s: SparkSession, d: String): DataFrame = {
    zorderedLineitem(s, d)
      .filter(col("l_partkey") <= 400 && col("l_suppkey") <= 25)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(Tables.cents(col("l_quantity"))).as("qty_cents"))
      .orderBy(col("l_returnflag"))
  }

  val q82Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      | CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents
      |FROM lineitem WHERE l_partkey <= 400 AND l_suppkey <= 25
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
}
