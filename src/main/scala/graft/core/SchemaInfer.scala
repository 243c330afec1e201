package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * Schema inference over a DataFrame of raw strings, reproducing the
 * reference's sampled inference (reference: diepy/core.py:407-455,
 * sample_size=20000) but parallelizable for 100 TB inputs.
 *
 * Two modes:
 *  - `inferSample`: bounded `limit(sampleSize)` pass, matching the
 *    reference's 20k-row cap. The limit short-circuits the scan, so
 *    cost is O(sample), independent of table size.
 *  - `inferFull`: distributed `treeAggregate` of the ColumnDef monoid
 *    over EVERY row — O(n/cores), no driver bottleneck; this is the
 *    100 TB path (per-partition sequential fold preserves reference
 *    semantics within a partition; merges are the documented monoid).
 */
object SchemaInfer {

  val DefaultSampleSize = 20000 // reference parity, core.py:407, 431

  /** Reference-parity: infer from at most `sampleSize` rows. */
  def inferSample(raw: DataFrame, sampleSize: Int = DefaultSampleSize): Seq[ColumnDef] = {
    val names = ColumnDef.sanitizeHeaders(raw.columns.toSeq)
    val zero = names.map(ColumnDef(_)).toArray
    val rows = raw.limit(sampleSize).collect()
    rows.foldLeft(zero) { (acc, row) => foldRow(acc, row) }.toSeq
  }

  /** Scale path: fold every partition, merge with the monoid. */
  def inferFull(raw: DataFrame): Seq[ColumnDef] = {
    val names = ColumnDef.sanitizeHeaders(raw.columns.toSeq)
    val zero = names.map(ColumnDef(_)).toArray
    raw.rdd.treeAggregate(zero)(
      seqOp = (acc, row) => foldRow(acc, row),
      combOp = (a, b) => a.zip(b).map { case (x, y) => x.merge(y) }
    ).toSeq
  }

  // mutates acc in place — safe for fold/treeAggregate accumulators,
  // avoids an array allocation per row
  private def foldRow(acc: Array[ColumnDef], row: Row): Array[ColumnDef] = {
    var i = 0
    while (i < acc.length) {
      val v = if (i < row.length && !row.isNullAt(i)) row.get(i).toString else null
      acc(i) = acc(i).sampleValue(stripBom(v))
      i += 1
    }
    acc
  }

  // BOM strip on record keys/values at read time (core.py:243, 375)
  private def stripBom(s: String): String =
    if (s != null && s.nonEmpty && s.charAt(0) == '﻿') s.substring(1) else s

  /** All-string schema used for the raw first pass. */
  def rawSchema(cols: Seq[String]): StructType =
    StructType(ColumnDef.sanitizeHeaders(cols).map(StructField(_, StringType, nullable = true)))

  /** JDBC `createTableColumnTypes` fragment carrying VARCHAR width
   *  tiers (core.py:530-544 → SURVEY.md §2.2 K2). Empty when every
   *  column uses the dialect default. */
  def createTableColumnTypes(cols: Seq[ColumnDef]): String =
    // backtick-quote: headers may contain spaces/reserved words
    cols.flatMap(c => c.jdbcDdlType.map(t => s"`${c.name}` $t")).mkString(", ")
}
