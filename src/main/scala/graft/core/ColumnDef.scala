package graft.core

import org.apache.spark.sql.types._

/**
 * Per-column schema-inference accumulator, reproducing the reference's
 * `ColumnDef` lattice (reference: diepy/core.py:458-544).
 *
 * Sequential semantics (`sampleValue`) are reference-exact:
 *  - first non-empty value decides the type, tried in order
 *    int → float → date → time → datetime → text (core.py:496-508);
 *  - later conflicting values demote `date`/`float`/`int` to `text`
 *    (core.py:489-494) — note `time`/`datetime` never demote (quirk,
 *    SURVEY.md §2.7.2), and `int` followed by a float demotes to
 *    `text`, not `float`;
 *  - `length` tracks the max string length of text values
 *    (core.py:478-479); `min`/`max` track int range (core.py:481-486);
 *  - nullable flips on the first empty/None sample (core.py:469-474).
 *
 * `merge` makes the accumulator a commutative monoid so inference can
 * run distributed (`treeAggregate`) over 100 TB inputs. Merging two
 * partitions with conflicting settled types yields `text`; this
 * matches the reference for every order-insensitive case and for the
 * dominant int-then-float→text quirk (documented divergence: the
 * reference's float-then-int stays float; the monoid says text only
 * when partitions DISAGREE on the settled type, which cannot preserve
 * order across partition boundaries).
 */
final case class ColumnDef(
    name: String,
    tpe: String = "",      // "" | int | float | date | time | datetime | text
    nullable: Boolean = false,
    length: Int = 0,
    minValue: Long = 0L,
    maxValue: Long = 0L
) {

  import TypeInfer._

  /** Reference-exact sequential accumulation (core.py:469-486). */
  def sampleValue(value: String): ColumnDef = {
    if (value == null || value.isEmpty) return copy(nullable = true)
    val afterType = determineType(value)
    val afterLen =
      if (afterType.tpe == "text" && value.length > afterType.length)
        afterType.copy(length = value.length)
      else afterType
    if (afterLen.tpe == "int") {
      // Python's int() is arbitrary-precision; saturate instead of
      // throwing on digit strings beyond Long range (stays `int`,
      // emits the widest tier)
      val v = try value.trim.toLong catch {
        case _: NumberFormatException =>
          if (value.trim.startsWith("-")) Long.MinValue else Long.MaxValue
      }
      afterLen.copy(
        minValue = math.min(afterLen.minValue, v),
        maxValue = math.max(afterLen.maxValue, v))
    } else afterLen
  }

  private def determineType(value: String): ColumnDef = {
    // demotion checks (core.py:489-494) — date/float/int only
    val demoted =
      if (tpe == "date" && !isDate(value)) copy(tpe = "text")
      else if (tpe == "float" && !isFloat(value)) copy(tpe = "text")
      else if (tpe == "int" && !isInt(value)) copy(tpe = "text")
      else this
    if (demoted.tpe.nonEmpty) demoted
    else if (isInt(value)) demoted.copy(tpe = "int")
    else if (isFloat(value)) demoted.copy(tpe = "float")
    else if (isDate(value)) demoted.copy(tpe = "date")
    else if (isTime(value)) demoted.copy(tpe = "time")
    else if (isDateTime(value)) demoted.copy(tpe = "datetime")
    else demoted.copy(tpe = "text")
  }

  /** Commutative, associative partition merge for distributed
   *  inference. Identity element: ColumnDef(name). */
  def merge(other: ColumnDef): ColumnDef = {
    val t = (tpe, other.tpe) match {
      case (a, b) if a == b => a
      case ("", b)          => b
      case (a, "")          => a
      case _                => "text"
    }
    ColumnDef(
      name = name,
      tpe = t,
      nullable = nullable || other.nullable,
      length = math.max(length, other.length),
      minValue = math.min(minValue, other.minValue),
      maxValue = math.max(maxValue, other.maxValue))
  }

  /** Settled type: never-typed columns default to text (core.py:513). */
  def settledType: String = if (tpe.isEmpty) "text" else tpe

  /** Emitted SQL DDL type (core.py:510-544).
   *  Divergence from the reference (documented, SURVEY.md §2.7.3): the
   *  reference ignores negative `min_value` when picking SMALLINT; we
   *  size by both bounds and extend to BIGINT for 64-bit ranges. */
  def ddlType: String = settledType match {
    case "int" if minValue == 0 && maxValue == 1 => "SMALLINT" // bool-as-int
    case "int" if minValue >= Short.MinValue && maxValue < 32768 => "SMALLINT"
    case "int" if minValue >= Int.MinValue && maxValue <= Int.MaxValue => "INT"
    case "int"      => "BIGINT"
    case "float"    => "FLOAT"
    case "datetime" => "TIMESTAMP"
    case "date"     => "DATE"
    case "time"     => "TIME"
    case "text" =>
      // width tiers, core.py:530-544
      val widths = Seq(50, 100, 200, 500, 1000, 4000)
      widths.find(length < _).map(w => s"VARCHAR($w)").getOrElse("CLOB")
  }

  /** JDBC `createTableColumnTypes` fragment type: like `ddlType` but
   *  restricted to DDL Spark's parser accepts and the JDBC writer can
   *  map. `float` is DOUBLE: Spark reads `FLOAT` as a 4-byte float, so
   *  the column would be REAL and 75462.67 would come back 75462.671875.
   *  `time` travels as VARCHAR (the DataFrame column is a string); None
   *  for the CLOB tier → let the dialect's default StringType mapping
   *  apply (Derby: CLOB). */
  def jdbcDdlType: Option[String] = settledType match {
    case "float"                  => Some("DOUBLE")
    case "time"                   => Some("VARCHAR(15)")
    case "datetime"               => Some("TIMESTAMP")
    case "text" if length >= 4000 => None
    case _                        => Some(ddlType)
  }

  /** Spark schema field (SURVEY.md §1.3 mapping). */
  def toStructField: StructField = {
    val dt: DataType = settledType match {
      case "int" if minValue >= Short.MinValue && maxValue < 32768 => ShortType
      case "int" if minValue >= Int.MinValue && maxValue <= Int.MaxValue => IntegerType
      case "int"      => LongType
      case "float"    => DoubleType
      case "datetime" => TimestampType
      case "date"     => DateType
      // TimeType probed on Spark 4.1.2 and PINNED in
      // TimeTypeProbeSpec: the type is feature-flagged off by default
      // (UNSUPPORTED_TIME_TYPE), and even with
      // spark.sql.timeType.enabled=true the CSV datasource rejects
      // TIME on write (UNSUPPORTED_DATA_TYPE_FOR_DATASOURCE; casts
      // and parquet do work) — the string carrier is the only
      // CSV-ingest-compatible representation. If a future Spark lifts
      // the restriction, the probe spec fails and this is revisited.
      case "time"     => StringType
      case "text"     => StringType
    }
    StructField(name, dt, nullable)
  }
}

object ColumnDef {
  /** Header sanitation (core.py:416-420, 443-448): strip UTF-8 BOM,
   *  blank headers become unnamed<N> (N counts blanks, 1-based). */
  def sanitizeHeaders(headers: Seq[String]): Seq[String] = {
    // duplicates get _2/_3/… suffixes: the reference's
    // dict(zip(header, values)) silently kept only the LAST duplicate
    // column; suffixing preserves every column (documented divergence)
    var unnamed = 0
    val seen = scala.collection.mutable.Map[String, Int]()
    val used = scala.collection.mutable.Set[String]()
    headers.map { h0 =>
      val h1 = Option(h0).getOrElse("").stripPrefix("﻿").trim
      val h = if (h1.isEmpty) { unnamed += 1; s"unnamed$unnamed" } else h1
      var n = seen.getOrElse(h, 0) + 1
      var out = if (n == 1) h else s"${h}_$n"
      // a generated suffix (or unnamed<N>) can itself collide with a
      // REAL later/earlier header (a,a,a_2): keep bumping until the
      // emitted name is globally unique, else the frame ends up with
      // duplicate columns and every by-name select turns ambiguous
      while (used.contains(out)) { n += 1; out = s"${h}_$n" }
      seen(h) = n
      used += out
      out
    }
  }
}
