package graft.io

import graft.core.{ColumnDef, SchemaInfer}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Delimited-text import/export with the reference's semantics
 * (reference: diepy/core.py:234-336) on Spark primitives.
 *
 * Import is the reference's two-pass structure (core.py:137→147):
 * pass 1 reads everything as strings and infers the schema
 * (SchemaInfer); pass 2 re-reads with the typed schema. Spark reads
 * `.gz` natively, and `.zip` is unpacked to scratch first — both fix
 * the reference's broken compressed import (core.py:19 accepts the
 * suffixes but opens with plain `open()` — SURVEY.md §2.7.1).
 */
object CsvIO {

  /** File-type dispatch (core.py:18-25). */
  private val excelRe = ".*(\\.xlsx|\\.xls)(\\.gz|\\.zip)?(\\$.*)?$".r
  def isExcel(p: String): Boolean = excelRe.matches(p)

  /** Delimiter by extension: `.tab`/`.tsv` → TAB (core.py:314-317). */
  def delimiterFor(path: String, explicit: Option[String] = None): String =
    explicit.getOrElse {
      val base = path.stripSuffix(".gz").stripSuffix(".zip")
      if (base.endsWith(".tab") || base.endsWith(".tsv")) "\t" else ","
    }

  /** Raw all-string read (pass 1). `multiLine=true` (the default)
   *  handles quoted embedded newlines (tests/basic.csv row 3) but
   *  makes files unsplittable — pass false on the scale path when
   *  values are known newline-free so big files read in parallel. */
  def readRaw(spark: SparkSession, path: String, delimiter: String,
      multiLine: Boolean = true): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("delimiter", delimiter)
      .option("quote", "\"")
      .option("escape", "\"")
      .option("multiLine", multiLine.toString)
      .csv(path)
    // header sanitation: BOM strip + unnamed<N> (core.py:443-448)
    val clean = ColumnDef.sanitizeHeaders(df.columns.toSeq)
    df.toDF(clean: _*)
  }

  /** Full inferred import: returns the typed DataFrame plus the
   *  inferred column definitions (for DDL emission). */
  def importCsv(
      spark: SparkSession,
      path: String,
      delimiter: Option[String] = None,
      sampleSize: Int = SchemaInfer.DefaultSampleSize,
      multiLine: Boolean = true): (DataFrame, Seq[ColumnDef]) = {
    // the reference's regex ACCEPTED .zip but its plain open() could
    // never read one (core.py:18-25 — SURVEY §2.7.1): this is a
    // fix-the-reference-bug port, not a port of the bug. Spark has no
    // zip codec (a zip's central directory makes it non-streamable),
    // so the single entry is extracted driver-side to pid-keyed
    // scratch and the normal CSV path reads that. Delimiter dispatch
    // stays on the OUTER name (data.tsv.zip → TAB), like .gz.
    val extracted = if (path.endsWith(".zip")) Some(unzipToScratch(path)) else None
    // the scratch file inherits the outer basename, which may carry
    // glob metacharacters — escape them for the Spark read (the
    // extracted path is always a real local file); escaped paths
    // cannot use the multiLine whole-file reader on 4.1.2
    val realPath = extracted match {
      case Some(sp) if sp.exists("*?[]{}".contains(_)) =>
        sp.replaceAll("([\\[\\]{}*?])", "\\\\$1")
      case Some(sp) => sp
      case None => path
    }
    val d = delimiterFor(path, delimiter)
    val raw = readRaw(spark, realPath,
      d, multiLine && realPath == extracted.getOrElse(path))
    val cols = SchemaInfer.inferSample(raw, sampleSize)
    val typed = castTo(raw, cols)
    (typed, cols)
  }

  /** Decompressed-size ceiling for zip extraction (zip-bomb guard):
   *  a corrupt or hostile archive must not fill the tmpdir before any
   *  CSV validation runs. Overridable for genuinely huge imports. */
  private[io] def maxUnzippedBytes: Long =
    sys.props.get("graft.zip.maxBytes").map(_.toLong).getOrElse(8L << 30)

  /** Extract a single-entry zip to pid-keyed scratch and return the
   *  extracted file's path. Multi-entry archives are rejected loudly —
   *  the reference's one-file-one-table model has no answer for them.
   *  Driver-side by necessity (the container file must be read
   *  locally to be split); the extracted CSV then reads distributed.
   *  Scratch is pid-keyed (concurrent JVMs can't collide) and
   *  deleted at JVM exit. */
  private def unzipToScratch(path: String): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val zf = new java.util.zip.ZipFile(path)
    try {
      val entries = zf.entries().asScala.filterNot(_.isDirectory).toList
      if (entries.isEmpty)
        throw new IllegalArgumentException(s"$path: empty zip archive")
      if (entries.sizeIs > 1)
        throw new IllegalArgumentException(
          s"$path: multi-entry zip archives are not supported " +
            s"(entries: ${entries.map(_.getName).mkString(", ")})")
      val entry = entries.head
      // zip-slip guard: the output name below derives from the OUTER
      // path (never the entry name), but a traversal-shaped entry name
      // still marks a hostile archive — fail loudly instead of quietly
      // extracting it under a sanitized name
      val entryName = entry.getName
      if (Paths.get(entryName).isAbsolute ||
          entryName.split("[/\\\\]").contains(".."))
        throw new IllegalArgumentException(
          s"$path: zip entry name escapes the archive: $entryName")
      val dir = Paths.get(sys.props("java.io.tmpdir"),
        s"graft_unzip_${ProcessHandle.current().pid()}_" +
          Integer.toHexString(path.hashCode))
      Files.createDirectories(dir)
      // JVM-exit deletion runs registrations LIFO: the dir must be
      // registered BEFORE its contents so the (then-empty) dir deletes
      // last — the reverse order leaked one empty scratch dir per zip
      dir.toFile.deleteOnExit()
      // name the extraction after the OUTER path minus .zip so the
      // scratch file keeps a recognizable csv/tsv extension
      val out = dir.resolve(Paths.get(path.stripSuffix(".zip")).getFileName)
      out.toFile.deleteOnExit()
      val cap = maxUnzippedBytes
      try {
        scala.util.Using.resources(
            zf.getInputStream(entry), Files.newOutputStream(out)) { (in, os) =>
          val buf = new Array[Byte](1 << 16)
          var total = 0L
          var n = in.read(buf)
          while (n >= 0) {
            total += n
            if (total > cap)
              throw new IllegalArgumentException(
                s"$path: decompressed size exceeds ${cap}B cap " +
                  "(zip bomb? raise -Dgraft.zip.maxBytes for legitimate imports)")
            os.write(buf, 0, n)
            n = in.read(buf)
          }
        }
      } catch {
        case e: Throwable => Files.deleteIfExists(out); throw e
      }
      out.toString
    } finally zf.close()
  }

  // the SAME format lists TypeInfer classifies with — a value that
  // inferred as date/datetime must cast back with one of these
  private def tsFormats = graft.core.TypeInfer.dateTimePatterns
  private def dateFormats = graft.core.TypeInfer.datePatterns

  private def tryTemporal(src: Column, formats: Seq[String]): Column =
    // the default parser first: it handles ISO shapes with arbitrary
    // fraction digits; explicit formats cover the non-ISO lattice
    coalesce(try_to_timestamp(src) +: formats.map(f => try_to_timestamp(src, lit(f))): _*)

  /** Pass 2 as a projection over the raw read — equivalent to the
   *  reference's per-cell `cast_data` (core.py:374-389): empty→NULL,
   *  temporal parse, numeric cast. All casts are try_* variants:
   *  under Spark 4's default ANSI mode a plain cast would abort the
   *  whole import on one malformed cell the 20k-row sample missed
   *  (and temporal parsing must accept every format the inference
   *  lattice accepts, not just ISO). */
  def castTo(raw0: DataFrame, cols: Seq[ColumnDef]): DataFrame = {
    // rename to unique temps FIRST so the projection is genuinely
    // positional: raw(raw.columns(i)) resolves BY NAME and would be
    // ambiguous for pre-sanitation callers with duplicate headers
    val raw = raw0.toDF(raw0.columns.indices.map(i => s"__pos$i"): _*)
    val projections = cols.zipWithIndex.map { case (c, i) =>
      val src = raw(s"__pos$i")
      val nonEmpty = when(src.isNull || src === "", lit(null)).otherwise(src)
      val casted: Column = c.toStructField.dataType match {
        case ShortType     => nonEmpty.try_cast(ShortType)
        case IntegerType   => nonEmpty.try_cast(IntegerType)
        case LongType      => nonEmpty.try_cast(LongType)
        case DoubleType    => nonEmpty.try_cast(DoubleType)
        case TimestampType => tryTemporal(nonEmpty, tsFormats ++ dateFormats)
        case DateType      => tryTemporal(nonEmpty, dateFormats ++ tsFormats).cast(DateType)
        case _             => nonEmpty
      }
      casted.as(c.name)
    }
    raw.select(projections: _*)
  }

  /** Export projection — the reference's `_cleanbool`
   *  (core.py:360-371): bool→1/0, datetime→Python `isoformat()`
   *  (no fractional part when micros are zero), else string; NULL
   *  passes through (→ empty CSV field). `TIMESTAMP_NTZ` (lineitem's
   *  `l_shipdate`) renders like `TIMESTAMP`: left to the writer it
   *  would come out as `yyyy-MM-dd'T'HH:mm:ss.SSS`, micros cut to
   *  millis. It is formatted through the session zone, which graft's
   *  sessions pin to UTC, so the wall clock comes back unchanged. */
  def cleanboolProjection(df: DataFrame): DataFrame = {
    val projections = df.schema.fields.map { f =>
      val c = col(f.name)
      val cleaned: Column = f.dataType match {
        case BooleanType => c.cast(IntegerType)
        case TimestampType | TimestampNTZType =>
          when(c.isNull, lit(null))
            .otherwise(
              when(date_format(c, "SSSSSS") === "000000",
                   date_format(c, "yyyy-MM-dd'T'HH:mm:ss"))
                .otherwise(date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")))
        case _ => c
      }
      cleaned.as(f.name)
    }
    df.select(projections.toIndexedSeq: _*)
  }

  /**
   * CSV export (core.py:299-336). `singleFile=true` reproduces the
   * reference's one-file semantics (coalesce(1) + rename of the part
   * file); false keeps Spark's scalable directory-of-parts layout —
   * the 100 TB path.
   */
  def exportCsv(
      df: DataFrame,
      dst: String,
      delimiter: Option[String] = None,
      gzip: Boolean = false,
      unixLineSep: Boolean = false,
      singleFile: Boolean = true): String = {
    val useGzip = gzip || dst.endsWith(".gz")
    val finalDst = if (useGzip && !dst.endsWith(".gz")) dst + ".gz" else dst
    val d = delimiterFor(finalDst, delimiter)
    val cleaned = cleanboolProjection(df)
    // a one-column row holding NULL or "" would be an empty line, which
    // Spark's writer drops; the reference's csv.writer writes `""` for
    // it, so a lone column spells empty cells quoted (decided from the
    // schema: no data pass)
    val empty = if (cleaned.schema.length == 1) "\"\"" else ""
    // coalesce only on the single-file path — a no-op coalesce(n)
    // still forces RDD lineage conversion on the scalable path
    val writer0 = (if (singleFile) cleaned.coalesce(1) else cleaned)
      .write
      .option("header", "true")
      .option("delimiter", d)
      .option("emptyValue", empty)
      .option("nullValue", empty)
      // RFC-4180 doubled quotes, like the reference's csv.writer —
      // Spark's writer defaults to backslash-escaping, which our own
      // (and most) readers would misparse
      .option("escape", "\"")
      // the reference's csv.writer preserves whitespace; Spark's CSV
      // writer trims it by default
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("lineSep", if (unixLineSep) "\n" else "\r\n")
      .mode("overwrite")
    val writer = if (useGzip) writer0.option("compression", "gzip") else writer0
    if (!singleFile) { writer.csv(finalDst); finalDst }
    else {
      val tmp = finalDst + ".sparkdir"
      writer.csv(tmp)
      promoteSingleFile(tmp, finalDst)
      finalDst
    }
  }

  /** Move the single part file out of the Spark output dir to `dst`. */
  private def promoteSingleFile(dir: String, dst: String): Unit = {
    import java.nio.file._
    import scala.util.Using
    val d = Paths.get(dir)
    val part = Using.resource(Files.list(d)) {
      _.filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst().orElseThrow(() => new IllegalStateException(s"no part file in $dir"))
    }
    Files.move(part, Paths.get(dst), StandardCopyOption.REPLACE_EXISTING)
    Using.resource(Files.list(d))(_.forEach(Files.delete(_)))
    Files.delete(d)
  }
}
