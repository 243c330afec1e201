package graft.io

import graft.core.{DbPath, ServerRegistry}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The reference's user-facing surface (diepy/core.py:53-84, 115-151;
 * tests/diepy_tests.py:11-48): import files into a database table,
 * export tables back out — re-expressed over Spark sources/sinks.
 *
 * `importFile` routes by extension (CSV/TSV/TXT with optional
 * gz — Excel with optional `$SHEET`), infers the schema when the
 * table doesn't exist, and appends (or truncates first). Returns the
 * imported row count like the reference's CSV path. Per-file errors,
 * a missing file or workbook among them, are logged and swallowed into
 * `None` (P4, core.py:148-151).
 */
final class Engine(spark: SparkSession, registry: ServerRegistry) {

  def urlFor(dbPath: DbPath): String =
    registry.connectionString(
      dbPath.server.getOrElse(throw new IllegalArgumentException("no server in path")),
      dbPath.database)

  /** diepy import FILE SERVER[.DATABASE[.SCHEMA[.TABLE]]] */
  def importFile(path: String, dst: String, delimiter: Option[String] = None,
      truncate: Boolean = false): Option[Long] =
    try {
      val addr = DbPath.parse(dst)
      val url = urlFor(addr)
      // SCHEMA address segment qualifies the target table (reference
      // passes schema through to create_table/Table, core.py:136-140)
      def qualified(table: String): String = addr.qualified(table)
      if (CsvIO.isExcel(path)) {
        val (file, sheetSel) = XlsxIO.splitSheetSelector(path)
        // the per-sheet swallowing below (core.py:168-169) is for
        // workbooks that opened; a missing workbook fails the file,
        // $SHEET selector or not
        if (!new java.io.File(file).isFile)
          throw new java.io.FileNotFoundException(s"no such workbook: $file")
        val sheets = sheetSel.map(Seq(_)).getOrElse(XlsxIO.listSheets(file))
        var total = 0L
        var first = true
        sheets.foreach { sheet =>
          try {
            val (df, cols) = XlsxIO.importSheet(spark, file, sheet)
            val table = addr.table.getOrElse(sheet)
            // when all sheets target ONE named table, truncate only
            // before the first sheet — re-truncating per sheet would
            // leave only the last sheet's rows while the summed count
            // claims all of them
            val trunc = truncate && (first || addr.table.isEmpty)
            total += JdbcIO.writeTableCounted(df, url, qualified(table), Some(cols), trunc)
            first = false
          } catch { case e: Exception =>
            System.err.println(s"[engine] trouble importing worksheet $sheet: ${e.getMessage}")
          }
        }
        Some(total)
      } else {
        // columnar/JSONL inputs route to their native readers — the
        // reference fed EVERYTHING non-Excel to the CSV parser, which
        // would shred a parquet file into garbage rows
        val base = path.stripSuffix(".gz")
        // derive the table from the name MINUS the compression suffix:
        // data.csv.gz must become "data", not the schema-qualified-
        // looking "data.csv" (which JdbcIO would split on the dot)
        val table = addr.table.getOrElse(
          new java.io.File(base).getName.replaceAll("\\.[^.]*$", ""))
        // Spark's readers treat paths as Hadoop globs: a LITERAL
        // filename like lit[1].csv would silently match nothing —
        // escape the metacharacters when the exact file exists.
        // (The multiLine whole-file CSV reader double-unescapes and
        // can't open such paths at all on 4.1.2, so escaped reads run
        // splittable; embedded quoted newlines inside a bracket-named
        // file are the one unsupported corner.)
        val mustEscape =
          new java.io.File(path).isFile && path.exists("*?[]{}".contains(_))
        // .zip opens through java.util.zip (a LOCAL file API) — the
        // Hadoop-glob escaping below would make ZipFile miss the file;
        // CsvIO escapes the extracted scratch path itself
        val readPath =
          if (mustEscape && !path.endsWith(".zip"))
            path.replaceAll("([\\[\\]{}*?])", "\\\\$1")
          else path
        if (base.endsWith(".parquet") || base.endsWith(".orc")) {
          val df = if (base.endsWith(".orc")) spark.read.orc(readPath)
                   else spark.read.parquet(readPath)
          Some(JdbcIO.writeTableCounted(df, url, qualified(table), None, truncate))
        } else if (base.endsWith(".json") || base.endsWith(".jsonl")) {
          val df = spark.read.json(readPath)
          Some(JdbcIO.writeTableCounted(df, url, qualified(table), None, truncate))
        } else {
          val (df, cols) = CsvIO.importCsv(spark, readPath, delimiter,
            multiLine = !mustEscape)
          Some(JdbcIO.writeTableCounted(df, url, qualified(table), Some(cols), truncate))
        }
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[engine] had some trouble storing $path: ${e.getMessage}")
        None
    }

  /** diepy export SERVER.DB.SCHEMA.TABLE dst.{csv,tsv,csv.gz,xlsx} */
  def exportTable(src: String, dst: String, unix: Boolean = false,
      gzip: Boolean = false): Unit = {
    val addr = DbPath.parse(src)
    val table = addr.table.getOrElse(throw new IllegalArgumentException("no table in path"))
    val df: DataFrame = JdbcIO.readTable(spark, urlFor(addr), addr.qualified(table))
    if (CsvIO.isExcel(dst)) XlsxIO.writeSheet(df, dst, table)
    else CsvIO.exportCsv(df, dst, gzip = gzip, unixLineSep = unix)
  }

  /** Directory import: every *.csv becomes its own table
    * (core.py:71-79). A directory plus an explicit TABLE segment is
    * an error — the reference guards the same way (cli.py:129-130);
    * funneling every file into one table would silently merge data. */
  def importDir(dir: String, dst: String, delimiter: Option[String] = None,
      truncate: Boolean = false): Seq[(String, Option[Long])] = {
    if (DbPath.parse(dst).table.isDefined)
      throw new IllegalArgumentException(
        "cannot import a directory into an explicit table (cli.py:129-130)")
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".csv")).sortBy(_.getName)
    files.toSeq.map(f => f.getName -> importFile(f.getPath, dst, delimiter, truncate))
  }

  /** Glob import, table per matching .csv file (cli.py:139-144: the
    * reference globs the pattern, skips non-csv matches, and loops
    * single-file imports — truncate included). Only reached when the
    * pattern is not an existing file/dir, mirroring the reference's
    * isfile/isdir-first dispatch. Wildcards must sit in the filename
    * component — a wildcard in a directory component errors loudly
    * (documented divergence: the reference's glob.glob would walk it,
    * but a silent empty import would be worse than the restriction).
    * Per-file failures are swallowed and show as None (P4). */
  def importGlob(pattern: String, dst: String, delimiter: Option[String] = None,
      truncate: Boolean = false): Seq[(String, Option[Long])] = {
    if (DbPath.parse(dst).table.isDefined)
      throw new IllegalArgumentException(
        "cannot import a glob into an explicit table (cli.py:129-130)")
    val slash = pattern.lastIndexOf('/')
    val (dirPart, filePat) =
      if (slash >= 0) (pattern.substring(0, slash), pattern.substring(slash + 1))
      else (".", pattern)
    if (dirPart.exists("*?[{}".contains(_)))
      throw new IllegalArgumentException(
        s"glob wildcards are only supported in the filename component: '$pattern'")
    val dir = java.nio.file.Paths.get(dirPart)
    if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val matched =
        try {
          val stream = java.nio.file.Files.newDirectoryStream(dir, filePat)
          try stream.asScala.filter(java.nio.file.Files.isRegularFile(_))
            .toSeq.sortBy(_.getFileName.toString)
          finally stream.close()
        } catch { case e: java.util.regex.PatternSyntaxException =>
          throw new IllegalArgumentException(s"bad glob pattern '$pattern': ${e.getMessage}")
        }
      // reference-exact filter (cli.py:141): only .csv matches import;
      // .tsv/.csv.gz globs are skipped by the reference too
      matched.filter(_.getFileName.toString.endsWith(".csv"))
        .map(p => p.getFileName.toString -> importFile(p.toString, dst, delimiter, truncate))
    }
  }
}
