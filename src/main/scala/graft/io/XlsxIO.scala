package graft.io

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileOutputStream, InputStream}
import java.nio.file.{Files, Paths}
import java.time.{Duration, LocalDate, LocalDateTime, LocalTime}
import java.time.format.DateTimeFormatter
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import graft.core.{ColumnDef, SchemaInfer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.collection.mutable

/**
 * Minimal OOXML (.xlsx) reader/writer on JDK zip + StAX — no POI in
 * this environment (SURVEY.md §7). Covers the slice the reference
 * exercises (diepy/core.py:153-186, 256-285, 338-358): shared and
 * inline strings, numeric cells, boolean cells, serial date/time
 * cells via styles, multi-sheet workbooks, `$SHEET` selection, and
 * replace-sheet-on-export semantics.
 *
 * Import fidelity mirrors the reference's Excel path: cells carry
 * native types (core.py:268-271); we canonicalize each cell to a
 * string and run the same inference lattice + cast pipeline as CSV,
 * which reproduces the reference's classification of
 * `internal_value`s.
 *
 * Scale: this driver-side reader handles the reference's
 * one-workbook use case; many-file corpora go through
 * `spark.read.format("binaryFile")` + per-partition invocations of
 * the same `parseSheet` (pure function over bytes).
 */
object XlsxIO {

  // ---------- data model ----------

  sealed trait Cell
  case object XNull extends Cell
  final case class XStr(v: String) extends Cell
  final case class XNum(v: Double) extends Cell
  final case class XBool(v: Boolean) extends Cell
  final case class XDateTime(v: LocalDateTime) extends Cell
  final case class XDate(v: LocalDate) extends Cell
  final case class XTime(v: LocalTime) extends Cell

  /** `path$Sheet` selector split (core.py:154-158, cli.py:125-127). */
  def splitSheetSelector(p: String): (String, Option[String]) =
    p.indexOf('$') match {
      case -1 => (p, None)
      case i  => (p.substring(0, i), Some(p.substring(i + 1)))
    }

  // ---------- reading ----------

  private val xif = XMLInputFactory.newInstance()
  xif.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, true)
  xif.setProperty(XMLInputFactory.SUPPORT_DTD, false)

  private def entryBytes(zf: ZipFile, name: String): Option[Array[Byte]] =
    Option(zf.getEntry(name)).map { e =>
      val in = zf.getInputStream(e)
      try in.readAllBytes() finally in.close()
    }

  /** All workbook parts from an in-memory zip — the executor-side
    * entry point for the binaryFile scale path (no filesystem). */
  def partsFromBytes(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new java.util.zip.ZipInputStream(new ByteArrayInputStream(bytes))
    val out = mutable.Map[String, Array[Byte]]()
    var e = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory) out += e.getName -> zin.readAllBytes()
      zin.closeEntry(); e = zin.getNextEntry
    }
    zin.close()
    out.toMap
  }

  /** The reference's isExcel regex also matches legacy .xls and
    * compressed workbooks; this engine reads OOXML zips only — fail
    * with a precise message instead of an opaque ZipException. */
  private def requireOoxml(path: String): Unit = {
    val in = new java.io.FileInputStream(path)
    val magic = try { val b = new Array[Byte](4); in.read(b); b } finally in.close()
    val isZip = magic(0) == 'P' && magic(1) == 'K'
    if (!isZip) throw new IllegalArgumentException(
      s"$path is not an OOXML (.xlsx) workbook — legacy .xls and " +
        "gzip/zip-compressed workbooks are not supported")
  }

  def listSheets(path: String): Seq[String] = {
    requireOoxml(path)
    val zf = new ZipFile(path)
    try sheetTargets(zf).map(_._1) finally zf.close()
  }

  /** (sheetName, zipEntryPath) in workbook order. */
  private def sheetTargets(zf: ZipFile): Seq[(String, String)] =
    sheetTargets(entryBytes(zf, _))

  private def sheetTargets(get: String => Option[Array[Byte]]): Seq[(String, String)] = {
    val rels = mutable.Map[String, String]()
    for (b <- get("xl/_rels/workbook.xml.rels")) {
      val r = xif.createXMLStreamReader(new ByteArrayInputStream(b))
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "Relationship")
          rels += attr(r, "Id").getOrElse("") -> attr(r, "Target").getOrElse("")
      }
      r.close()
    }
    val out = mutable.ArrayBuffer[(String, String)]()
    for (b <- get("xl/workbook.xml")) {
      val r = xif.createXMLStreamReader(new ByteArrayInputStream(b))
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
          val name = attr(r, "name").getOrElse("")
          val rid = attr(r, "id").getOrElse("")
          val target = rels.getOrElse(rid, "")
          val full = if (target.startsWith("/")) target.substring(1)
                     else if (target.startsWith("xl/")) target else s"xl/$target"
          out += name -> full
        }
      }
      r.close()
    }
    out.toSeq
  }

  private def attr(r: javax.xml.stream.XMLStreamReader, local: String): Option[String] =
    (0 until r.getAttributeCount)
      .find(i => r.getAttributeLocalName(i) == local)
      .map(r.getAttributeValue)

  private def sharedStrings(zf: ZipFile): IndexedSeq[String] =
    sharedStrings(entryBytes(zf, _))

  private def sharedStrings(get: String => Option[Array[Byte]]): IndexedSeq[String] = {
    val out = mutable.ArrayBuffer[String]()
    for (b <- get("xl/sharedStrings.xml")) {
      val r = xif.createXMLStreamReader(new ByteArrayInputStream(b))
      var cur: StringBuilder = null
      var inT = false
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "si" =>
          cur = new StringBuilder
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "t" => inT = true
        case XMLStreamConstants.CHARACTERS if inT && cur != null =>
          cur.append(r.getText)
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "t" => inT = false
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" =>
          out += cur.toString; cur = null
        case _ =>
      }
      r.close()
    }
    out.toIndexedSeq
  }

  /** style index → (isDate, isTime): derived from cellXfs numFmtIds +
   *  format codes (builtin 14-22/45-47 and custom codes). */
  private def styleKinds(zf: ZipFile): IndexedSeq[(Boolean, Boolean)] =
    styleKinds(entryBytes(zf, _))

  private def styleKinds(get: String => Option[Array[Byte]]): IndexedSeq[(Boolean, Boolean)] = {
    val customFmt = mutable.Map[Int, String]()
    val xfFmts = mutable.ArrayBuffer[Int]()
    for (b <- get("xl/styles.xml")) {
      val r = xif.createXMLStreamReader(new ByteArrayInputStream(b))
      var inCellXfs = false
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "numFmt" =>
            for (id <- attr(r, "numFmtId"); code <- attr(r, "formatCode"))
              customFmt += id.toInt -> code
          case "cellXfs" => inCellXfs = true
          case "xf" if inCellXfs =>
            xfFmts += attr(r, "numFmtId").map(_.toInt).getOrElse(0)
          case _ =>
        }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
          inCellXfs = false
        case _ =>
      }
      r.close()
    }
    def kinds(fmtId: Int): (Boolean, Boolean) = {
      val builtinDate = (fmtId >= 14 && fmtId <= 17) || fmtId == 22
      val builtinTime = (fmtId >= 18 && fmtId <= 21) || (fmtId >= 45 && fmtId <= 47)
      val code = customFmt.get(fmtId)
        // strip quoted literals, escapes AND bracketed sections before
        // scanning for date letters: color/locale/currency codes like
        // [Red] or [$USD-409] contain 'd' and would otherwise classify
        // an accounting format as a date (silent numeric corruption)
        .map(_.replaceAll("\"[^\"]*\"", "").replaceAll("\\\\.", "")
          .replaceAll("\\[[^\\]]*\\]", "").toLowerCase)
        .getOrElse("")
      val customDate = code.exists(c => c == 'y' || c == 'd')
      val customTime = code.contains('h') || code.contains("ss")
      (builtinDate || customDate, builtinTime || customTime)
    }
    xfFmts.map(kinds).toIndexedSeq
  }

  /** Excel serial epoch (1900 system). */
  private val serialEpoch = LocalDate.of(1899, 12, 30)

  private def fromSerial(serial: Double, isDate: Boolean, isTime: Boolean): Cell = {
    var days = math.floor(serial).toLong
    var millis = math.round((serial - days) * 86400000.0)
    // rounding can hit a full day (e.g. ...T23:59:59.9999): carry it,
    // otherwise LocalTime wraps to 00:00 a day early
    if (millis >= 86400000L) { days += 1; millis -= 86400000L }
    val time = LocalTime.MIDNIGHT.plus(Duration.ofMillis(millis))
    if (!isDate && serial < 1.0) XTime(time)
    else {
      val date = serialEpoch.plusDays(days)
      if (!isTime && millis == 0L) XDate(date)
      else XDateTime(LocalDateTime.of(date, time))
    }
  }

  /** "D2" → 0-based column index. */
  private def colIndex(ref: String): Int = {
    var i = 0; var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    acc - 1
  }

  /** Parse one worksheet into dense rows of Cells. */
  def readSheet(path: String, sheet: String): Seq[Seq[Cell]] = {
    requireOoxml(path)
    val zf = new ZipFile(path)
    try {
      val target = sheetTargets(zf).collectFirst { case (n, t) if n == sheet => t }
        .getOrElse(throw new IllegalArgumentException(s"no sheet '$sheet' in $path"))
      val bytes = entryBytes(zf, target)
        .getOrElse(throw new IllegalStateException(s"missing part $target"))
      parseSheet(bytes, sharedStrings(zf), styleKinds(zf))
    } finally zf.close()
  }

  /** Pure function over the sheet XML — reusable per-partition for the
    * binaryFile scale path. */
  def parseSheet(bytes: Array[Byte], shared: IndexedSeq[String],
      styles: IndexedSeq[(Boolean, Boolean)]): Seq[Seq[Cell]] = {
    val rows = mutable.ArrayBuffer[mutable.ArrayBuffer[(Int, Cell)]]()
    val r = xif.createXMLStreamReader(new ByteArrayInputStream(bytes))
    var cur: mutable.ArrayBuffer[(Int, Cell)] = null
    var cellRef = ""; var cellT = ""; var cellS = -1
    var nextCol = 0
    var text: StringBuilder = null
    var inV = false; var inIsT = false
    while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
        case "row" => cur = mutable.ArrayBuffer(); nextCol = 0
        case "c" =>
          cellRef = attr(r, "r").getOrElse("")
          cellT = attr(r, "t").getOrElse("n")
          cellS = attr(r, "s").map(_.toInt).getOrElse(-1)
          text = new StringBuilder
        case "v" => inV = true
        case "t" => inIsT = true
        case _ =>
      }
      case XMLStreamConstants.CHARACTERS if (inV || inIsT) && text != null =>
        text.append(r.getText)
      case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
        case "v" => inV = false
        case "t" => inIsT = false
        case "c" =>
          val raw = text.toString
          val cell: Cell =
            if (raw.isEmpty && cellT != "inlineStr") XNull
            else cellT match {
              case "s"               => XStr(shared(raw.trim.toInt))
              case "str" | "inlineStr" => XStr(raw)
              case "b"               => XBool(raw.trim == "1")
              case "e"               => XNull // formula error (#DIV/0! etc.)
              case _ => // numeric; maybe a serial date/time per style
                val (isD, isT) =
                  if (cellS >= 0 && cellS < styles.length) styles(cellS) else (false, false)
                raw.trim.toDoubleOption match {
                  case Some(d) if isD || isT => fromSerial(d, isD, isT)
                  case Some(d)               => XNum(d)
                  case None                  => XStr(raw) // malformed <v>: keep as text
                }
            }
          // writers may omit the cell ref (@r) — fall back to the next
          // sequential column (tracked even across XNull cells, which
          // are not appended to cur)
          val ci = if (cellRef.nonEmpty) colIndex(cellRef) else nextCol
          nextCol = ci + 1
          if (cur != null && cell != XNull) cur += ci -> cell
          text = null
        case "row" =>
          if (cur != null) rows += cur
          cur = null
        case _ =>
      }
      case _ =>
    }
    r.close()
    val width = if (rows.isEmpty) 0 else rows.map(r0 => r0.map(_._1).maxOption.getOrElse(-1) + 1).max
    rows.map { sparse =>
      val dense = mutable.ArrayBuffer.fill[Cell](width)(XNull)
      sparse.foreach { case (i, c) => if (i >= 0 && i < width) dense(i) = c }
      dense.toSeq
    }.toSeq
  }

  // canonical string rendering feeding the shared inference lattice
  private val dtFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private val dFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private val tFmt = DateTimeFormatter.ofPattern("HH:mm:ss")

  def render(c: Cell): String = c match {
    case XNull        => null
    case XStr(v)      => v
    case XBool(v)     => if (v) "1" else "0"
    case XNum(v)      => if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
    case XDateTime(v) => v.format(dtFmt)
    case XDate(v)     => v.format(dFmt)
    case XTime(v)     => v.format(tFmt)
  }

  /** Import one worksheet: header row 0, inference + typed cast —
    * same pipeline as CSV (core.py:171-186, 407-428). */
  def importSheet(spark: SparkSession, path: String, sheet: String): (DataFrame, Seq[ColumnDef]) = {
    val rows = readSheet(path, sheet)
    if (rows.isEmpty) throw new IllegalStateException(s"No data found in $sheet")
    val headers = ColumnDef.sanitizeHeaders(rows.head.map(c => Option(render(c)).getOrElse("")))
    val body = rows.tail.map(r => Row.fromSeq(r.map(render).padTo(headers.size, null).take(headers.size)))
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(body.toSeq, math.max(1, body.size / 10000 + 1)),
      StructType(headers.map(StructField(_, StringType, nullable = true))))
    val cols = SchemaInfer.inferSample(raw)
    (CsvIO.castTo(raw, cols), cols)
  }

  /** Parse the requested sheets of an in-memory workbook — pure over
    * bytes, so it runs on executors. */
  def sheetsFromBytes(bytes: Array[Byte], sheet: Option[String]): Seq[(String, Seq[Seq[Cell]])] = {
    val parts = partsFromBytes(bytes)
    val get = (n: String) => parts.get(n)
    val shared = sharedStrings(get)
    val styles = styleKinds(get)
    sheetTargets(get)
      .filter(t => sheet.forall(_ == t._1))
      .flatMap { case (name, target) =>
        parts.get(target).map(b => name -> parseSheet(b, shared, styles))
      }
  }

  /**
   * Many-file distributed import — the S4 scale path: schema is
   * inferred from ONE sample workbook on the driver (reference
   * semantics: 20k-row sample), then every matching file is parsed
   * on executors via the `binaryFile` source. Files must share the
   * sample's header layout.
   */
  def importManyDistributed(spark: SparkSession, glob: String,
      sheet: Option[String] = None): (DataFrame, Seq[ColumnDef]) = {
    import spark.implicits._
    val bin = spark.read.format("binaryFile").load(glob)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
    val sample = bin.limit(1).collect().headOption
      .getOrElse(throw new IllegalArgumentException(s"no files match $glob"))
    val sampleRows = sheetsFromBytes(sample._2, sheet).flatMap(_._2)
    if (sampleRows.isEmpty) throw new IllegalStateException(s"No data found in ${sample._1}")
    val headers = ColumnDef.sanitizeHeaders(
      sampleRows.head.map(c => Option(render(c)).getOrElse("")))
    val width = headers.size
    val stringRows = bin.flatMap { case (_, bytes) =>
      sheetsFromBytes(bytes, sheet).iterator
        .flatMap(_._2.drop(1)) // header row per sheet
        .map(r => r.map(render).padTo(width, null).take(width).toSeq)
    }
    val raw = spark.createDataFrame(
      stringRows.rdd.map(Row.fromSeq),
      SchemaInfer.rawSchema(headers))
    val cols = SchemaInfer.inferSample(raw)
    (CsvIO.castTo(raw, cols), cols)
  }

  // ---------- writing ----------

  private def esc(s: String): String =
    s.flatMap {
      case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
      case '"' => "&quot;"; case c => c.toString
    }

  private def toSerial(dt: LocalDateTime): Double =
    Duration.between(serialEpoch.atStartOfDay(), dt).toMillis / 86400000.0

  /** Write `df` as sheet `sheetName`; existing workbook keeps its
    * other sheets, a same-named sheet is replaced (core.py:338-358).
    *
    * Rows stream from the executors through `toLocalIterator()` into
    * the ZIP entry — driver memory stays O(row), not O(sheet). The
    * single-writer bottleneck is inherent to the format (one workbook
    * file); the bounded-memory stream is as scale-safe as xlsx gets. */
  def writeSheet(df: DataFrame, path: String, sheetName: String): Unit = {
    // one workbook open serves every preserved sheet: sharedStrings/
    // styles parse once instead of once per sheet (readSheet re-opens
    // the zip per call). The handle stays open through the streaming
    // write — safe, because the writer lands in a sibling temp file
    // and only moves over `path` at the end.
    val zfOpt =
      if (Files.exists(Paths.get(path))) { requireOoxml(path); Some(new ZipFile(path)) }
      else None
    try {
      val existing: Seq[(String, () => Iterator[Seq[Cell]])] = zfOpt.map { zf =>
        val shared = sharedStrings(zf)
        val styles = styleKinds(zf)
        sheetTargets(zf).filterNot(_._1 == sheetName).map { case (n, t) =>
          n -> (() => parseSheet(entryBytes(zf, t).getOrElse(
            throw new IllegalStateException(s"missing part $t")), shared, styles).iterator)
        }
      }.getOrElse(Seq.empty)
      writeSheetBody(df, path, sheetName, existing)
    } finally zfOpt.foreach(_.close())
  }

  private def writeSheetBody(df: DataFrame, path: String, sheetName: String,
      existing: Seq[(String, () => Iterator[Seq[Cell]])]): Unit = {
    val header: Seq[Cell] = df.schema.fieldNames.toSeq.map(XStr(_))
    def body: Iterator[Seq[Cell]] = {
      import scala.jdk.CollectionConverters._
      df.toLocalIterator().asScala.map { row =>
        row.toSeq.map {
          case null                     => XNull
          case s: String                => XStr(s)
          case b: Boolean               => XBool(b)
          case t: java.sql.Timestamp    => XDateTime(t.toLocalDateTime)
          case dte: java.sql.Date       => XDate(dte.toLocalDate)
          case n: Number                => XNum(n.doubleValue())
          case other                    => XStr(other.toString)
        }
      }
    }
    writeWorkbookStreaming(path,
      existing :+ (sheetName -> (() => Iterator.single(header) ++ body)))
  }

  def writeWorkbook(path: String, sheets: Seq[(String, Seq[Seq[Cell]])]): Unit =
    writeWorkbookStreaming(path,
      sheets.map { case (name, rows) => name -> (() => rows.iterator) })

  /** Sheet bodies are thunked iterators so a large DataFrame streams
    * row-at-a-time; the thunk defers the Spark job until the ZIP entry
    * is actually being written. */
  def writeWorkbookStreaming(path: String,
      sheets: Seq[(String, () => Iterator[Seq[Cell]])]): Unit = {
    // write to a sibling temp file and move into place: truncating the
    // destination directly would destroy the existing workbook if any
    // exception hits mid-write (replace-sheet reads it first!)
    val tmp = Paths.get(path + ".tmp")
    writeWorkbookTo(tmp.toString, sheets)
    Files.move(tmp, Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def writeWorkbookTo(path: String,
      sheets: Seq[(String, () => Iterator[Seq[Cell]])]): Unit = {
    val zos = new ZipOutputStream(new FileOutputStream(path))
    try writeWorkbookEntries(zos, sheets) finally zos.close()
  }

  private def writeWorkbookEntries(zos: ZipOutputStream,
      sheets: Seq[(String, () => Iterator[Seq[Cell]])]): Unit = {
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    val n = sheets.size
    put("[Content_Types].xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""" +
        (1 to n).map(i =>
          s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
        "</Types>")
    put("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        "</Relationships>")
    put("xl/workbook.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
        sheets.zipWithIndex.map { case ((name, _), i) =>
          s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>""" }.mkString +
        "</sheets></workbook>")
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        (1 to n).map(i =>
          s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString +
        s"""<Relationship Id="rId${n + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>""" +
        "</Relationships>")
    // style xf indices: 0 default, 1 datetime, 2 date, 3 time
    put("xl/styles.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<numFmts count="2">""" +
        """<numFmt numFmtId="164" formatCode="yyyy\-mm\-dd\ hh:mm:ss"/>""" +
        """<numFmt numFmtId="165" formatCode="yyyy\-mm\-dd"/>""" +
        "</numFmts>" +
        """<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>""" +
        """<fills count="1"><fill><patternFill patternType="none"/></fill></fills>""" +
        """<borders count="1"><border/></borders>""" +
        """<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>""" +
        """<cellXfs count="4">""" +
        """<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>""" +
        """<xf numFmtId="164" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>""" +
        """<xf numFmtId="165" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>""" +
        """<xf numFmtId="21" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>""" +
        "</cellXfs></styleSheet>")
    sheets.zipWithIndex.foreach { case ((_, rows), si) =>
      // stream the sheet row-at-a-time: one ZIP entry, one StringBuilder
      // reused per row — never the whole sheet in memory
      zos.putNextEntry(new ZipEntry(s"xl/worksheets/sheet${si + 1}.xml"))
      def write(s: String): Unit = zos.write(s.getBytes("UTF-8"))
      write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      val sb = new StringBuilder
      var ri = 0
      rows().foreach { cells =>
        sb.setLength(0)
        sb.append(s"""<row r="${ri + 1}">""")
        cells.zipWithIndex.foreach { case (cell, ci) =>
          val ref = s"${colLetters(ci)}${ri + 1}"
          cell match {
            case XNull => // omit
            case XStr(v) =>
              sb.append(s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(v)}</t></is></c>""")
            case XBool(v) =>
              sb.append(s"""<c r="$ref" t="b"><v>${if (v) 1 else 0}</v></c>""")
            case XNum(v) =>
              val s0 = if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
              sb.append(s"""<c r="$ref" t="n"><v>$s0</v></c>""")
            case XDateTime(v) =>
              sb.append(s"""<c r="$ref" t="n" s="1"><v>${toSerial(v)}</v></c>""")
            case XDate(v) =>
              sb.append(s"""<c r="$ref" t="n" s="2"><v>${toSerial(v.atStartOfDay).toLong}</v></c>""")
            case XTime(v) =>
              sb.append(s"""<c r="$ref" t="n" s="3"><v>${v.toNanoOfDay / 1e9 / 86400.0}</v></c>""")
          }
        }
        sb.append("</row>")
        write(sb.toString)
        ri += 1
      }
      write("</sheetData></worksheet>")
      zos.closeEntry()
    }
  }

  private def colLetters(idx: Int): String = {
    var i = idx + 1; val sb = new StringBuilder
    while (i > 0) { val rem = (i - 1) % 26; sb.insert(0, ('A' + rem).toChar); i = (i - 1) / 26 }
    sb.toString
  }
}
