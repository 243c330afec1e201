package graft.io

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.time.{Duration, LocalDate, LocalDateTime, LocalTime}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Writes the two workbook fixtures under src/test/resources/fixtures/
  * as raw OOXML, independently of `XlsxIO`'s own writer, so the reader
  * specs never check the writer against itself:
  *  - `excel.xlsx`: sheet `basic2` holds the basic.csv gauntlet as
  *    natively typed cells (shared strings, numbers, and dates, times
  *    and datetimes as styled serials); sheet `basic` holds the same
  *    three rows repeated three times (9 data rows).
  *  - `empty.xlsx`: three sheets with no cells.
  * The output is byte-stable (fixed entry order and timestamps), and
  * XlsxIOSpec checks the committed files against it.
  *
  * Regenerate: `sbt "Test/runMain graft.io.XlsxFixtures src/test/resources/fixtures"` */
object XlsxFixtures {

  private sealed trait Cell
  private final case class Str(v: String) extends Cell
  private final case class Num(v: Double) extends Cell
  private final case class DateTime(v: LocalDateTime) extends Cell
  private final case class Day(v: LocalDate) extends Cell
  private final case class Clock(v: LocalTime) extends Cell
  private case object Empty extends Cell

  private val header = Seq("string", "int", "float", "datetime", "bool", "time", "date")
  private val gauntlet: Seq[Seq[Cell]] = Seq(
    Seq(Str("hello"), Num(1), Num(2.83), DateTime(LocalDateTime.of(2013, 10, 11, 13, 4, 5)),
      Num(0), Clock(LocalTime.of(12, 1, 2)), Day(LocalDate.of(2013, 10, 11))),
    Seq(Str("tricky with the spaces and the, commas"), Num(2), Num(4.2435),
      DateTime(LocalDateTime.of(2000, 12, 12, 14, 23, 45, 132500000)), Num(1), Empty,
      Day(LocalDate.of(2013, 12, 5))),
    Seq(Str("return\n"), Num(3), Num(135.134), Empty, Empty, Empty, Empty))

  // cellXfs indexes: 0 general, 1 datetime, 2 date (builtin 14),
  // 3 time (builtin 21, h:mm:ss)
  private val styles =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      """<numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy\-mm\-dd\ hh:mm:ss"/></numFmts>""" +
      """<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>""" +
      """<fills count="1"><fill><patternFill patternType="none"/></fill></fills>""" +
      """<borders count="1"><border/></borders>""" +
      """<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>""" +
      """<cellXfs count="4">""" +
      """<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>""" +
      """<xf numFmtId="164" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>""" +
      """<xf numFmtId="14" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>""" +
      """<xf numFmtId="21" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>""" +
      """</cellXfs></styleSheet>"""

  private val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val relNs = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
  private val xmlDecl = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Days since the 1900-system epoch plus the fraction of the day. */
  private def serial(d: LocalDate, t: LocalTime): Double =
    java.time.temporal.ChronoUnit.DAYS.between(LocalDate.of(1899, 12, 30), d) +
      Duration.between(LocalTime.MIDNIGHT, t).toNanos / 86400e9

  private def colName(i: Int): String = ('A' + i).toChar.toString

  /** One workbook: (sheet name, rows incl. header) in order. */
  private def workbook(sheets: Seq[(String, Seq[Seq[Cell]])]): Array[Byte] = {
    val strings = sheets.flatMap(_._2).flatten.collect { case Str(v) => v }.distinct
    val sid = strings.zipWithIndex.toMap
    def cellXml(ref: String, c: Cell): String = c match {
      case Str(v)      => s"""<c r="$ref" t="s"><v>${sid(v)}</v></c>"""
      case Num(v)      => s"""<c r="$ref"><v>$v</v></c>"""
      case DateTime(v) => s"""<c r="$ref" s="1"><v>${serial(v.toLocalDate, v.toLocalTime)}</v></c>"""
      case Day(v)      => s"""<c r="$ref" s="2"><v>${serial(v, LocalTime.MIDNIGHT)}</v></c>"""
      case Clock(v)    => s"""<c r="$ref" s="3"><v>${serial(LocalDate.of(1899, 12, 30), v)}</v></c>"""
      case Empty       => ""
    }
    def sheetXml(rows: Seq[Seq[Cell]]): String = {
      val body = rows.zipWithIndex.map { case (row, r) =>
        s"""<row r="${r + 1}">""" + row.zipWithIndex.map { case (c, i) =>
          cellXml(s"${colName(i)}${r + 1}", c) }.mkString + "</row>"
      }.mkString
      s"""$xmlDecl<worksheet xmlns="$ns"><sheetData>$body</sheetData></worksheet>"""
    }
    val n = sheets.size
    val parts = Seq(
      "[Content_Types].xml" -> (xmlDecl +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        (1 to n).map(i => s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
        """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""" +
        """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" +
        "</Types>"),
      "_rels/.rels" -> (xmlDecl +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="$relNs/officeDocument" Target="xl/workbook.xml"/>""" +
        "</Relationships>"),
      "xl/workbook.xml" -> (xmlDecl +
        s"""<workbook xmlns="$ns" xmlns:r="$relNs"><sheets>""" +
        sheets.zipWithIndex.map { case ((name, _), i) =>
          s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>""" }.mkString +
        "</sheets></workbook>"),
      "xl/_rels/workbook.xml.rels" -> (xmlDecl +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        (1 to n).map(i => s"""<Relationship Id="rId$i" Type="$relNs/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString +
        s"""<Relationship Id="rId${n + 1}" Type="$relNs/styles" Target="styles.xml"/>""" +
        s"""<Relationship Id="rId${n + 2}" Type="$relNs/sharedStrings" Target="sharedStrings.xml"/>""" +
        "</Relationships>"),
      "xl/styles.xml" -> styles,
      "xl/sharedStrings.xml" -> (xmlDecl +
        s"""<sst xmlns="$ns" count="${strings.size}" uniqueCount="${strings.size}">""" +
        strings.map(v => s"""<si><t xml:space="preserve">${esc(v)}</t></si>""").mkString +
        "</sst>")
    ) ++ sheets.zipWithIndex.map { case ((_, rows), i) =>
      s"xl/worksheets/sheet${i + 1}.xml" -> sheetXml(rows) }
    val bytes = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bytes)
    for ((name, content) <- parts) {
      val e = new ZipEntry(name)
      e.setTimeLocal(LocalDateTime.of(2020, 1, 1, 0, 0)) // time-zone independent
      zos.putNextEntry(e)
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    bytes.toByteArray
  }

  private val headerRow: Seq[Cell] = header.map(Str(_))

  /** `excel.xlsx`: sheets `basic2` (the 3-row gauntlet) and `basic`
    * (the same rows repeated 3×). */
  def excel: Array[Byte] = workbook(Seq(
    "basic2" -> (headerRow +: gauntlet),
    "basic" -> (headerRow +: (gauntlet ++ gauntlet ++ gauntlet))))

  /** `empty.xlsx`: three sheets, no cells. */
  def empty: Array[Byte] = workbook((1 to 3).map(i => s"Sheet$i" -> Seq.empty))

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args.headOption.getOrElse("src/test/resources/fixtures"))
    Files.createDirectories(dir)
    Files.write(dir.resolve("excel.xlsx"), excel)
    Files.write(dir.resolve("empty.xlsx"), empty)
  }
}
