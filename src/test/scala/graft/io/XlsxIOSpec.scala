package graft.io

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** OOXML reader against the workbook fixtures (excel.xlsx — two
  * sheets mirroring basic.csv; empty.xlsx — three empty sheets) plus
  * writer round-trip. The fixtures live under src/test/resources/fixtures/
  * and are written by [[XlsxFixtures]], a raw OOXML writer independent
  * of XlsxIO's own. */
class XlsxIOSpec extends AnyFunSuite with SparkSuite {

  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath
  private val refXlsx = fixture("excel.xlsx")
  private val refEmpty = fixture("empty.xlsx")

  test("committed workbook fixtures are exactly the raw OOXML writer's output") {
    assert(java.util.Arrays.equals(Files.readAllBytes(java.nio.file.Paths.get(refXlsx)),
      XlsxFixtures.excel))
    assert(java.util.Arrays.equals(Files.readAllBytes(java.nio.file.Paths.get(refEmpty)),
      XlsxFixtures.empty))
  }

  test("$SHEET selector split (core.py:154-158)") {
    assert(XlsxIO.splitSheetSelector("a.xlsx") == ("a.xlsx", None))
    assert(XlsxIO.splitSheetSelector("a.xlsx$Sheet1") == ("a.xlsx", Some("Sheet1")))
  }

  test("lists sheets in workbook order") {
    assert(XlsxIO.listSheets(refXlsx) == Seq("basic2", "basic"))
    assert(XlsxIO.listSheets(refEmpty).size == 3)
  }

  test("reference workbook imports with the basic.csv gauntlet schema") {
    // NB: the fixture's "basic" sheet has the 3 data rows repeated 3×
    // (9 rows); "basic2" carries the plain 3-row gauntlet
    val (df, cols) = XlsxIO.importSheet(spark, refXlsx, "basic2")
    val byName = cols.map(c => c.name -> c.settledType).toMap
    assert(byName == Map(
      "string" -> "text", "int" -> "int", "float" -> "float",
      "datetime" -> "datetime", "bool" -> "int", "time" -> "time",
      "date" -> "date"))
    val rows = df.orderBy("int").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[String]("string") == "hello")
    assert(rows(0).getAs[Double]("float") == 2.83)
    assert(rows(0).getAs[java.sql.Date]("date").toString == "2013-10-11")
    // serial → timestamp round-trip at second precision
    assert(rows(0).getAs[java.sql.Timestamp]("datetime").toString.startsWith("2013-10-11 13:04:05"))
    assert(rows(1).getAs[String]("string") == "tricky with the spaces and the, commas")
    assert(rows(2).getAs[String]("string").startsWith("return"))
    // empty cells null
    assert(rows(2).isNullAt(rows(2).fieldIndex("datetime")))
  }

  test("the repeated-rows sheet imports all 9 data rows") {
    val (df, _) = XlsxIO.importSheet(spark, refXlsx, "basic")
    assert(df.count() == 9)
  }

  test("error cells are null; omitted cell refs track across empty cells") {
    val ns = """xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main""""
    // row of cells WITHOUT r= refs: 1, <error>, 3 — the third value
    // must land in column C (index 2), not shift left into B
    val xml = (s"""<worksheet $ns><sheetData>""" +
      """<row><c t="n"><v>1</v></c><c t="e"><v>#DIV/0!</v></c><c t="n"><v>3</v></c></row>""" +
      """</sheetData></worksheet>""").getBytes("UTF-8")
    val rows = XlsxIO.parseSheet(xml, IndexedSeq.empty, IndexedSeq.empty)
    assert(rows == Seq(Seq(XlsxIO.XNum(1.0), XlsxIO.XNull, XlsxIO.XNum(3.0))))
  }

  test("legacy .xls content is rejected with a precise message") {
    val f = Files.createTempFile("graftole", ".xls")
    Files.write(f, Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11, 0xE0.toByte, 0, 0, 0, 0))
    val e = intercept[IllegalArgumentException](XlsxIO.listSheets(f.toString))
    assert(e.getMessage.contains("not an OOXML"))
  }

  test("serial rounding at the day boundary carries into the next day") {
    val xml = ("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      """<sheetData><row r="1"><c r="A1" t="n" s="0"><v>45291.99999999999</v></c></row>""" +
      """</sheetData></worksheet>""").getBytes("UTF-8")
    val rows = XlsxIO.parseSheet(xml, IndexedSeq.empty, IndexedSeq((true, true)))
    // 45292 = 2024-01-01 in the 1900 serial system; without the carry
    // this wrapped to 2023-12-31T00:00
    assert(rows == Seq(Seq(XlsxIO.XDateTime(java.time.LocalDateTime.of(2024, 1, 1, 0, 0)))))
  }

  test("streamed writer handles a 50k-row sheet without materializing it") {
    // the write path streams toLocalIterator → ZIP; this would OOM a
    // collect()-shaped writer long before 50k at scale factors, and
    // pins the row-count + value fidelity of the streaming rewrite
    val out = Files.createTempDirectory("graftxlsxbig").toString + "/big.xlsx"
    // NB: id stays out of the numeric columns — re-import runs the
    // reference's SAMPLED inference (20k cap), which would tier
    // 0..49999 as SMALLINT from the sampled prefix and null the tail;
    // that's documented I1 semantics, not a writer property
    // +0.5 keeps every ratio non-integral: an integral first value
    // would render "0" and trip the reference's int-then-float→text
    // demotion quirk on re-import
    val df = spark.range(50000).selectExpr("concat('row_', id) AS name",
      "(cast(id % 100 AS double) + 0.5) / 7 AS ratio")
    XlsxIO.writeSheet(df, out, "big")
    val (back, _) = XlsxIO.importSheet(spark, out, "big")
    assert(back.count() == 50000)
    val hit = back.filter(org.apache.spark.sql.functions.col("name") === "row_49999").collect()
    assert(hit.length == 1)
    assert(math.abs(hit(0).getAs[Double]("ratio") - (49999 % 100 + 0.5) / 7.0) < 1e-6)
  }

  test("writer round-trip preserves values and replace-sheet keeps other sheets") {
    val (df, _) = XlsxIO.importSheet(spark, refXlsx, "basic2")
    val out = Files.createTempDirectory("graftxlsx").toString + "/rt.xlsx"
    XlsxIO.writeSheet(df, out, "t1")
    // second sheet added to the same workbook
    val (df2, _) = XlsxIO.importSheet(spark, refXlsx, "basic2")
    XlsxIO.writeSheet(df2.limit(3), out, "t2")
    assert(XlsxIO.listSheets(out).toSet == Set("t1", "t2"))
    // replace t1 with a narrowed frame: t2 must survive
    XlsxIO.writeSheet(df.select("string", "int"), out, "t1")
    assert(XlsxIO.listSheets(out).toSet == Set("t1", "t2"))

    val (back, cols) = XlsxIO.importSheet(spark, out, "t2")
    assert(back.count() == 3)
    val schema = back.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(schema("int") == ShortType && schema("float") == DoubleType)
    assert(schema("datetime") == TimestampType && schema("date") == DateType)
    val r = back.orderBy("int").collect()(0)
    assert(r.getAs[String]("string") == "hello")
    assert(r.getAs[Double]("float") == 2.83)
    assert(r.getAs[java.sql.Timestamp]("datetime").toString.startsWith("2013-10-11 13:04:05"))
  }
}
