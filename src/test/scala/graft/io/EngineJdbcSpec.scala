package graft.io

import java.nio.file.Files

import graft.SparkSuite
import graft.core.ServerRegistry
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end import/export through embedded Derby — the engine
  * equivalent of the reference's sqlite integration tests
  * (tests/diepy_tests.py), but with value assertions. */
class EngineJdbcSpec extends AnyFunSuite with SparkSuite {

  private lazy val dbDir = Files.createTempDirectory("graftderby").toString
  private lazy val url = s"jdbc:derby:$dbDir/db;create=true"
  private lazy val engine = new Engine(spark,
    ServerRegistry(Map("test" -> url)))
  private val fixture = getClass.getResource("/fixtures/basic.csv").getPath

  test("csv import creates table with inferred DDL and loads rows") {
    val n = engine.importFile(fixture, "test...basic")
    assert(n.contains(3L))
    assert(JdbcIO.tableExists(url, "basic"))
    val back = JdbcIO.readTable(spark, url, "basic")
    assert(back.count() == 3)
    // width-tiered DDL: string column is VARCHAR(50) in Derby
    val cn = java.sql.DriverManager.getConnection(url)
    try {
      // Spark quotes column identifiers on CREATE → lowercase names
      val rs = cn.getMetaData.getColumns(null, null, "BASIC", "string")
      assert(rs.next())
      assert(rs.getString("TYPE_NAME") == "VARCHAR" && rs.getInt("COLUMN_SIZE") == 50)
    } finally cn.close()
  }

  test("a float column lands as DOUBLE and comes back from Derby exact") {
    val csv = Files.createTempDirectory("graftfloat").resolve("prices.csv")
    Files.write(csv, "price\n75462.67\n0.1\n".getBytes("UTF-8"))
    assert(engine.importFile(csv.toString, "test...prices").contains(2L))
    val back = JdbcIO.readTable(spark, url, "prices").collect().map(_.getDouble(0)).toSet
    assert(back == Set(75462.67, 0.1))
    val cn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = cn.getMetaData.getColumns(null, null, "PRICES", "price")
      assert(rs.next() && rs.getString("TYPE_NAME") == "DOUBLE")
    } finally cn.close()
  }

  test("zip import routes through scratch extraction into Derby (S3)") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val p = Files.createTempDirectory("graftzipeng").resolve("zt.csv.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(p))
    try {
      zos.putNextEntry(new ZipEntry("zt.csv"))
      zos.write("a,b\n1,x\n2,y\n".getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
    val n = engine.importFile(p.toString, "test...ziptable")
    assert(n.contains(2L))
    assert(JdbcIO.readTable(spark, url, "ziptable").count() == 2)
  }

  test("append vs truncate load semantics (K3)") {
    engine.importFile(fixture, "test...basic")          // append → 6
    val afterAppend = JdbcIO.readTable(spark, url, "basic").count()
    assert(afterAppend == 6)
    engine.importFile(fixture, "test...basic", truncate = true)
    assert(JdbcIO.readTable(spark, url, "basic").count() == 3)
  }

  test("export to csv produces cleanbool-normalized single file") {
    import scala.jdk.CollectionConverters._
    val out = Files.createTempDirectory("graftexp").toString + "/basic_out.csv"
    engine.exportTable("test...basic", out, unix = true)
    // NB: the "return\n" value is a quoted MULTI-LINE field, so the
    // file has 5 physical lines for 4 CSV records
    val lines = Files.readAllLines(java.nio.file.Paths.get(out)).asScala
    assert(lines.head.toLowerCase.startsWith("string,"))
    assert(lines.exists(_.contains("2013-10-11T13:04:05")))
    val (reread, _) = CsvIO.importCsv(spark, out)
    assert(reread.count() == 3)
  }

  test("reference test matrix: export to .csv.gz, .tab, and .xlsx (diepy_tests.py:26-48)") {
    val work = Files.createTempDirectory("graftexp2")
    // .csv.gz
    engine.exportTable("test...basic", s"$work/basic.csv", unix = true, gzip = true)
    val (gz, _) = CsvIO.importCsv(spark, s"$work/basic.csv.gz")
    assert(gz.count() == 3)
    // .tab → TSV by extension
    engine.exportTable("test...basic", s"$work/basic.tab", unix = true)
    val firstLine = Files.readAllLines(java.nio.file.Paths.get(s"$work/basic.tab")).get(0)
    assert(firstLine.contains("\t") && !firstLine.contains(","))
    // .xlsx → sheet named after the table
    engine.exportTable("test...basic", s"$work/basic.xlsx")
    assert(XlsxIO.listSheets(s"$work/basic.xlsx") == Seq("basic"))
    val (xl, _) = XlsxIO.importSheet(spark, s"$work/basic.xlsx", "basic")
    assert(xl.count() == 3)
  }

  test("xlsx import via $SHEET selector into Derby") {
    val xlsx = getClass.getResource("/fixtures/excel.xlsx").getPath
    val n = engine.importFile(s"$xlsx$$basic2", "test...fromxlsx")
    assert(n.contains(3L))
    assert(JdbcIO.readTable(spark, url, "fromxlsx").count() == 3)
  }

  test("whole-workbook xlsx import: one table per sheet") {
    // no $SHEET and no table: every sheet lands in a table named after
    // it (core.py:165-173); an empty workbook's sheets have no data
    // and are swallowed one by one, so nothing is created
    val db = s"jdbc:derby:${Files.createTempDirectory("graftwb")}/db;create=true"
    val wb = new Engine(spark, ServerRegistry(Map("wb" -> db)))
    val xlsx = getClass.getResource("/fixtures/excel.xlsx").getPath
    assert(wb.importFile(xlsx, "wb").contains(12L))
    assert(JdbcIO.readTable(spark, db, "basic").count() == 9)
    assert(JdbcIO.readTable(spark, db, "basic2").count() == 3)
    val empty = getClass.getResource("/fixtures/empty.xlsx").getPath
    assert(wb.importFile(empty, "wb").contains(0L))
    assert(XlsxIO.listSheets(empty).forall(sheet => !JdbcIO.tableExists(db, sheet)))
  }

  test("4-part address qualifies the schema (srv.db.schema.table)") {
    // Derby's default schema is APP — create/read through it explicitly
    val n = engine.importFile(fixture, "test..app.qualified")
    assert(n.contains(3L))
    assert(JdbcIO.tableExists(url, "app.qualified"))
    assert(JdbcIO.readTable(spark, url, "app.qualified").count() == 3)
  }

  test("parquet and jsonl inputs route to native readers, not the CSV parser") {
    val work = Files.createTempDirectory("graftnative")
    val df = spark.range(5).selectExpr("id", "concat('n', id) AS name")
    df.coalesce(1).write.mode("overwrite").parquet(s"$work/p.parquet")
    assert(engine.importFile(s"$work/p.parquet", "test...fromparquet").contains(5L))
    assert(JdbcIO.readTable(spark, url, "fromparquet").count() == 5)
    df.coalesce(1).write.mode("overwrite").json(s"$work/j.json")
    assert(engine.importFile(s"$work/j.json", "test...fromjson").contains(5L))
    assert(JdbcIO.readTable(spark, url, "fromjson").count() == 5)
  }

  test("broken import is swallowed per-file (P4) and returns None") {
    assert(engine.importFile("/nonexistent/x.csv", "test...nope").isEmpty)
    assert(!JdbcIO.tableExists(url, "nope"))
  }

  test("a missing workbook fails the file, with or without $SHEET") {
    // per-sheet swallowing (core.py:168-169) is for workbooks that
    // opened; a missing one is a failed file, never a zero-row success
    val missing = s"${Files.createTempDirectory("graftnoxlsx")}/missing.xlsx"
    assert(engine.importFile(s"$missing$$basic2", "test...noxlsx").isEmpty)
    assert(engine.importFile(missing, "test...noxlsx").isEmpty)
    assert(!JdbcIO.tableExists(url, "noxlsx"))
  }
}
