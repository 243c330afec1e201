package graft.io

import java.nio.file.{Files, Paths}

import graft.SparkSuite
import graft.core.SchemaInfer
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end CSV semantics against the ported reference fixture
  * (tests/basic.csv — byte-identical, see FIXTURES.md §1.1/§2). */
class CsvIOSpec extends AnyFunSuite with SparkSuite {

  private val fixture = getClass.getResource("/fixtures/basic.csv").getPath

  test("file-type dispatch regexes (core.py:18-25)") {
    assert(CsvIO.isExcel("a.xlsx") && CsvIO.isExcel("a.xls$Sheet1"))
    assert(!CsvIO.isExcel("a.csv"))
  }

  test("delimiter by extension (core.py:314-317)") {
    assert(CsvIO.delimiterFor("x.csv") == ",")
    assert(CsvIO.delimiterFor("x.tab") == "\t")
    assert(CsvIO.delimiterFor("x.tsv.gz") == "\t")
    assert(CsvIO.delimiterFor("x.tab", Some("|")) == "|")
  }

  test("import infers the basic.csv gauntlet schema") {
    val (typed, cols) = CsvIO.importCsv(spark, fixture)
    val byName = cols.map(c => c.name -> c).toMap
    assert(byName("string").settledType == "text")
    assert(byName("int").settledType == "int")
    assert(byName("float").settledType == "float")
    assert(byName("datetime").settledType == "datetime")
    assert(byName("bool").settledType == "int" && byName("bool").ddlType == "SMALLINT")
    assert(byName("time").settledType == "time")
    assert(byName("date").settledType == "date")

    val schema = typed.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(schema("int") == ShortType)
    assert(schema("float") == DoubleType)
    assert(schema("datetime") == TimestampType)
    assert(schema("date") == DateType)

    val rows = typed.orderBy("int").collect()
    assert(rows.length == 3)
    val r0 = rows(0)
    assert(r0.getAs[String]("string") == "hello")
    assert(r0.getAs[Short]("int") == 1)
    assert(r0.getAs[Double]("float") == 2.83)
    assert(r0.getAs[java.sql.Timestamp]("datetime").toString == "2013-10-11 13:04:05.0")
    assert(r0.getAs[java.sql.Date]("date").toString == "2013-10-11")
    // embedded quoted newline survives (multiLine)
    assert(rows(2).getAs[String]("string") == "return\n")
    // empty cells are NULL, not empty string (cast_data, core.py:376-377)
    assert(rows(2).isNullAt(rows(2).fieldIndex("datetime")))
  }

  test("export applies _cleanbool projection + header; empty table writes header only") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("ts", TimestampType),
      StructField("s", StringType)))
    val df = spark.createDataFrame(Seq(
      Row(true, java.sql.Timestamp.valueOf("2013-10-11 13:04:05"), "x"),
      Row(false, java.sql.Timestamp.valueOf("2000-12-12 14:23:45.1325"), null),
      Row(null, null, "z")).asJava, schema)
    val out = Files.createTempDirectory("graftcsv").toString + "/out.csv"
    CsvIO.exportCsv(df, out, unixLineSep = true)
    val lines = Files.readAllLines(Paths.get(out)).asScala
    assert(lines.head == "b,ts,s")
    val body = lines.tail.toSet
    assert(body.contains("1,2013-10-11T13:04:05,x"))
    assert(body.contains("0,2000-12-12T14:23:45.132500,"))
    assert(body.contains(",,z"))

    // header-only file for empty input (core.py:325-327 reproduce)
    val empty = df.limit(0)
    val out2 = Files.createTempDirectory("graftcsv").toString + "/empty.csv"
    CsvIO.exportCsv(empty, out2, unixLineSep = true)
    val lines2 = Files.readAllLines(Paths.get(out2)).asScala
    assert(lines2.toSeq == Seq("b,ts,s"))
  }

  test("export renders TIMESTAMP_NTZ like TIMESTAMP: isoformat(), micros kept") {
    import java.time.LocalDateTime
    import spark.implicits._
    val df = Seq(LocalDateTime.of(2000, 8, 27, 0, 0),
      LocalDateTime.of(2000, 8, 27, 12, 34, 56, 123456000)).toDF("t")
    assert(df.schema("t").dataType == TimestampNTZType)
    val out = Files.createTempDirectory("graftcsv").toString + "/ntz.csv"
    CsvIO.exportCsv(df, out, unixLineSep = true)
    import scala.jdk.CollectionConverters._
    assert(Files.readAllLines(Paths.get(out)).asScala.toSeq ==
      Seq("t", "2000-08-27T00:00:00", "2000-08-27T12:34:56.123456"))
  }

  test("export keeps every row of a one-column frame: NULL and empty cells write \"\"") {
    import spark.implicits._
    val df = Seq(Some("a"), None, Some(""), Some("b")).toDF("x")
    val out = Files.createTempDirectory("graftcsv").toString + "/lone.csv"
    CsvIO.exportCsv(df, out, unixLineSep = true)
    import scala.jdk.CollectionConverters._
    val lines = Files.readAllLines(Paths.get(out)).asScala.toSeq
    // csv.writer's output for the same rows
    assert(lines == Seq("x", "a", "\"\"", "\"\"", "b"))
    assert(lines.length == 1 + 4)
    // two columns keep the unquoted empty field
    val two = Seq((Some("a"), 1), (None, 2), (Some(""), 3)).toDF("x", "n")
    val out2 = Files.createTempDirectory("graftcsv").toString + "/two.csv"
    CsvIO.exportCsv(two, out2, unixLineSep = true)
    assert(Files.readAllLines(Paths.get(out2)).asScala.toSeq ==
      Seq("x,n", "a,1", ",2", ",3"))
  }

  test("gzip export round-trips through compressed import (fixes reference S3 bug)") {
    val (typed, _) = CsvIO.importCsv(spark, fixture)
    val dir = Files.createTempDirectory("graftgz").toString
    val out = CsvIO.exportCsv(typed, s"$dir/rt.csv", gzip = true, unixLineSep = true)
    assert(out.endsWith(".gz"))
    val (back, _) = CsvIO.importCsv(spark, out)
    assert(back.count() == 3)
    assert(back.schema.fields.map(_.name).toSeq == typed.schema.fields.map(_.name).toSeq)
  }

  test("non-ISO temporal formats that infer as date/datetime also cast (ANSI-safe)") {
    val dir = Files.createTempDirectory("graftfmt")
    val f = dir.resolve("us.csv")
    Files.writeString(f,
      "when,stamp,id\n01/02/2024,01/02/2024 13:30,x\n11/30/2023,11/30/2023 07:05,y\n")
    val (typed, cols) = CsvIO.importCsv(spark, f.toString)
    val byName = cols.map(c => c.name -> c.settledType).toMap
    assert(byName("when") == "date" && byName("stamp") == "datetime")
    val rows = typed.orderBy("id").collect()
    assert(rows(0).getAs[java.sql.Date]("when").toString == "2024-01-02")
    assert(rows(0).getAs[java.sql.Timestamp]("stamp").toString.startsWith("2024-01-02 13:30"))
    assert(!rows.exists(_.isNullAt(0)), "date cast produced NULLs")
  }

  test("malformed stragglers the sample missed become NULL, not a job abort") {
    val dir = Files.createTempDirectory("graftbad")
    val f = dir.resolve("bad.csv")
    // 21k rows: sample (20k) sees only ints; row 21000 is garbage
    val sb = new StringBuilder("n\n")
    (1 to 20999).foreach(i => sb.append(i % 1000).append('\n'))
    sb.append("not-a-number\n")
    Files.writeString(f, sb.toString)
    val (typed, cols) = CsvIO.importCsv(spark, f.toString)
    assert(cols.head.settledType == "int")
    assert(typed.count() == 21000)
    assert(typed.filter(col("n").isNull).count() == 1) // try_cast, no crash
  }

  test("duplicate headers import with suffixed names") {
    val dir = Files.createTempDirectory("graftdup")
    val f = dir.resolve("dup.csv")
    Files.writeString(f, "id,id,val\n1,2,x\n3,4,y\n")
    val (typed, cols) = CsvIO.importCsv(spark, f.toString)
    // Spark's CSV reader renames duplicates (id0/id1) before our
    // sanitation; the contract is distinct names + no data loss
    assert(cols.map(_.name).distinct.size == 3)
    val r = typed.orderBy(typed.columns.head).collect()(0)
    assert(r.getAs[Number](0).intValue() == 1 && r.getAs[Number](1).intValue() == 2)
  }

  /** One test zip under `dir`, one entry per (name, content) pair. */
  private def writeZip(dir: java.nio.file.Path, name: String,
      entries: (String, String)*): String = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val p = dir.resolve(name)
    val zos = new ZipOutputStream(Files.newOutputStream(p))
    try entries.foreach { case (en, content) =>
      zos.putNextEntry(new ZipEntry(en))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
    p.toString
  }

  test("single-entry .zip imports through scratch extraction; multi-entry rejects") {
    val dir = Files.createTempDirectory("graftzip")
    def writeZip(name: String, entries: (String, String)*): String =
      this.writeZip(dir, name, entries: _*)
    // tsv-in-zip: delimiter dispatch must follow the OUTER name
    val single = writeZip("pts.tsv.zip", "inner.tsv" -> "id\tname\n1\talpha\n2\tbeta\n")
    val (typed, cols) = CsvIO.importCsv(spark, single)
    assert(cols.map(_.name) == Seq("id", "name"))
    assert(typed.orderBy(col("id")).collect().map(_.getString(1)).toSeq ==
      Seq("alpha", "beta"))
    // the reference's one-file-one-table model: multi-entry is an error
    val multi = writeZip("two.csv.zip", "a.csv" -> "x\n1\n", "b.csv" -> "y\n2\n")
    val err = intercept[IllegalArgumentException](CsvIO.importCsv(spark, multi))
    assert(err.getMessage.contains("multi-entry"))
    val empty = writeZip("none.csv.zip")
    intercept[IllegalArgumentException](CsvIO.importCsv(spark, empty))
  }

  test("zip extraction rejects traversal entry names and over-cap payloads") {
    val dir = Files.createTempDirectory("graftzipevil")
    def writeZip(name: String, entries: (String, String)*): String =
      this.writeZip(dir, name, entries: _*)
    // zip-slip: the extraction never uses the entry name for the output
    // path, but a traversal-shaped name must still fail loudly
    val slip = writeZip("slip.csv.zip", "../../etc/evil.csv" -> "x\n1\n")
    val e1 = intercept[IllegalArgumentException](CsvIO.importCsv(spark, slip))
    assert(e1.getMessage.contains("escapes the archive"))
    val abs = writeZip("abs.csv.zip", "/tmp/evil.csv" -> "x\n1\n")
    // note: ZipEntry stores the name verbatim; absolute forms are rejected
    val e2 = intercept[IllegalArgumentException](CsvIO.importCsv(spark, abs))
    assert(e2.getMessage.contains("escapes the archive"))
    // zip bomb: a payload past the decompressed-size cap aborts mid-copy
    val bomb = writeZip("bomb.csv.zip", "inner.csv" -> ("x\n" + "1234567890\n" * 40000))
    val prev = sys.props.get("graft.zip.maxBytes")
    sys.props("graft.zip.maxBytes") = "1024"
    try {
      val e3 = intercept[IllegalArgumentException](CsvIO.importCsv(spark, bomb))
      assert(e3.getMessage.contains("decompressed size exceeds"))
    } finally prev match {
      case Some(v) => sys.props("graft.zip.maxBytes") = v
      case None    => sys.props.remove("graft.zip.maxBytes")
    }
    // and the cap restored, the same archive imports fine
    val (typed, _) = CsvIO.importCsv(spark, bomb)
    assert(typed.count() == 40000L)
  }

  test("bracket-named zip imports: scratch path escapes its glob metacharacters") {
    val dir = Files.createTempDirectory("graftzipbracket")
    val p = writeZip(dir, "pts[1].tsv.zip",
      "inner.tsv" -> "id\tname\n1\talpha\n2\tbeta\n")
    // the extracted scratch file is named pts[1].tsv — a Spark read of
    // the unescaped path would glob-match nothing and return 0 rows
    val (typed, cols) = CsvIO.importCsv(spark, p)
    assert(cols.map(_.name) == Seq("id", "name"))
    assert(typed.count() == 2L)
  }

  test("inferFull (treeAggregate) agrees with inferSample on the fixture") {
    val raw = CsvIO.readRaw(spark, fixture, ",")
    val a = SchemaInfer.inferSample(raw)
    val b = SchemaInfer.inferFull(raw)
    assert(a.map(c => (c.name, c.settledType, c.nullable)) ==
      b.map(c => (c.name, c.settledType, c.nullable)))
  }
}
