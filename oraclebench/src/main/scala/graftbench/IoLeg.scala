package graftbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, max, min}

import graft.core.SchemaInfer
import graft.io.{CsvIO, JdbcIO, XlsxIO}
import graft.ops.Tables

/** The traced ingest leg: replays the steps of q33 (CSV), q36 (JDBC)
  * and q35 (XLSX) as direct calls into `graft.io` and `graft.core`, so
  * each layer's time is measured from outside the query functions.
  * Every read side is materialized in full; a read-back row count that
  * differs from what was written throws, and the run counts the leg as
  * one failed operation. */
object IoLeg {
  def run(spark: SparkSession, data: String, dir: String, spans: Spans): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try spans(name)(body)
      finally m(name) = m.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    }
    def materialize(df: DataFrame): DataFrame = {
      df.write.format("noop").mode("overwrite").save()
      df
    }
    def expect(what: String, wrote: Long, read: Long): Unit =
      require(wrote == read, s"$what: wrote $wrote rows, read back $read")

    val li = Tables.lineitem(spark, data)
    val csv = s"$dir/csv/lineitem.csv"
    timed("io.csv_export_s")(CsvIO.exportCsv(li, csv, singleFile = false, unixLineSep = true))
    val raw = timed("io.csv_import_s")(
      CsvIO.readRaw(spark, csv, CsvIO.delimiterFor(csv), multiLine = false))
    val cols = timed("core.infer_s")(SchemaInfer.inferSample(raw))
    val typed = timed("io.csv_import_s")(materialize(CsvIO.castTo(raw, cols)))
    val liRows = li.count()
    expect("csv", liRows, typed.count())

    val cust = Tables.customer(spark, data)
    val url = s"jdbc:derby:$dir/derby/db;create=true"
    val custRows = timed("io.jdbc_write_s")(
      JdbcIO.writeTableCounted(cust, url, "customer_leg", None, truncate = true))
    val b = cust.agg(min(col("c_custkey")), max(col("c_custkey"))).head()
    val back = timed("io.jdbc_read_s")(materialize(JdbcIO.readTable(spark, url, "customer_leg",
      partitionOn = Some(("c_custkey", b.getLong(0), b.getLong(1) + 1, 8)))))
    expect("jdbc", custRows, back.count())

    val nation = Tables.nation(spark, data)
      .join(broadcast(Tables.region(spark, data)), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
    val xlsx = s"$dir/nation.xlsx"
    timed("io.xlsx_write_s")(XlsxIO.writeSheet(nation, xlsx, "nation"))
    val sheet = timed("io.xlsx_read_s")(materialize(XlsxIO.importSheet(spark, xlsx, "nation")._1))
    val sheetRows = nation.count()
    expect("xlsx", sheetRows, sheet.count())

    m("io.rows_written") = (liRows + custRows + sheetRows).toDouble
    m("io.bytes_written") = Main.treeBytes(Paths.get(dir)).toDouble
    m.toMap
  }
}
