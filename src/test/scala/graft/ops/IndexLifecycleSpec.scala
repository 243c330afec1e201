package graft.ops

import java.nio.file.{Files, Paths}

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The durable-index lifecycle gates (write → append → compact →
  * stream append → audit) end to end on the smallest provisioned
  * corpus: each gate's component names must be exactly its oracle
  * VALUES list, and every component must be true — the same check
  * the DuckDB oracle makes, without leaving the test suite. */
class IndexLifecycleSpec extends AnyFunSuite with SparkSuite {
  private val d = "/root/testdata/sf0.001"

  /** Component names of an all-true VALUES oracle, in listed order. */
  private def components(oracle: String): Seq[String] =
    """\('([a-z0-9_]+)', true\)""".r.findAllMatchIn(oracle).map(_.group(1)).toSeq

  private def assertGate(name: String, out: DataFrame, oracle: String): Unit = {
    val rows = out.collect().map(r => r.getString(0) -> r.getBoolean(1)).toSeq
    val expected = components(oracle)
    assert(expected.nonEmpty, s"$name: no components parsed from its oracle")
    assert(rows.map(_._1) == expected, s"$name components")
    assert(rows.forall(_._2), s"$name: false components ${rows.filterNot(_._2).map(_._1)}")
  }

  Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame, String)](
    ("q144_ivf_append", Similarity.q144IvfAppend, Similarity.q144Sql),
    ("q166_lsh_compaction", Dedup.q166LshCompaction, Dedup.q166Sql),
    ("q179_stream_lsh_index", Dedup.q179StreamLshIndex, Dedup.q179Sql),
    ("q186_stream_ivf_index", Similarity.q186StreamIvfIndex, Similarity.q186Sql),
    ("q189_stream_scaled_ivf", Similarity.q189StreamScaledIvf, Similarity.q189Sql)
  ).foreach { case (name, q, oracle) =>
    test(s"$name gate is all-true with its oracle's components (sf0.001)") {
      assertGate(name, q(spark, d), oracle)
    }
  }

  test("q179 restages a corpus rewritten in place (same JVM, same dir)") {
    val dir = Files.createTempDirectory("graft-restage")
    val docsPath = dir.resolve("documents.parquet")
    Files.copy(Paths.get(d, "documents.parquet"), docsPath)
    assertGate("q179 before rewrite", Dedup.q179StreamLshIndex(spark, dir.toString),
      Dedup.q179Sql)
    // different rows under the same path: a quarter of the documents
    // gone and every remaining text extended by one token
    val rewritten = spark.read.parquet(s"$d/documents.parquet")
      .filter(col("doc_id") % 4 =!= 1)
      .withColumn("text", concat(col("text"), lit(" restaged")))
    Files.delete(docsPath)
    rewritten.coalesce(1).write.parquet(docsPath.toString)
    assertGate("q179 after rewrite", Dedup.q179StreamLshIndex(spark, dir.toString),
      Dedup.q179Sql)
  }
}
