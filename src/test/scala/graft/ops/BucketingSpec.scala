package graft.ops

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing = pre-paid shuffle: tables bucketed on the join key
  * co-locate matching rows, so repeated fact⋈fact joins run with NO
  * Exchange — the 100 TB pattern for hot join keys (SURVEY.md §2.6,
  * "repartition/bucketing for co-located joins"). */
class BucketingSpec extends AnyFunSuite with SparkSuite {

  test("bucketed fact tables join without a shuffle and match the plain join") {
    val d = "/root/testdata/sf0.001"
    val loc = Files.createTempDirectory("graftbuckets")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bkt LOCATION '$loc'")
    try {
      val li = spark.read.parquet(s"$d/lineitem.parquet")
      val o = spark.read.parquet(s"$d/orders.parquet")
      li.write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("graft_bkt.lineitem_b")
      o.write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("graft_bkt.orders_b")

      val joined = spark.table("graft_bkt.lineitem_b")
        .join(spark.table("graft_bkt.orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))

      // disable broadcast so the join strategy is the bucketed SMJ
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan.take(300))
        // the ONLY exchange is the final aggregation, not the join
        val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
        assert(!joinPart.contains("Exchange hashpartitioning"),
          "bucketed join still shuffles:\n" + joinPart.take(600))

        val expected = li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
        assert(joined.exceptAll(expected).count() == 0)
        assert(expected.exceptAll(joined).count() == 0)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    } finally {
      spark.sql("DROP DATABASE IF EXISTS graft_bkt CASCADE")
    }
  }

  test("durable LSH index: band probe has no exchange on the index side, q96-identical") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val d = "/root/testdata/sf0.01"
    val loc = Files.createTempDirectory("graftlshidx")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_lsh LOCATION '$loc'")
    try {
      val docs = spark.read.parquet(s"$d/documents.parquet")
      Dedup.LshIndex.write(docs.filter(col("doc_id") < 400), "graft_lsh.lsh_index")
      val batch = docs.filter(col("doc_id") >= 400)

      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val out = Dedup.incrementalMinhashIndexed(spark, batch, "graft_lsh.lsh_index")
        // the bkey probe join: index side is the bucketed scan with
        // no Exchange above it (its bucketing IS its partitioning)
        val smjs = out.queryExecution.executedPlan
          .collect { case j: SortMergeJoinExec => j }
        val probe = smjs.filter(_.leftKeys.exists(_.toString.contains("bkey")))
        assert(probe.nonEmpty, out.queryExecution.executedPlan.toString.take(800))
        val idxSide = probe.head.right
        assert(idxSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          "index side shuffles:\n" + idxSide.toString.take(600))
        val scan = idxSide.collect { case sc: FileSourceScanExec => sc }
        assert(scan.nonEmpty && scan.head.relation.bucketSpec.isDefined,
          "index side is not a bucketed scan")

        // and the indexed path is row-identical to q96's inline index
        val got = out.orderBy(col("batch_id"), col("corpus_id")).collect().toSeq
        val expected = Dedup.q96IncrementalMinhash(spark, d).collect().toSeq
        assert(got == expected && got.nonEmpty)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    } finally {
      spark.sql("DROP DATABASE IF EXISTS graft_lsh CASCADE")
    }
  }

  test("appendLshIndex: union of per-batch appends equals one whole-corpus build") {
    val d = "/root/testdata/sf0.001"
    val loc = Files.createTempDirectory("graftlshapp")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_app LOCATION '$loc'")
    try {
      val docs = spark.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("lang"), col("text"))
      Dedup.LshIndex.write(docs, "graft_app.ref")
      // three disjoint batches in arbitrary arrival order — band keys
      // and signatures are per-document, so the union must be
      // row-identical to the single build (the q179 invariant)
      Dedup.LshIndex.write(docs.filter(col("doc_id") % 3 === 1), "graft_app.inc", append = true)
      Dedup.LshIndex.write(docs.filter(col("doc_id") % 3 === 2), "graft_app.inc", append = true)
      Dedup.LshIndex.write(docs.filter(col("doc_id") % 3 === 0), "graft_app.inc", append = true)
      def bands(t: String) = spark.table(s"${t}_bands")
        .groupBy(col("doc_id"), col("bkey")).count()
        .orderBy(col("doc_id"), col("bkey")).collect().toSeq
      def sigs(t: String) = spark.table(s"${t}_sigs")
        .orderBy(col("doc_id")).collect().toSeq
      assert(bands("graft_app.inc") == bands("graft_app.ref"))
      assert(sigs("graft_app.inc") == sigs("graft_app.ref"))
      assert(bands("graft_app.inc").nonEmpty)
      // the appended table keeps the bucket spec (probes stay
      // zero-exchange — the plan itself is pinned by the tests above)
      val cat = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
          "inc_bands", Some("graft_app")))
      assert(cat.bucketSpec.exists(_.bucketColumnNames == Seq("bkey")))
    } finally spark.sql("DROP DATABASE IF EXISTS graft_app CASCADE")
  }

  test("compacted LSH generation: probe keeps the zero-exchange plan, tombstoned docs never match") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val d = "/root/testdata/sf0.01"
    val loc = Files.createTempDirectory("graftlshcomp")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_lc LOCATION '$loc'")
    try {
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val corpus = docs.filter(col("doc_id") < 400)
      Dedup.LshIndex.write(corpus, "graft_lc.idx")
      val tomb = corpus.filter(col("doc_id") % 10 === 3).select(col("doc_id"))
      Dedup.LshIndex.compact(spark, "graft_lc.idx", "graft_lc.idx2", tomb)
      val batch = docs.filter(col("doc_id") >= 400)

      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val out = Dedup.incrementalMinhashIndexed(spark, batch, "graft_lc.idx2")
        // the rewrite must land bucketed again: the bkey probe's index
        // side is a bucketed scan with no Exchange above it
        val probe = out.queryExecution.executedPlan
          .collect { case j: SortMergeJoinExec => j }
          .filter(_.leftKeys.exists(_.toString.contains("bkey")))
        assert(probe.nonEmpty, out.queryExecution.executedPlan.toString.take(800))
        val idxSide = probe.head.right
        assert(idxSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          "compacted index side shuffles:\n" + idxSide.toString.take(600))
        val scan = idxSide.collect { case sc: FileSourceScanExec => sc }
        assert(scan.nonEmpty && scan.head.relation.bucketSpec.isDefined,
          "compacted index side is not a bucketed scan")

        // behavioral: the compacted probe = pre-compaction probe minus
        // every pair whose corpus member was tombstoned
        val got = out.orderBy(col("batch_id"), col("corpus_id")).collect().toSeq
        val pre = Dedup.incrementalMinhashIndexed(spark, batch, "graft_lc.idx")
        val tombIds = tomb.collect().map(_.getLong(0)).toSet
        val expected = pre.filter(!col("corpus_id").isInCollection(tombIds))
          .orderBy(col("batch_id"), col("corpus_id")).collect().toSeq
        assert(got == expected && got.nonEmpty)
        assert(got.forall(r => !tombIds.contains(r.getLong(1))))
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    } finally {
      spark.sql("DROP DATABASE IF EXISTS graft_lc CASCADE")
    }
  }

  test("durable fp index: anti-join runs with no shuffle on the index side, q80-identical") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val d = "/root/testdata/sf0.01"
    val loc = Files.createTempDirectory("graftfpidx")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_fpi LOCATION '$loc'")
    try {
      val docs = spark.read.parquet(s"$d/documents.parquet")
      Dedup.writeFpIndex(docs.filter(col("doc_id") < 400), "graft_fpi.fp_index")
      val batch = docs.filter(col("doc_id") >= 400)
        .select(col("doc_id"), col("text"))

      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val out = Dedup.incrementalDedup(batch, spark.table("graft_fpi.fp_index"))
        val smj = out.queryExecution.executedPlan
          .collect { case j: SortMergeJoinExec => j }
        assert(smj.nonEmpty && smj.head.joinType.toString.startsWith("LeftAnti"),
          out.queryExecution.executedPlan.toString.take(600))
        // index (right) side: the bucketed scan feeds the join with no
        // exchange — its bucketing is its partitioning
        val right = smj.head.right
        assert(right.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          "index side shuffles:\n" + right.toString.take(600))
        val scan = right.collect { case sc: FileSourceScanExec => sc }
        assert(scan.nonEmpty && scan.head.relation.bucketSpec.isDefined,
          "index side is not a bucketed scan")

        // and the indexed path is row-identical to q80's inline index
        val got = out.orderBy(col("doc_id")).collect().toSeq
        val expected = Dedup.q80IncrementalDedup(spark, d).collect().toSeq
        assert(got == expected && got.nonEmpty)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    } finally {
      spark.sql("DROP DATABASE IF EXISTS graft_fpi CASCADE")
    }
  }
}
