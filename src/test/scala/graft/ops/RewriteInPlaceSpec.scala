package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Answers follow the files: a query re-run on a corpus rewritten in
  * place (same JVM, same dir) must return what a fresh copy of the
  * rewritten corpus returns — no memo, derived dir or cached frame may
  * serve the pre-rewrite content. */
class RewriteInPlaceSpec extends AnyFunSuite with SparkSuite {
  private val src = Paths.get("/root/testdata/sf0.001")

  private def copyTree(from: Path, to: Path): Unit =
    scala.util.Using.resource(Files.walk(from)) { st =>
      st.iterator().asScala.foreach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      }
    }

  /** A quarter of the rows of each table gone (by its key), written
    * back at the same path as Spark parquet with the same types — one
    * file for one file, as the tables are provisioned. (A directory in
    * place of the file already reads fresh: its scan no longer
    * plan-matches a frame cached over the file.) */
  private val rewrites = Seq(
    "lineitem" -> "l_orderkey", "documents" -> "doc_id",
    "embeddings" -> "vec_id", "events" -> "event_id")

  private def rewriteInPlace(dir: Path): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    rewrites.foreach { case (table, key) =>
      val path = dir.resolve(s"$table.parquet")
      val kept = spark.read.parquet(path.toString).filter(col(key) % 4 =!= 1)
        .localCheckpoint()
      val tmp = dir.resolve(s"$table.tmp")
      kept.coalesce(1).write.parquet(tmp.toString)
      val part = scala.util.Using.resource(Files.list(tmp))(
        _.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get)
      Files.move(part, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      InferOps.deleteDir(tmp.toString)
    }
  }

  test("a table's content key runs no Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "marker"))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def keys = rewrites.map { case (t, _) => CorpusArtifacts.key(spark, src.toString, t) }
      val first = keys
      assert(first.distinct.size == first.size, "one key per table")
      assert(keys == first, "the key of an unchanged table is stable")
      // the listener bus delivers in order: once the marker job's start
      // arrives, every job started before it has been counted
      spark.sparkContext.setJobDescription("marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get() == 0, s"${jobs.get()} Spark job(s) computing content keys")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the scaled IVF layout's codebook sibling goes with its layout") {
    val a = Files.createTempDirectory("graft-rewrite-sivf")
    try {
      copyTree(src, a)
      val old = Similarity.scaledLayoutDir(spark, a.toString)
      assert(Files.isDirectory(Paths.get(s"${old}_codebook")))
      rewriteInPlace(a)
      val cur = Similarity.scaledLayoutDir(spark, a.toString)
      assert(cur != old, "a rewritten embeddings table keys a new layout")
      assert(!Files.exists(Paths.get(old)) && !Files.exists(Paths.get(s"${old}_codebook")),
        s"the old layout or its codebook sibling outlived the key change: $old")
      assert(Files.isDirectory(Paths.get(s"${cur}_codebook")))
    } finally InferOps.deleteDir(a.toString)
  }

  private def rows(q: String, dir: Path): Seq[String] =
    SparkEntry.queries(q)(spark, dir.toString).collect().map(_.toString).toSeq.sorted

  /** The registry's held RDDs over `dir`: tag -> RDD id. */
  private def heldIn(dir: Path): Map[String, Int] =
    CorpusArtifacts.held.collect { case (tag, d, id) if d == dir.toString => tag -> id }.toMap

  /** Delete `dirs`, releasing what the registry holds over them. */
  private def discard(dirs: Path*): Unit = dirs.foreach { d =>
    CorpusArtifacts.release(d.toString, heldIn(d).keys.toSeq: _*)
    InferOps.deleteDir(d.toString)
  }

  Seq("q57_partition_prune", "q61_approx_recall", "q82_zorder_layout",
    "q87_streaming_upsert", "q94_cluster_keep_best", "q137_semdedup_cell",
    "q148_pagerank", "q165_weighted_pagerank", "q176_hits",
    "q184_personalized_pagerank").foreach { q =>
    test(s"$q answers from the rewritten files (same JVM, same dir)") {
      val a = Files.createTempDirectory("graft-rewrite-a")
      val b = a.resolveSibling(s"${a.getFileName}-copy")
      try {
        copyTree(src, a)
        val before = rows(q, a)
        rewriteInPlace(a)
        copyTree(a, b)
        val onA = rows(q, a)
        val onB = rows(q, b)
        val same = onA == onB // compared outside assert: the answers are long
        assert(same, s"$q on the rewritten dir: ${onA.diff(onB).take(3)} stale, " +
          s"${onB.diff(onA).take(3)} missing (pre-rewrite answer had ${before.size} rows)")
      } finally discard(a, b)
    }
  }

  test("a lineitem rewrite unpersists the held edge blocks of the old key") {
    val a = Files.createTempDirectory("graft-rewrite-held")
    val b = a.resolveSibling(s"${a.getFileName}-copy")
    val sc = spark.sparkContext
    // held RDD ids -> cached bytes
    def bytes(ids: Iterable[Int]): Map[Int, Long] = sc.getRDDStorageInfo
      .filter(i => ids.exists(_ == i.id)).map(i => i.id -> (i.memSize + i.diskSize)).toMap
    try {
      copyTree(src, a)
      rows("q148_pagerank", a)
      val old = heldIn(a)
      assert(old.keySet == Set("attach:copurchase/uniform"), old)
      rewriteInPlace(a)
      copyTree(a, b)
      // the RDDs a q148 call on `dir` adds to the persisted set
      def adds(dir: Path): Set[Int] = {
        val before = sc.getPersistentRDDs.keySet
        rows("q148_pagerank", dir)
        (sc.getPersistentRDDs.keySet -- before).toSet
      }
      val rerun = adds(a)
      assert(!old.values.exists(sc.getPersistentRDDs.contains), s"old blocks $old still persisted")
      val fresh = adds(b)
      // the rerun leaves the persisted set a fresh run leaves
      assert(rerun == heldIn(a).values.toSet && fresh == heldIn(b).values.toSet,
        (rerun, fresh, CorpusArtifacts.held))
      assert(heldIn(a).keySet == heldIn(b).keySet)
      assert(bytes(rerun).values.toSeq == bytes(fresh).values.toSeq)
    } finally discard(a, b)
  }
}
