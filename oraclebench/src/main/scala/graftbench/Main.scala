package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftSession, SparkEntry}

/** One JVM of the oracle-checked benchmark: sets up a graft session,
  * runs seeded passes over a workload's queries in a closed loop (one
  * operation at a time, each `SparkEntry.queries(q)` followed by
  * `collect()`), and writes every timing, result fingerprint and
  * provenance field to `<out>/jvm.json`. The caller (run.py) checks the
  * results against DuckDB.
  *
  * Usage: graftbench.Main --data DIR --out DIR --queries q1,q2,.. --seed N
  *   --seconds S --warm-passes K --cpus C [--trace 1] [--io-leg 1]
  */
object Main {
  private val Mib = 1024.0 * 1024.0

  final case class Op(query: String, pass: Int, traced: Boolean, startUs: Long, endUs: Long,
      buildS: Double, collectS: Double, result: Int, error: String)
  final case class Pass(index: Int, traced: Boolean, order: Seq[String])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = a("data")
    val out = Paths.get(a("out"))
    val cpus = a("cpus")
    Files.createDirectories(out)

    val (spark, setupS) = setUp(cpus, data)

    val queries = a("queries").split(',').toSeq
    val fns = queries.map(q => q -> SparkEntry.queries(q)).toMap
    val trace = a.get("trace").contains("1")
    val seconds = a("seconds").toDouble
    val warm = a("warm-passes").toInt
    val rnd = new java.util.Random(a("seed").toLong)
    val spans = new Spans(s"${a("seed")}-${ProcessHandle.current().pid()}")
    val listeners = new Listeners(spark)

    val ops = ArrayBuffer.empty[Op]
    val passes = ArrayBuffer.empty[Pass]
    val results = mutable.Map.empty[String, mutable.LinkedHashMap[String, Int]]
    val storage = ArrayBuffer.empty[Map[String, Double]]

    def opsOf(pass: Int) = ops.filter(_.pass == pass).toSeq

    def runOp(q: String, pass: Int, traced: Boolean): Unit = {
      val t0 = Clock.nowUs
      var t1 = t0
      var rows: Array[Row] = null
      var df: DataFrame = null
      val error = try {
        spans(q) {
          df = spans("build")(fns(q)(spark, data))
          t1 = Clock.nowUs
          rows = spans("collect")(df.collect())
        }
        ""
      } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
      val t2 = Clock.nowUs
      // untimed: store each distinct result once for the oracle check
      val idx = if (rows == null) -1 else {
        val seen = results.getOrElseUpdate(q, mutable.LinkedHashMap.empty)
        seen.getOrElseUpdate(fingerprint(rows), {
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.parquet(out.resolve(s"results/$q/${seen.size}").toString)
          seen.size
        })
      }
      ops += Op(q, pass, traced, t0, t2, (t1 - t0) / 1e6, (t2 - t1) / 1e6, idx, error)
      if (traced) storage += storageNow(spark)
      // untimed, as graft.Bench does between queries: frames an operator
      // persisted and dropped are only unpersisted by Spark's ContextCleaner
      // once a collection finds them unreachable
      System.gc()
    }

    // closed loop with a fixed amount of work: the cold pass, then
    // `warm` warm passes. Passes keep speeding up for several passes as
    // the JIT warms (NOTES.md), so a time-bounded loop would compare
    // different pass positions between runs. A traced run does four warm
    // passes in traced, untraced, untraced, traced order, so the tracing
    // overhead is not confounded with that drift. `seconds` only caps
    // the loop on a machine much slower than the one it was sized on.
    val plan = if (trace) Seq(true, false, false, true) else Seq.fill(warm)(false)
    val must = if (trace) 2 else 1
    val heap = new LiveHeap
    val start = Clock.nowUs
    def runPass(pass: Int, traced: Boolean): Unit = {
      val order = shuffled(queries, rnd)
      if (traced) listeners.attach()
      spans(s"pass$pass")(order.foreach(q => runOp(q, pass, traced)))
      if (traced) listeners.detach()
      passes += Pass(pass, traced, order)
    }
    runPass(0, traced = false)
    plan.zipWithIndex.foreach { case (traced, i) =>
      if (i < must || (Clock.nowUs - start) / 1e6 < 2 * seconds) runPass(i + 1, traced)
    }
    val peakHeap = heap.stop() / Mib
    val end = storageNow(spark)

    val layer = mutable.LinkedHashMap.empty[String, Double]
    var ioLegError: String = null
    if (trace) {
      Thread.sleep(1000) // let the asynchronous listener buses drain
      val perPass = passes.filter(_.traced).toSeq
        .map(p => listeners.totals(opsOf(p.index).map(o => (o.startUs, o.endUs)), cpus.toInt))
      perPass.head.keys.foreach(k => layer(k) = median(perPass.map(_(k))))
      queries.foreach { q =>
        val mine = ops.filter(o => o.traced && o.query == q).toSeq
        layer(s"ops.$q.build_s") = median(mine.map(_.buildS))
        layer(s"ops.$q.collect_s") = median(mine.map(_.collectS))
      }
      Seq("retained_mib", "persisted_rdds", "scratch_mib").foreach { k =>
        layer(s"storage.$k") = storage.map(_(k)).max
      }
      if (a.get("io-leg").contains("1")) ioLegError = try {
        val dir = s"${sys.props("java.io.tmpdir")}/bench_leg"
        layer ++= spans("io_leg")(IoLeg.run(spark, data, dir, spans))
        ""
      } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
      val opSpans = spans.all.filter(sp => fns.contains(sp.name))
      listeners.jobSpans.foreach { case (s, e) =>
        opSpans.find(sp => s >= sp.startUs && s < sp.endUs)
          .foreach(sp => spans.add(sp.id, "spark.job", s, e))
      }
    }

    val passJson = passes.map(p => Map("pass" -> p.index, "traced" -> p.traced,
      "wall_s" -> opsOf(p.index).map(o => o.endUs - o.startUs).sum / 1e6, "order" -> p.order))
    val opJson = ops.map(o => Map("query" -> o.query, "pass" -> o.pass, "traced" -> o.traced,
      "build_s" -> o.buildS, "collect_s" -> o.collectS, "result" -> o.result, "error" -> o.error))
    Files.writeString(out.resolve("jvm.json"), Json(Map(
      "setup_s" -> setupS,
      "passes" -> passJson,
      "ops" -> opJson,
      "peak_heap_mib" -> peakHeap,
      "retained_mib" -> end("retained_mib"),
      "scratch_mib" -> end("scratch_mib"),
      "per_layer" -> layer.toMap,
      "io_leg_error" -> ioLegError,
      "oracle_sql" -> queries.map(q => q -> SparkEntry.oracleSql(q)).toMap,
      "provenance" -> Map(
        "java" -> sys.props("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "spark" -> spark.version,
        "cpus" -> cpus,
        "heap_max_mib" -> Runtime.getRuntime.maxMemory / Mib,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions")))))
    if (trace) Files.write(out.resolve("spans.jsonl"), spans.all.map(s => Json(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_us" -> s.startUs,
      "end_us" -> s.endUs, "run" -> s.run))).asJava, UTF_8)
    graft.ops.InferOps.cleanupScratch()
    spark.stop()
  }

  /** JVM start until the session is ready, including the table warm-up
    * `graft.Bench` does before its first timed query. */
  private def setUp(cpus: String, data: String): (SparkSession, Double) = {
    val spark = GraftSession.local(cpus)
    spark.read.parquet(s"$data/lineitem.parquet").groupBy("l_returnflag").count().collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$data/$t.parquet").count())
    graft.ops.Tables.events(spark, data).count()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    (spark, (System.currentTimeMillis() - jvmStart) / 1e3)
  }

  private def shuffled(qs: Seq[String], rnd: java.util.Random): Seq[String] = {
    val l = new java.util.ArrayList[String](qs.asJava)
    java.util.Collections.shuffle(l, rnd)
    l.asScala.toSeq
  }

  private def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { s => md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Block-manager bytes and persisted RDDs still held, and bytes in
    * the session warehouse and the engine's `graft_*` scratch dirs. */
  private def storageNow(spark: SparkSession): Map[String, Double] = {
    val sc = spark.sparkContext
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val scratch = scala.util.Using.resource(Files.list(tmp)) {
      _.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_")).map(treeBytes).sum
    }
    Map("retained_mib" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / Mib,
      "persisted_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "scratch_mib" -> scratch / Mib)
  }

  private[graftbench] def treeBytes(p: Path): Long =
    try scala.util.Using.resource(Files.walk(p)) { st =>
      st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => scala.util.Try(Files.size(f)).getOrElse(0L)).sum
    } catch { case _: java.io.IOException => 0L }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Peak live heap: the most heap still in use right after the full
  * collection the harness requests after each operation (and once more
  * in `stop()`). Young collections are not counted: what they leave
  * includes old-generation garbage, so their figure depends on when the
  * collector last swept the old generation. */
final class LiveHeap {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(0)
  @volatile private var on = true
  private val listener: NotificationListener = (n, _) =>
    if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      if (info.getGcCause == "System.gc()") {
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max(_, _))
      }
      ()
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Long = {
    System.gc()
    Thread.sleep(200) // notifications arrive on a JMX thread
    on = false
    emitters.foreach(_.removeNotificationListener(listener))
    peak.get
  }
}

/** Minimal JSON rendering for the harness's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
