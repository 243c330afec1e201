package graftbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds; `parent` is the
  * id of the enclosing span (0 for a root), `run` the run's id. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long, run: String)

/** Epoch-microsecond clock with nanoTime resolution, so span bounds and
  * the millisecond timestamps Spark's listeners report share one base. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000
}

/** In-memory span store; written out once, after the last pass. */
final class Spans(run: String) {
  private val done = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack = List(0L)

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val t0 = Clock.nowUs
    try body
    finally {
      stack = stack.tail
      done += Span(id, parent, name, t0, Clock.nowUs, run)
    }
  }

  def add(parent: Long, name: String, startUs: Long, endUs: Long): Unit = {
    done += Span(nextId, parent, name, startUs, endUs, run)
    nextId += 1
  }

  def all: Seq[Span] = done.toSeq
}

/** Raw events from Spark's public listener interfaces. Each carries the
  * epoch time it happened at, so it can be assigned to the pass or
  * operation whose interval holds it after the listener buses drain. */
object Events {
  final case class Job(startUs: Long, endUs: Long, stages: Int)
  final case class Task(endUs: Long, runS: Double, gcS: Double, spillBytes: Long,
      shuffleRows: Long, shuffleBytes: Long)
  final case class Plan(endUs: Long, planS: Double)
  final case class Batch(endUs: Long, batchS: Double)
  final case class StreamStart(atUs: Long)
}

final class Listeners(spark: SparkSession) {
  import Events._
  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  val streamStarts = new ConcurrentLinkedQueue[StreamStart]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()

  private val core = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.put(e.jobId, (e.time * 1000, e.stageInfos.size)); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, n) =>
        jobs.add(Job(t0, e.time * 1000, n))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(Task(e.taskInfo.finishTime * 1000, m.executorRunTime / 1e3,
          m.jvmGCTime / 1e3, m.diskBytesSpilled, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleWriteMetrics.bytesWritten))
      }
  }

  private val planning = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans.add(Plan(phases.map(_.endTimeMs).max * 1000, phases.map(_.durationMs).sum / 1e3))
    }
  }

  private def epochUs(iso: String): Long = Instant.parse(iso).toEpochMilli * 1000

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      streamStarts.add(StreamStart(epochUs(e.timestamp))); ()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(Batch(epochUs(p.timestamp) + p.batchDuration * 1000, p.batchDuration / 1e3)); ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(core)
    spark.listenerManager.register(planning)
    spark.streams.addListener(streaming)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(core)
    spark.listenerManager.unregister(planning)
    spark.streams.removeListener(streaming)
  }

  /** Totals of everything the listeners saw inside the given
    * intervals (the operations of one pass). */
  def totals(iv: Seq[(Long, Long)], cores: Int): Map[String, Double] = {
    def in(t: Long) = iv.exists { case (a, b) => t >= a && t < b }
    val js = jobs.asScala.filter(j => in(j.endUs)).toSeq
    val ts = tasks.asScala.filter(t => in(t.endUs)).toSeq
    val wall = iv.map { case (a, b) => b - a }.sum / 1e6
    val busy = iv.map { case (a, b) =>
      covered(js.map(j => (j.startUs max a, j.endUs min b)))
    }.sum / 1e6
    val taskS = ts.map(_.runS).sum
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.plan_s" -> plans.asScala.filter(p => in(p.endUs)).map(_.planS).sum,
      "spark.idle_s" -> (wall - busy),
      "spark.task_s" -> taskS,
      "spark.busy_ratio" -> (if (wall > 0) taskS / (wall * cores) else 0.0),
      "spark.gc_s" -> ts.map(_.gcS).sum,
      "spark.spill_mib" -> ts.map(_.spillBytes).sum / Mib,
      "spark.shuffle_rows" -> ts.map(_.shuffleRows).sum.toDouble,
      "spark.shuffle_write_mib" -> ts.map(_.shuffleBytes).sum / Mib,
      "streaming.queries" -> streamStarts.asScala.count(s => in(s.atUs)).toDouble,
      "streaming.batches" -> batches.asScala.count(b => in(b.endUs)).toDouble,
      "streaming.batch_s" -> batches.asScala.filter(b => in(b.endUs)).map(_.batchS).sum)
  }

  /** Job spans, for the span file: each under the op span holding it. */
  def jobSpans: Seq[(Long, Long)] = jobs.asScala.map(j => (j.startUs, j.endUs)).toSeq

  private val Mib = 1024.0 * 1024.0

  /** Total length of the union of intervals (microseconds). */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}
