package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.ops.{DurableIndex, InferOps, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * Structured Streaming surface: the same event analytics as the batch
 * operators, driven through `readStream` → transforms → `writeStream`,
 * proving the engine's stream/batch parity. Every streaming query
 * here (tumbling/sliding/session windows, stateful, stream-stream
 * join, dedup, late-data) drains its file source with AvailableNow
 * into a uniquely-named memory sink, materializes the result
 * locally, and DROPs the sink table —
 * repeated invocations (Verify + Bench share a session) must not pin
 * result sets in driver memory.
 *
 * Scale notes: the file source is replaced by Kafka/queue sources in
 * production; aggregation/join state is keyed and shuffle-partitioned,
 * no driver state.
 */
object StreamingOps {

  private val runSeq = new AtomicInteger(0)

  /** Drain a streaming writeStream into a memory sink, materialize the
    * (small) final result locally, and drop the sink table. */
  private def drainToLocal(s: SparkSession, df: DataFrame,
      outputMode: String)(post: DataFrame => DataFrame): DataFrame = {
    val name = s"graft_stream_${runSeq.incrementAndGet()}"
    val q = df.writeStream.outputMode(outputMode).format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    try {
      // localize the sink table BEFORE post() runs: the memory sink's
      // rows are already driver-resident, and MemoryPlan is not a
      // MultiInstanceRelation — a post() that self-joins the sink
      // table (q141's grid completion) would fail attribute dedup
      // against the shared plan. A LocalRelation self-joins cleanly.
      val sunk = s.table(name)
      val local = s.createDataFrame(
        java.util.Arrays.asList(sunk.collect(): _*), sunk.schema)
      val result = post(local)
      val rows = result.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
    } finally s.catalog.dropTempView(name) // also on post/collect failure:
    // a pinned sink table must never outlive its query (module contract)
  }

  def q34StreamTumbling(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.eventsStream(s, d)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(Tables.cents(col("value"))) / 100.0).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("day_bucket"),
        col("event_type"), col("n"), col("sum_value"))
    // map-side partials do the row-volume work; the stateful final agg
    // is small, and state-store I/O scales with shuffle partitions
    withShuffle(s, 8) {
      drainToLocal(s, agg, "complete")(
        _.orderBy(col("day_bucket"), col("event_type")))
    }
  }

  private def withShuffle[A](s: SparkSession, n: Int)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Stage `df` as ONE parquet file at `dir/name` with an explicit
    * modification time — the knob FileStreamSource orders micro-
    * batches by (oldest first), which lets a test/query replay files
    * as deliberately-ordered batches. */
  private def writeOneFile(df: DataFrame, dir: String, name: String,
      mtimeMillis: Long): Unit = {
    import java.nio.file._
    val tmp = Paths.get(dir, s"__stage_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = scala.util.Using.resource(Files.list(tmp)) {
      _.filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst().orElseThrow(() => new IllegalStateException(s"no part in $tmp"))
    }
    val target = Paths.get(dir, name)
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    scala.util.Using.resource(Files.list(tmp))(_.forEach(p => Files.deleteIfExists(p)))
    Files.delete(tmp)
    Files.setLastModifiedTime(target,
      attribute.FileTime.fromMillis(mtimeMillis))
  }

  /** Everything before this instant replays as the LATE micro-batch. */
  private val LateCutoff = "2024-01-15 00:00:00"
  /** Splits the on-time rows into two batches — Spark's two-watermark
    * policy (late-event filtering in batch N uses batch N−1's
    * watermark) needs an intervening batch before drops engage. */
  private val MidCutoff = "2024-01-25 00:00:00"

  /** Streaming LATE-DATA semantics under a watermark — the append-
    * mode drop path, oracle-gated: the stream replays events as three
    * micro-batches (on-time rows in two files, then every
    * pre-`LateCutoff` straggler). By the time the stragglers arrive
    * the late-event watermark stands at max(on-time ts) − 1 h — days
    * past every one of them — so the whole final batch must be
    * dropped (verified: numRowsDroppedByWatermark = all of them), and
    * append mode only ever emits windows closed below the watermark.
    * The oracle states exactly that: the hourly aggregate over ONLY
    * on-time rows, restricted to windows whose end ≤ max(ts) − 1 h.
    * Any late row leaking into state, or any unclosed window leaking
    * into output, breaks the hash. Watermarks are what bound state at
    * 100 TB/day ingest — this gate pins the drop semantics they rely
    * on. (Three batches, not two: Spark filters batch N's late rows
    * with batch N−1's watermark, so a straggler batch immediately
    * after the first would merge-then-emit instead of drop.) */
  def q68StreamLateData(s: SparkSession, d: String): DataFrame = {
    // ONE scan stages all three files (the three filtered writes
    // would otherwise each re-read the biggest streaming input)
    val ev = Tables.events(s, d).select(col("ts"), col("event_type"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cut = lit(LateCutoff).cast("timestamp")
    val mid = lit(MidCutoff).cast("timestamp")
    val dir = graft.ops.InferOps.tmpPath("late_stream", d)
    val now = System.currentTimeMillis()
    try {
      writeOneFile(ev.filter(col("ts") >= cut && col("ts") < mid),
        dir, "0_ontime_a.parquet", now - 120000)
      writeOneFile(ev.filter(col("ts") >= mid), dir, "1_ontime_b.parquet", now - 60000)
      writeOneFile(ev.filter(col("ts") < cut), dir, "2_late.parquet", now)
    } finally ev.unpersist(false)
    val agg = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("bucket"),
        col("event_type"), col("n"))
    withShuffle(s, 8) {
      drainToLocal(s, agg, "append")(
        _.orderBy(col("bucket"), col("event_type")))
    }
  }

  val q68Sql: String =
    """WITH ontime AS (
      |  SELECT ts, event_type FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'),
      |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM ontime)
      |SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket,
      | event_type, count(*) AS n
      |FROM ontime, wm
      |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val q34Sql: String =
    """SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_bucket,
      | event_type, count(*) AS n,
      | CAST(sum(CAST(round("value"*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY day_bucket, event_type""".stripMargin

  /** q109: stream-STATIC join — the enrichment shape every production
    * ingest runs (event stream × slowly-changing dimension table).
    * The static side is a plain batch DataFrame: Spark re-plans it
    * per micro-batch (picking up dim updates between batches) and
    * broadcasts it when small, so the streaming side never shuffles
    * for the join; the only stateful stage is the tiny per-segment
    * aggregate. Completes the streaming matrix alongside the
    * stream-stream (q58), windowed (q34/q64/q62), stateful (q43/q86),
    * dedup (q63), late-data (q68), and sink (q87) shapes. */
  def q109StreamStaticJoin(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    val enriched = Tables.eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        (sum(Tables.cents(col("value"))) / 100.0).as("sum_value"))
    withShuffle(s, 8) {
      drainToLocal(s, enriched, "complete")(_.orderBy(col("c_mktsegment")))
    }
  }

  // ------------------------------------------------------------------
  // q141: streaming drift monitor — per-day PSI vs the corpus margin
  // ------------------------------------------------------------------

  /** q141: distribution-drift monitoring ON THE STREAM — the ML-ops
    * screen that catches a value distribution going sideways while
    * data is still arriving. One streaming tumbling-day aggregation
    * maintains (day, value-bucket) counts ($20 buckets on exact
    * cents); when the stream drains, each day's bucket distribution
    * is scored with PSI against the all-days margin of the SAME
    * drained matrix (q106's math verbatim: Laplace smoothing, each
    * term quantized to integer micro-nats BEFORE the order-free sum).
    *
    * Scale: the row-volume work is the streaming partial aggregate —
    * state is |days|·|buckets| counters, and the post-drain PSI math
    * runs on that tiny matrix, never re-reading events. In production
    * the drain boundary becomes a sliding re-score on the live state
    * (same frame, foreachBatch); the file-source drain keeps the
    * batch oracle exact here. */
  def q141StreamDriftPsi(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.eventsStream(s, d)
      .withColumn("bucket",
        floor(Tables.cents(col("value")) / lit(2000L)).cast("long"))
      .groupBy(window(col("ts"), "1 day"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("day_bucket"),
        col("bucket"), col("n"))
    withShuffle(s, 8) {
      drainToLocal(s, counts, "complete")(perDayPsi)
    }
  }

  /** PSI of every day against the corpus margin, on the drained
    * (day_bucket, bucket, n) matrix. The grid completion mirrors
    * q140's: each day needs a (possibly zero) count at every observed
    * bucket or the smoothed shares disagree on the bucket universe. */
  private[streaming] def perDayPsi(m: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Analyze.{completeGrid, laplaceShare, psiMicro}
    val grid = completeGrid(m, "day_bucket", "bucket", "n")
    val byDay = Window.partitionBy(col("day_bucket"))
    val byBucket = Window.partitionBy(col("bucket"))
    val all = Window.partitionBy(lit(1))
    grid
      .withColumn("nd", sum(col("n")).over(byDay))
      .withColumn("nb", sum(col("n")).over(byBucket))
      .withColumn("nn", sum(col("n")).over(all))
      .withColumn("k", count(lit(1)).over(byDay)) // grid ⇒ = |buckets|
      .withColumn("p_d", laplaceShare(col("n"), col("nd"), col("k")))
      .withColumn("p_r", laplaceShare(col("nb"), col("nn"), col("k")))
      .withColumn("psi_micro", psiMicro(col("p_d"), col("p_r")))
      .groupBy(col("day_bucket"))
      .agg(max(col("nd")).as("n_events"), sum(col("psi_micro")).as("psi_micro"))
      .orderBy(col("day_bucket"))
  }

  val q141Sql: String =
    """WITH c AS (
      |  SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_bucket,
      |   CAST(floor(CAST(round("value"*100) AS BIGINT) / 2000) AS BIGINT) AS bucket,
      |   count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT ds.day_bucket, bs.bucket
      |  FROM (SELECT DISTINCT day_bucket FROM c) ds,
      |   (SELECT DISTINCT bucket FROM c) bs),
      |f AS (
      |  SELECT grid.day_bucket, grid.bucket, COALESCE(c.n, 0) AS n
      |  FROM grid LEFT JOIN c
      |   ON grid.day_bucket = c.day_bucket AND grid.bucket = c.bucket),
      |e AS (
      |  SELECT day_bucket, bucket, n,
      |   sum(n) OVER (PARTITION BY day_bucket) AS nd,
      |   sum(n) OVER (PARTITION BY bucket) AS nb,
      |   sum(n) OVER () AS nn,
      |   count(*) OVER (PARTITION BY day_bucket) AS k
      |  FROM f),
      |p AS (
      |  SELECT day_bucket, nd,
      |   CAST(round(((n + 1) / (CAST(nd AS DOUBLE) + k)
      |     - (nb + 1) / (CAST(nn AS DOUBLE) + k))
      |    * ln(((n + 1) / (CAST(nd AS DOUBLE) + k))
      |      / ((nb + 1) / (CAST(nn AS DOUBLE) + k))) * 1e6) AS BIGINT) AS t
      |  FROM e)
      |SELECT day_bucket, CAST(max(nd) AS BIGINT) AS n_events,
      | CAST(sum(t) AS BIGINT) AS psi_micro
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  val q109Sql: String =
    """SELECT c_mktsegment, count(*) AS n,
      | CAST(sum(CAST(round("value"*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |WHERE e.event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  final case class UserAgg(user_id: Long, n: Long, sum_cents: Long)

  /** Custom stateful streaming: per-user running aggregates via
   *  flatMapGroupsWithState — explicit GroupState instead of a
   *  built-in aggregation (the pattern for custom session/state
   *  machines). Append mode emits the running aggregate once per
   *  key per micro-batch, so the final answer is the LAST (max-n)
   *  row per user — correct for any batch split, not just the
   *  single-batch drain. */
  def q43StreamStateful(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val stream = Tables.eventsStream(s, d)
      // coalesce(0): a NULL value would crash the non-nullable tuple
      // encoder; adding 0 to the sum is exactly the oracle's
      // NULL-skipping sum semantics while count(*) keeps the row
      .select(col("user_id"), coalesce(Tables.cents(col("value")), lit(0L)).as("cents"))
      .as[(Long, Long)]
    def update(user: Long, rows: Iterator[(Long, Long)],
        state: GroupState[UserAgg]): Iterator[UserAgg] = {
      val prev = state.getOption.getOrElse(UserAgg(user, 0L, 0L))
      var n = prev.n; var c = prev.sum_cents
      rows.foreach { r => n += 1; c += r._2 }
      val next = UserAgg(user, n, c)
      state.update(next)
      Iterator.single(next)
    }
    val emitted = stream.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
      .toDF()
    withShuffle(s, 8) {
      drainToLocal(s, emitted, "append") { t =>
        // keep only the final per-user state (max n) — intermediate
        // emissions appear whenever the source splits into batches
        t.groupBy(col("user_id"))
          .agg(max(struct(col("n"), col("sum_cents"))).as("fin"))
          .select(col("user_id"), col("fin.n").as("n"),
            (col("fin.sum_cents") / 100.0).as("sum_value"))
          .orderBy(col("user_id"))
      }
    }
  }

  val q43Sql: String =
    """SELECT user_id, count(*) AS n,
      | CAST(sum(CAST(round("value"*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Stream-stream interval join: the error stream joined to the
   *  purchase stream on user + a 1-hour event-time range, both sides
   *  watermarked (bounding the join state buffers). With an
   *  AvailableNow drain the inner join emits every match, so the
   *  result equals the batch interval join (q18's inner form).
   *  Scoped to a user subset: per-row state-store traffic dominates
   *  the demo's cost. */
  def q58StreamStreamJoin(s: SparkSession, d: String): DataFrame = {
    val errs = Tables.eventsStream(s, d)
      .filter(col("event_type") === "error" && col("user_id") < 30)
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", "2 hours")
    val purchases = Tables.eventsStream(s, d)
      .filter(col("event_type") === "purchase" && col("user_id") < 30)
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val joined = errs.join(purchases,
      col("err_user") === col("p_user") &&
        col("p_ts") >= col("err_ts") &&
        col("p_ts") < col("err_ts") + expr("INTERVAL 1 HOUR"))
    // stream-state checkpoint I/O scales with shuffle partitions
    // (4 store instances per side per partition per batch): a narrow
    // stateful query wants FEW partitions
    withShuffle(s, 4) {
      drainToLocal(s, joined, "append") { t =>
        t.groupBy(col("err_id"))
          .agg(count(lit(1)).as("n_purchases_1h"))
          .orderBy(col("err_id"))
      }
    }
  }

  /** Streaming session windows: 30-minute-gap sessions per user via
   *  `session_window`, drained in complete mode (no watermark needed,
   *  so tail sessions emit — append mode would hold back every
   *  session newer than the watermark delay at end-of-stream). The
   *  batch oracle is gap-based sessionization with the SAME boundary
   *  semantics: session_window merges an event iff it lands strictly
   *  before prev_end = prev_ts + gap, i.e. a new session starts at
   *  diff >= 1800s. Scoped to a user subset — sessions-in-state scale
   *  with keys, and the narrow stateful query runs on few shuffle
   *  partitions (state-store I/O scales with partition count). */
  def q62StreamSession(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.eventsStream(s, d)
      .filter(col("user_id") < 50)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        (sum(Tables.cents(col("value"))) / 100.0).as("sum_value"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("sess_start"),
        col("n_events"), col("sum_value"))
    withShuffle(s, 4) {
      drainToLocal(s, agg, "complete")(
        _.orderBy(col("user_id"), col("sess_start")))
    }
  }

  val q62Sql: String =
    """SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
      | count(*) AS n_events,
      | CAST(sum(CAST(round("value"*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value
      |FROM (
      | SELECT user_id, ts, "value",
      |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx
      | FROM (
      |  SELECT user_id, event_id, ts, "value",
      |   CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) >= 1800.0
      |        THEN 1 ELSE 0 END AS new_sess
      |  FROM (
      |   SELECT user_id, event_id, ts, "value",
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |   FROM events WHERE user_id < 50) a) b) c
      |GROUP BY user_id, sess_idx ORDER BY user_id, sess_start""".stripMargin

  /** Streaming exact dedup — the continuous-ingest shape of q20/q21:
   *  each arriving document keeps only the first occurrence of its
   *  (lang, fingerprint) key via dropDuplicates state, and the
   *  retained stream is aggregated per language AFTER the drain
   *  (chaining a second stateful aggregate onto dropDuplicates in one
   *  streaming query is restricted; the post-drain batch aggregate is
   *  exact regardless of which duplicate won the race, because the
   *  count of distinct keys per lang is order-independent). State is
   *  keyed by a 128-bit fingerprint, not the text — bounded per-doc
   *  state at any corpus size. */
  def q63StreamDedup(s: SparkSession, d: String): DataFrame = {
    val deduped = Tables.documentsStream(s, d)
      .withColumn("fp", graft.ops.TextAnalysis.fingerprint(col("text")))
      .select(col("lang"), col("fp"))
      // NULL fps ride through the drain as ONE state row per lang
      // (dropDuplicates groups NULLs), so a lang whose documents are
      // all NULL-text still surfaces; the post-drain count(fp) skips
      // NULLs exactly like the oracle's count(DISTINCT) → (lang, 0)
      .dropDuplicates("lang", "fp")
    withShuffle(s, 8) {
      drainToLocal(s, deduped, "append") { t =>
        t.groupBy(col("lang")).agg(count(col("fp")).as("n_unique"))
          .orderBy(col("lang"))
      }
    }
  }

  val q63Sql: String =
    """SELECT lang,
      | count(DISTINCT md5(regexp_replace(trim(lower(text)), '[ \t\n\v\f\r]+', ' ', 'g'))) AS n_unique
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Streaming SLIDING windows (2-hour window, 1-hour slide): every
   *  event lands in two windows, completing the tumbling/sliding/
   *  session window-type matrix under the streaming gate. Complete
   *  mode for end-of-stream parity (as q34/q62). The oracle expands
   *  each event into its two covering window starts. */
  def q64StreamSliding(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.eventsStream(s, d)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("bucket"),
        col("event_type"), col("n"))
    withShuffle(s, 8) {
      drainToLocal(s, agg, "complete")(
        _.orderBy(col("bucket"), col("event_type")))
    }
  }

  val q64Sql: String =
    """SELECT bucket, event_type, count(*) AS n
      |FROM (
      | SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) - 3600*k AS bucket,
      |  event_type
      | FROM events, LATERAL (SELECT unnest(ARRAY[0, 1]) AS k) g) t
      |GROUP BY bucket, event_type ORDER BY bucket, event_type""".stripMargin

  val q58Sql: String =
    """SELECT e.event_id AS err_id, count(*) AS n_purchases_1h
      |FROM events e JOIN events p
      |  ON p.user_id = e.user_id AND p.event_type = 'purchase'
      | AND p.ts >= e.ts AND p.ts < e.ts + INTERVAL 1 HOUR
      |WHERE e.event_type = 'error' AND e.user_id < 30 AND p.user_id < 30
      |GROUP BY e.event_id ORDER BY err_id""".stripMargin

  final case class UserTypeStats(user_id: Long, n: Long, sum_cents: Long,
    n_types: Long)

  /** Spark 4 `transformWithState` processor: composite typed state —
   *  a ValueState running (n, sum) plus a MapState of per-event-type
   *  counts (the API tier above flatMapGroupsWithState's single
   *  GroupState blob: each state var is updated/read independently in
   *  the store, so a 100-type map doesn't rewrite the whole value on
   *  every row). Emits the running stats once per key per batch. */
  private class UserStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String, Long), UserTypeStats] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState, MapState}
    import org.apache.spark.sql.{Encoder, Encoders}
    @transient private var agg: ValueState[(Long, Long)] = _
    @transient private var types: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState("agg",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong): Encoder[(Long, Long)],
        TTLConfig.NONE)
      types = getHandle.getMapState("types",
        Encoders.STRING, Encoders.scalaLong: Encoder[Long], TTLConfig.NONE)
    }
    override def handleInputRows(user: Long, rows: Iterator[(Long, String, Long)],
        tv: TimerValues): Iterator[UserTypeStats] = {
      var (n, c) = if (agg.exists()) agg.get() else (0L, 0L)
      rows.foreach { case (_, tpe, cents) =>
        n += 1; c += cents
        // NULL event_type still counts toward (n, sum) but is excluded
        // from the type map — MapState keys must be non-null (the
        // MAP_KEY_NULL hazard Events.scala guards) and the oracle's
        // count(DISTINCT event_type) excludes nulls the same way
        if (tpe != null)
          types.updateValue(tpe,
            (if (types.containsKey(tpe)) types.getValue(tpe) else 0L) + 1L)
      }
      agg.update((n, c))
      Iterator.single(UserTypeStats(user, n, c, types.keys().size.toLong))
    }
  }

  /** q86: per-user event stats through `transformWithState` (Spark
   *  4's stateful API) on the RocksDB state store provider (required
   *  by the operator; scoped to this query and restored after).
   *  Append mode emits one running row per key per batch, so the
   *  final answer is the max-n row per user — batch-split-proof like
   *  q43, which gates the same totals through the older API. */
  def q86TransformWithState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val stream = Tables.eventsStream(s, d)
      .select(col("user_id"), col("event_type"),
        coalesce(Tables.cents(col("value")), lit(0L)).as("cents"))
      .as[(Long, String, Long)]
    val emitted = stream.groupByKey(_._1)
      .transformWithState(new UserStatsProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try withShuffle(s, 8) {
      drainToLocal(s, emitted, "append") { t =>
        t.groupBy(col("user_id"))
          .agg(max(struct(col("n"), col("sum_cents"), col("n_types"))).as("fin"))
          .select(col("user_id"), col("fin.n").as("n"),
            (col("fin.sum_cents") / 100.0).as("sum_value"),
            col("fin.n_types").as("n_types"))
          .orderBy(col("user_id"))
      }
    } finally prevProvider match {
      case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  val q86Sql: String =
    """SELECT user_id, count(*) AS n,
      | CAST(sum(CAST(round("value"*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value,
      | count(DISTINCT event_type) AS n_types
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q87: streaming CDC-upsert sink — the foreachBatch + MERGE shape
   *  every Delta/Iceberg streaming pipeline runs: each micro-batch is
   *  merged into a VERSIONED, BUCKET-PRUNED parquet snapshot
   *  ([[BucketedUpsertSink]]: write-new-version, never
   *  read-and-overwrite in place; only buckets the batch's keys touch
   *  are rewritten, untouched bucket files carry forward by
   *  reference), keeping the latest event per user. Latest-wins rides
   *  `MergeOps.latestPerKey` over touched-buckets ∪ batch, so the
   *  result is independent of how the source splits into batches AND
   *  of file arrival order — exactly the invariant a
   *  replayed/out-of-order CDC feed needs. Three staged source files
   *  + maxFilesPerTrigger=1 force a genuine multi-batch merge chain.
   *  Oracle: argmax per user over the batch table. */
  def q87StreamingUpsert(s: SparkSession, d: String): DataFrame = {
    val snapBase = InferOps.tmpPath("upsert_snap", d)
    val ev = Tables.events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("last_micros"),
      col("event_id").as("last_event_id"), col("event_type").as("last_type"))
    val stage = DurableIndex.stage(s, "upsert_src", d, "events", ev)
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    // payload struct order (last_micros, last_event_id, last_type):
    // max ts wins, unique event_id breaks ties deterministically
    val sink = new BucketedUpsertSink(s, snapBase, "user_id", "last_micros",
      numBuckets = 8)
    val q = stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink.merge(batch, id)
      ()
    }.trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    sink.snapshot().orderBy(col("user_id"))
  }

  val q87Sql: String =
    """SELECT user_id, epoch_us(ts) AS last_micros,
      | event_id AS last_event_id, event_type AS last_type
      |FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** q132: streaming top-k maintenance — the live leaderboard shape:
   *  per-user activity totals accumulate as streaming state
   *  (complete-mode aggregation), and each emission re-ranks to the
   *  current top-10 by (events desc, user_id) — the deterministic
   *  tie-break makes the final drain batch-split-independent, so the
   *  result equals the batch ranking no matter how the stream was
   *  micro-batched.
   *
   *  Scale: the stateful aggregate is user-dimension-sized (state
   *  stores scale with shuffle partitions, kept narrow per the q34
   *  rule); the rank runs on the emitted aggregate, not the stream.
   *  For unbounded key spaces the state side swaps to the q53
   *  space-saving sketch — here the exact form is the oracle-able
   *  one. */
  def q132StreamTopk(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.eventsStream(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(Tables.cents(col("value"))).as("sum_cents"))
    withShuffle(s, 8) {
      drainToLocal(s, counts, "complete")(
        _.orderBy(col("n_events").desc, col("user_id")).limit(10))
    }
  }

  val q132Sql: String =
    """SELECT user_id, count(*) AS n_events,
      | CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY user_id
      |ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin
}
