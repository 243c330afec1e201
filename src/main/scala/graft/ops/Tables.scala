package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provisioned parquet tables (TESTDATA.md) —
  * the only readers of them, so every read observes the table's
  * content key ([[CorpusArtifacts]]). */
object Tables {

  /** The session whose reads are memoized; guarded by `this`. */
  private var reader: SparkSession = _

  /** Table `name` of corpus `dir`, read once per content key: a read
    * lists the files and infers the parquet schema (~100 ms at sf0.01),
    * and a frame planned before plans faster than a fresh one. The key
    * is still observed on every call, so a table rewritten in place is
    * read anew. A frame never crosses or outlives its session: another
    * session's first read drops every memoized frame. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    def read() = spark.read.parquet(s"$dir/$name.parquet")
    synchronized {
      if (reader ne spark) {
        CorpusArtifacts.releaseAll("read")
        reader = spark
      }
    }
    val df = CorpusArtifacts.memo(spark, "read", dir, name)(read())
    // a concurrent session may have filled the entry in between
    if (df.sparkSession eq spark) df else read()
  }

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Normalizes a `ts` column to micros TimestampType regardless of how
    * the provisioned parquet spelled it: raw int64 nanos (under
    * nanosAsLong), TIMESTAMP(MICROS, isAdjustedToUTC=false) — which
    * Spark surfaces as TimestampNTZType and a later re-provision of
    * events.parquet actually used — or native TimestampType. The NTZ
    * cast is value-preserving because every graft session pins
    * spark.sql.session.timeZone=UTC, so the stored wall-clock micros
    * are reinterpreted as the same UTC instant DuckDB reads. Anything
    * else fails fast at the source instead of surfacing later as an
    * unexplained oracle/type error. Integer division for the nanos
    * leg: ns epochs (~1.7e18) overflow double precision. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case TimestampType => df
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case other => throw new IllegalStateException(s"unexpected ts type $other")
  }

  /** `events.parquet` carries a nanosecond-precision timestamp
    * (TIMESTAMP(NANOS)), which Spark's vectorized parquet reader does
    * not map to TimestampType. Read with the documented escape hatch
    * (`spark.sql.legacy.parquet.nanosAsLong`, SPARK-34377) and
    * normalize via [[normalizeTs]]. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // set preemptively: only affects TIMESTAMP(NANOS) parquet columns,
    // and avoids a noisy failed-job fallback cycle
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(spark, dir, "events"))
  }

  /** Streaming twin of [[events]]: same nanos normalization over a
    * readStream file source. The `{name}` glob matches ONLY the exact
    * file (FileStreamSource needs a dir/glob; a bare `name*` prefix
    * would silently pull in stray siblings like events.parquet.bak). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(spark, dir, "events")
    normalizeTs(spark.readStream.schema(raw.schema).parquet(s"$dir/{events.parquet}"))
  }

  /** Streaming twin of [[documents]] — file source over the exact
    * parquet file (same glob trick as eventsStream). */
  def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "documents")
    spark.readStream.schema(raw.schema).parquet(s"$dir/{documents.parquet}")
  }

  /** Money-exact aggregation helper: doubles → integral cents, so sums
   *  are order-independent and engine-independent (used by every
   *  oracle-compared revenue aggregate). */
  def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * 100).cast(LongType)
}
