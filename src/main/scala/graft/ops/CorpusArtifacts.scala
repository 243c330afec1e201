package graft.ops

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.util.hashing.MurmurHash3

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** The one registry of per-corpus artifacts, each derived from ONE
  * provisioned table. Three kinds of entry:
  *  - memoized values (codebooks, exact baselines, row counts,
  *    checkpointed frames), [[memo]];
  *  - derived dirs (partitioned and z-ordered copies, index layouts,
  *    stream stages, chunk-built edges), [[dir]];
  *  - held RDDs (the attach tier's edge blocks), [[hold]]: a value
  *    together with the persisted RDD it reads, which stays in the block
  *    manager while the entry lives and is unpersisted when it drops.
  *
  * Validity rule: an artifact is valid exactly while the table it was
  * derived from has the same content key. The key of table `t` in
  * corpus dir `d` fingerprints the file listing of `d/t.parquet` —
  * path, length and modification time of every leaf file — read
  * through the Hadoop FileSystem (not Spark's listing cache), so it
  * costs metadata calls and no Spark job. [[Tables]] observes the key on
  * every read; when it differs from the last key seen for that table,
  * the registry, once, drops the table's memo entries, deletes its
  * derived dirs, unpersists its held RDDs and calls `refreshByPath` on
  * the table, so cached frames that plan-match a scan of it rebuild
  * from the new files. Within one key every entry is reused.
  *
  * Limit: a rewrite that keeps every file's name, length and
  * modification time goes undetected.
  */
object CorpusArtifacts {
  /** A derived dir: dropping its entry deletes it and its `<dir>_*`
    * siblings (files that must not sit inside it, such as the scaled
    * IVF layout's codebook). */
  private final case class Derived(dir: String)
  /** A held RDD: dropping its entry unpersists `rdd`. */
  private final case class Held(value: Any, rdd: RDD[_])

  /** Last key seen per (dir, table); guarded by `this`. */
  private val seen = scala.collection.mutable.HashMap.empty[(String, String), String]
  /** Memo values, [[Derived]] dirs and [[Held]] RDDs by (tag, dir, table, key). */
  private val entries = TrieMap.empty[(String, String, String, String), Any]

  private def path(d: String, table: String): String = s"$d/$table.parquet"

  /** Content key of table `table` in corpus dir `d`; an absent table
    * has the key of an empty listing (the read itself then fails). */
  def key(s: SparkSession, d: String, table: String): String = {
    val root = new Path(path(d, table))
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: a located status reads the local file's
    // owner and permissions through a forked shell (~5 ms a call)
    def leaves(p: Path): Seq[String] = fs.listStatus(p).toSeq.flatMap { f =>
      if (f.isDirectory) leaves(f.getPath)
      else Seq(s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}")
    }
    val listing = (if (fs.exists(root)) leaves(root) else Nil).sorted.mkString("\n")
    f"${MurmurHash3.stringHash(listing, 1)}%08x${MurmurHash3.stringHash(listing, 2)}%08x"
  }

  /** Record the current key of `table` in `d`, retiring what the
    * previous key derived if it changed; returns the key. */
  def observe(s: SparkSession, d: String, table: String): String = synchronized {
    val k = key(s, d, table)
    if (seen.put((d, table), k).exists(_ != k)) {
      drop { case (_, dd, t, _) => dd == d && t == table }
      s.catalog.refreshByPath(path(d, table))
    }
    k
  }

  /** Drop the entries matching `p`, unpersisting held RDDs; returns the
    * derived dirs deleted. */
  private def drop(p: ((String, String, String, String)) => Boolean): Seq[String] =
    entries.keys.filter(p).toSeq.flatMap(entries.remove).flatMap {
      case Derived(dir) =>
        val at = Paths.get(dir)
        val siblings = Option(at.getParent.toFile.listFiles()).toSeq.flatten
          .filter(_.getName.startsWith(s"${at.getFileName}_"))
        (dir +: siblings.map(_.getPath)).foreach(InferOps.deleteDir)
        Some(dir)
      case Held(_, rdd) =>
        rdd.unpersist(blocking = true)
        None
      case _ => None
    }

  /** `build`, computed once per content key of `table` in `d`. */
  def memo[T](s: SparkSession, tag: String, d: String, table: String)(build: => T): T =
    entries.getOrElseUpdate((tag, d, table, observe(s, d, table)), build).asInstanceOf[T]

  /** `build`'s value and the persisted RDD it reads, built once per
    * content key of `table` in `d`; the RDD stays persisted until the
    * entry drops (a key change, [[release]] or [[releaseAll]]). Of two
    * concurrent first builds one is kept, the other unpersisted. */
  def hold[T](s: SparkSession, tag: String, d: String, table: String)(build: => T)
      (rdd: T => RDD[_]): T = {
    val k = (tag, d, table, observe(s, d, table))
    val held = entries.getOrElse(k, {
      val fresh = { val v = build; Held(v, rdd(v)) }
      entries.putIfAbsent(k, fresh).fold[Any](fresh) { won =>
        fresh.rdd.unpersist(blocking = true)
        won
      }
    })
    held.asInstanceOf[Held].value.asInstanceOf[T]
  }

  /** The held RDDs as (tag, corpus dir, RDD id). */
  def held: Seq[(String, String, Int)] =
    entries.toSeq.collect { case ((tag, d, _, _), Held(_, rdd)) => (tag, d, rdd.id) }.sorted

  /** The scratch dir `tag` derived from `table` in `d`: a path suffixed
    * by the table's key, written by `write` while its `_SUCCESS` marker
    * is absent (a partial write is rewritten, never read). */
  def dir(s: SparkSession, tag: String, d: String, table: String)
      (write: String => Unit): String = {
    val k = observe(s, d, table)
    val p = InferOps.tmpPath(tag, d, suffix = s"_$k")
    val marker = Paths.get(p, "_SUCCESS")
    if (!Files.exists(marker)) {
      write(p)
      if (!Files.exists(marker)) Files.createFile(marker)
    }
    entries.put((tag, d, table, k), Derived(p))
    p
  }

  /** Forget `d`'s artifacts tagged `tags` now: memo entries dropped,
    * held RDDs unpersisted, derived dirs deleted (returned). */
  def release(d: String, tags: String*): Seq[String] =
    drop { case (t, dd, _, _) => dd == d && tags.contains(t) }

  /** Forget the artifacts tagged `tag` in every dir now. */
  def releaseAll(tag: String): Unit =
    drop { case (t, _, _, _) => t == tag }
}
