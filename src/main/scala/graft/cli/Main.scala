package graft.cli

import graft.core.ServerRegistry
import graft.io.Engine
import org.apache.spark.sql.SparkSession

/**
 * Command-line surface mirroring the reference's cliff app
 * (reference: diepy/cli.py:17-149, setup.py:26-33):
 *
 *   graft import [--tab] [--config F] [--truncate] SRC DEST
 *   graft export [--tab] [--config F] [--unix] [--zip]
 *                [--datestamp|--timestamp] SRC [DEST]
 *
 * SRC/DEST addressing and option semantics follow the reference:
 * `import` takes a file/directory/glob and a dotted db path; `export`
 * takes a dotted db path and a destination file (defaulting to
 * `<table>.csv` in the cwd, cli.py:70). `--datestamp`/`--timestamp`
 * template the filename (cli.py:77-82).
 */
object Main {

  final case class Opts(
      command: String = "",
      config: Option[String] = None,
      tab: Boolean = false,
      truncate: Boolean = false,
      unix: Boolean = false,
      zip: Boolean = false,
      datestamp: Boolean = false,
      timestamp: Boolean = false,
      positional: List[String] = Nil)

  def parseArgs(args: Seq[String]): Opts = {
    def loop(rest: List[String], acc: Opts): Opts = rest match {
      case Nil => acc
      case "--config" :: v :: t => loop(t, acc.copy(config = Some(v)))
      case "--tab" :: t => loop(t, acc.copy(tab = true))
      case "--truncate" :: t => loop(t, acc.copy(truncate = true))
      case "--unix" :: t => loop(t, acc.copy(unix = true))
      case "--zip" :: t => loop(t, acc.copy(zip = true))
      case "--datestamp" :: t => loop(t, acc.copy(datestamp = true))
      case "--timestamp" :: t => loop(t, acc.copy(timestamp = true))
      case "--config" :: Nil =>
        throw new IllegalArgumentException("--config requires a value")
      case bad :: _ if bad.startsWith("--") =>
        throw new IllegalArgumentException(s"unknown option '$bad'")
      case p :: t => loop(t, acc.copy(positional = acc.positional :+ p))
    }
    args.toList match {
      case cmd :: rest => loop(rest, Opts(command = cmd))
      case Nil => Opts()
    }
  }

  /** `name-YYYY.MM.DD[.HHMM].ext` (cli.py:55-56, 77-82). Splits the
    * extension off the BASENAME only — a dotted directory component
    * must not be touched. */
  def stampFilename(path: String, date: Boolean, time: Boolean,
      now: java.time.LocalDateTime = java.time.LocalDateTime.now()): String = {
    if (!date && !time) return path
    val slash = path.lastIndexOf('/')
    val dot = path.lastIndexOf('.')
    val (base, ext) =
      if (dot > slash) (path.substring(0, dot), path.substring(dot)) else (path, "")
    val d = f"${now.getYear}%04d.${now.getMonthValue}%02d.${now.getDayOfMonth}%02d"
    val stamp = if (time) d + f".${now.getHour}%02d${now.getMinute}%02d" else d
    s"$base-$stamp$ext"
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toSeq)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val status = try run(spark, opts) finally spark.stop()
    if (status != 0) sys.exit(status)
  }

  /** Runs one command; returns the process exit status: 1 when a
    * single-file import fails (the engine returned `None`), else 0.
    * Directory and glob imports keep swallowing per-file failures. */
  def run(spark: SparkSession, opts: Opts): Int = {
    // validate the command line BEFORE loading config/engine so arg
    // errors surface as usage messages, not config failures
    val validated: Either[(String, String), String] = opts.command match {
      case "import" => opts.positional match {
        case s :: t :: _ => Left((s, t))
        case _ => throw new IllegalArgumentException(
          "usage: graft import [options] SRC SERVER[.DB[.SCHEMA[.TABLE]]]")
      }
      case "export" => Right(opts.positional.headOption.getOrElse(
        throw new IllegalArgumentException(
          "usage: graft export [options] SERVER.DB.SCHEMA.TABLE [DEST] (4-part dbpath; empty segments keep defaults, e.g. server...table)")))
      case other =>
        throw new IllegalArgumentException(s"unknown command '$other' (import|export)")
    }
    val engine = new Engine(spark, ServerRegistry.resolve(opts.config))
    val delim = if (opts.tab) Some("\t") else None
    validated match {
      case Left((src, dst)) =>
        // file/dir checks come FIRST, glob last — exactly the
        // reference's dispatch (cli.py:124-144): the $SHEET selector
        // is stripped for the existence checks AND the directory
        // branch walks the STRIPPED path (the full src keeps the
        // selector only on the single-file route)
        // takeWhile, not split: split('$') on a bare "$" drops the
        // trailing empty and returns an EMPTY array → AIOOBE
        val plain = src.takeWhile(_ != '$')
        if (plain.isEmpty)
          throw new IllegalArgumentException(s"empty source path in '$src'")
        val f = new java.io.File(plain)
        def single(): Int =
          if (engine.importFile(src, dst, delim, opts.truncate).isDefined) 0 else 1
        if (f.isDirectory) { engine.importDir(plain, dst, delim, opts.truncate); 0 }
        else if (f.isFile) single()
        else if (src.exists("*?[{}".contains(_))) {
          engine.importGlob(src, dst, delim, opts.truncate); 0
        } else single()
      case Right(src) =>
        val table = graft.core.DbPath.parse(src).table
          .getOrElse(throw new IllegalArgumentException("no table in path"))
        val dst0 = opts.positional.lift(1).getOrElse(s"$table.csv")
        // reference strips a .gz suffix BEFORE stamping (cli.py:71-82)
        // so the stamp lands inside the real extension, not after .gz
        val gz = opts.zip || dst0.endsWith(".gz")
        val dstBase = dst0.stripSuffix(".gz")
        val dst = stampFilename(dstBase, opts.datestamp || opts.timestamp, opts.timestamp)
        engine.exportTable(src, dst, unix = opts.unix, gzip = gz)
        0
    }
  }
}
