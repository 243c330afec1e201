package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [nameFilterCsv]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // optional comma-separated query-name filter for fast local
    // iteration (the driver always runs the full suite: 2 args)
    val only: Option[Set[String]] =
      if (args.length == 3) Some(args(2).split(',').map(_.trim).toSet) else None
    // fail fast on a typo'd filter name: silently running zero
    // queries would read as "no failures" in a local iteration loop
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        System.err.println(s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
        sys.exit(2)
      }
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // name -> exception for every query that crashed, dumped as
    // errors.json alongside the outputs: a crashed query must be an
    // explicit red entry in the round artifact, not a silent absence
    // (round 5 lost 15 queries invisibly to a testdata type change)
    var errors = List.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // remove any stale output FIRST: a query that fails must leave
      // no previous round's parquet behind to be graded as current
      val target = Paths.get(s"$outDir/$name")
      if (Files.exists(target)) {
        scala.util.Using.resource(Files.walk(target)) {
          _.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.delete(p))
        }
      }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors ::= name -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"
      }
      // the q61 gate memoizes its exact baselines + a checkpointed
      // corpus-sized shingle frame for reuse across REPEATED gate
      // runs (Bench's min-of-N); Verify evaluates each query once, so
      // holding those pinned blocks for the rest of the suite is pure
      // heap pressure at the large derived octaves — release them
      if (name.startsWith("q61"))
        graft.ops.CorpusArtifacts.release(sfDir, graft.ops.RecallGates.Artifacts: _*)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of EVERY registered query, so the compare step can
    // flag queries that crashed (missing output) instead of silently
    // shrinking coverage
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.toSeq
        .filter(n => only.forall(_.contains(n)))
        .sorted.map(q).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.map(_._1).sorted.mkString(", ")}")
    graft.ops.InferOps.cleanupScratch()
    spark.stop()
  }
}
