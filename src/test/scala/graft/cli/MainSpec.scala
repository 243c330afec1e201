package graft.cli

import java.nio.file.Files

import graft.SparkSuite
import graft.io.JdbcIO
import org.scalatest.funsuite.AnyFunSuite

/** CLI surface parity with the reference's cliff app (cli.py). */
class MainSpec extends AnyFunSuite with SparkSuite {

  test("arg parsing: globals + command options + positionals") {
    val o = Main.parseArgs(Seq("import", "--config", "c.ini", "--tab",
      "--truncate", "a.tsv", "srv...t"))
    assert(o.command == "import" && o.config.contains("c.ini"))
    assert(o.tab && o.truncate && o.positional == List("a.tsv", "srv...t"))
  }

  test("datestamp / timestamp filename templating (cli.py:77-82)") {
    val now = java.time.LocalDateTime.of(2026, 8, 12, 7, 5)
    assert(Main.stampFilename("out.csv", date = true, time = false, now) ==
      "out-2026.08.12.csv")
    assert(Main.stampFilename("out.csv", date = true, time = true, now) ==
      "out-2026.08.12.0705.csv")
    assert(Main.stampFilename("out.csv", date = false, time = false, now) == "out.csv")
    // dotted directory components are not an extension
    assert(Main.stampFilename("/srv/v1.2/report", date = true, time = false, now) ==
      "/srv/v1.2/report-2026.08.12")
  }

  test("unknown/incomplete options error instead of becoming positionals") {
    intercept[IllegalArgumentException](Main.parseArgs(Seq("import", "--truncat", "a", "b")))
    intercept[IllegalArgumentException](Main.parseArgs(Seq("import", "a", "b", "--config")))
    intercept[IllegalArgumentException](Main.run(spark, Main.parseArgs(Seq("import", "only-src"))))
  }

  test("import + export end-to-end through the CLI path") {
    import scala.jdk.CollectionConverters._
    val work = Files.createTempDirectory("graftcli")
    val url = s"jdbc:derby:$work/db;create=true"
    val ini = work.resolve("graft.ini")
    Files.writeString(ini, s"[servers]\ncli = $url\n")
    val src = getClass.getResource("/fixtures/basic.csv").getPath

    Main.run(spark, Main.parseArgs(Seq(
      "import", "--config", ini.toString, src, "cli...clitable")))
    assert(JdbcIO.readTable(spark, url, "clitable").count() == 3)

    val out = work.resolve("out.csv").toString
    Main.run(spark, Main.parseArgs(Seq(
      "export", "--config", ini.toString, "--unix", "cli...clitable", out)))
    // 5 physical lines: header + 3 records, one with a quoted
    // embedded newline
    val lines = Files.readAllLines(work.resolve("out.csv")).asScala
    assert(lines.size == 5 && lines.head.contains("string"))

    intercept[IllegalArgumentException](
      Main.run(spark, Main.parseArgs(Seq("frobnicate", "--config", ini.toString))))

    // a source that is ONLY a $SHEET selector must error with a sane
    // message, not AIOOBE (split('$') drops trailing empties)
    intercept[IllegalArgumentException](
      Main.run(spark, Main.parseArgs(Seq(
        "import", "--config", ini.toString, "$", "cli...t2"))))
  }

  test("a failed single-file import exits 1; a good one and glob/directory imports exit 0") {
    val work = Files.createTempDirectory("graftcliexit")
    val url = s"jdbc:derby:$work/db;create=true"
    val ini = work.resolve("graft.ini")
    Files.writeString(ini, s"[servers]\next = $url\n")
    def status(src: String, dst: String): Int =
      Main.run(spark, Main.parseArgs(Seq("import", "--config", ini.toString, src, dst)))
    assert(status(s"$work/missing.xlsx$$basic2", "ext...t1") == 1)
    assert(status(s"$work/missing.csv", "ext...t1") == 1)
    assert(!JdbcIO.tableExists(url, "t1"))
    assert(status(getClass.getResource("/fixtures/basic.csv").getPath, "ext...t2") == 0)
    // directory and glob imports keep swallowing per-file failures
    Files.writeString(work.resolve("bad.csv"), "")
    assert(status(work.toString, "ext") == 0)
    assert(status(s"$work/*.csv", "ext") == 0)
  }

  test("glob import creates one table per matching file (cli.py:140-144)") {
    val work = Files.createTempDirectory("graftcliglob")
    val url = s"jdbc:derby:$work/db;create=true"
    val ini = work.resolve("graft.ini")
    Files.writeString(ini, s"[servers]\nglb = $url\n")
    val src = java.nio.file.Paths.get(getClass.getResource("/fixtures/basic.csv").getPath)
    Files.copy(src, work.resolve("alpha.csv"))
    Files.copy(src, work.resolve("beta.csv"))
    Files.writeString(work.resolve("notcsv.txt"), "x\n1\n")

    Main.run(spark, Main.parseArgs(Seq(
      "import", "--config", ini.toString, s"$work/*.csv", "glb")))
    assert(JdbcIO.readTable(spark, url, "alpha").count() == 3)
    assert(JdbcIO.readTable(spark, url, "beta").count() == 3)
    assert(!JdbcIO.tableExists(url, "notcsv"))

    // explicit-table guard matches importDir semantics
    intercept[IllegalArgumentException](
      Main.run(spark, Main.parseArgs(Seq(
        "import", "--config", ini.toString, s"$work/*.csv", "glb...onetable"))))

    // --truncate flows through the glob loop (cli.py:143 passes it):
    // re-importing must replace, not append
    Main.run(spark, Main.parseArgs(Seq(
      "import", "--truncate", "--config", ini.toString, s"$work/*.csv", "glb")))
    assert(JdbcIO.readTable(spark, url, "alpha").count() == 3)

    // a wildcard in a directory component errors loudly, never a
    // silent empty import
    intercept[IllegalArgumentException](
      Main.run(spark, Main.parseArgs(Seq(
        "import", "--config", ini.toString, s"$work*/x.csv", "glb"))))

    // brace alternation routes to the glob branch (table per file),
    // never to a silent Hadoop-glob merge through importFile
    Main.run(spark, Main.parseArgs(Seq(
      "import", "--truncate", "--config", ini.toString, s"$work/{alpha,beta}.csv", "glb")))
    assert(JdbcIO.readTable(spark, url, "alpha").count() == 3)
    assert(JdbcIO.readTable(spark, url, "beta").count() == 3)

    // a LITERAL filename containing glob chars is a file first
    // (reference checks isfile before globbing, cli.py:131); such
    // files read in splittable mode, so newline-free content only
    Files.writeString(work.resolve("lit[1].csv"), "id,name\n1,a\n2,b\n3,c\n")
    Main.run(spark, Main.parseArgs(Seq(
      "import", "--config", ini.toString, s"$work/lit[1].csv", "glb...litbracket")))
    assert(JdbcIO.readTable(spark, url, "litbracket").count() == 3)
  }
}
