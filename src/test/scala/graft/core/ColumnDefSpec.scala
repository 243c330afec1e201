package graft.core

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** Lattice semantics per reference diepy/core.py:458-544 and the
  * FIXTURES.md basic.csv expectations. */
class ColumnDefSpec extends AnyFunSuite {

  private def fold(vals: Seq[String], name: String = "c"): ColumnDef =
    vals.foldLeft(ColumnDef(name))(_ sampleValue _)

  test("basic.csv gauntlet columns infer per FIXTURES.md §1.1") {
    val string = fold(Seq("hello", "tricky with the spaces and the, commas", "return\n"))
    assert(string.settledType == "text" && !string.nullable)
    assert(string.length == 39 || string.length == 38) // max len incl newline
    assert(string.ddlType == "VARCHAR(50)")

    val int = fold(Seq("1", "2", "3"))
    assert(int.settledType == "int" && int.ddlType == "SMALLINT" && !int.nullable)
    assert(int.minValue == 0) // reference quirk: min starts at 0

    val float = fold(Seq("2.83", "4.2435", "135.134"))
    assert(float.settledType == "float" && float.ddlType == "FLOAT")

    val dt = fold(Seq("2013-10-11 13:04:05", "2000-12-12 14:23:45.132500", ""))
    assert(dt.settledType == "datetime" && dt.nullable && dt.ddlType == "TIMESTAMP")

    val bool = fold(Seq("0", "1", ""))
    assert(bool.settledType == "int" && bool.ddlType == "SMALLINT" && bool.nullable)
    assert(bool.minValue == 0 && bool.maxValue == 1)

    val time = fold(Seq("12:01:02", "", ""))
    assert(time.settledType == "time" && time.nullable && time.ddlType == "TIME")

    val date = fold(Seq("2013-10-11", "2013-12-05", ""))
    assert(date.settledType == "date" && date.nullable && date.ddlType == "DATE")
  }

  test("int followed by float demotes to TEXT, not float (core.py:493-494)") {
    assert(fold(Seq("1", "1.5")).settledType == "text")
  }

  test("float followed by int stays float") {
    assert(fold(Seq("1.5", "2")).settledType == "float")
  }

  test("date demotes to text on conflict; time/datetime never demote (core.py:489-494)") {
    assert(fold(Seq("2013-10-11", "abc")).settledType == "text")
    assert(fold(Seq("12:01:02", "abc")).settledType == "time")
    assert(fold(Seq("2013-10-11 13:04:05", "abc")).settledType == "datetime")
  }

  test("all-empty column defaults to text, nullable (core.py:513-514)") {
    val c = fold(Seq("", "", ""))
    assert(c.settledType == "text" && c.nullable && c.ddlType == "VARCHAR(50)")
  }

  test("int tier boundaries (emit, core.py:516-521 + documented divergence)") {
    assert(fold(Seq("0", "1")).ddlType == "SMALLINT")           // bool-as-int
    assert(fold(Seq("5", "31000")).ddlType == "SMALLINT")
    assert(fold(Seq("5", "32768")).ddlType == "INT")
    assert(fold(Seq("5", "3000000000")).ddlType == "BIGINT")    // divergence: 64-bit aware
  }

  test("text width tiers (core.py:530-544)") {
    def ofLen(n: Int) = fold(Seq("x" * n))
    assert(ofLen(49).ddlType == "VARCHAR(50)")
    assert(ofLen(50).ddlType == "VARCHAR(100)")
    assert(ofLen(199).ddlType == "VARCHAR(200)")
    assert(ofLen(999).ddlType == "VARCHAR(1000)")
    assert(ofLen(3999).ddlType == "VARCHAR(4000)")
    assert(ofLen(4000).ddlType == "CLOB")
  }

  test("header sanitation: BOM strip + unnamedN (core.py:443-448)") {
    assert(ColumnDef.sanitizeHeaders(Seq("﻿a", "", "b", null, " c ")) ==
      Seq("a", "unnamed1", "b", "unnamed2", "c"))
  }

  test("duplicate headers are suffixed so no column's data is lost") {
    assert(ColumnDef.sanitizeHeaders(Seq("id", "id", "val", "id")) ==
      Seq("id", "id_2", "val", "id_3"))
  }

  test("sanitized headers are globally unique even when suffixes collide with real headers") {
    // a,a,a_2: the generated a_2 must not collide with the literal one
    val out = ColumnDef.sanitizeHeaders(Seq("a", "a", "a_2"))
    assert(out.distinct == out, s"duplicate names survived: $out")
    assert(out.head == "a" && out.contains("a_2"))
    // idempotent on already-clean names (inference re-sanitizes)
    assert(ColumnDef.sanitizeHeaders(out) == out)
    // unnamed<N> colliding with a literal unnamed1 header
    val out2 = ColumnDef.sanitizeHeaders(Seq("", "unnamed1"))
    assert(out2.distinct == out2, s"duplicate names survived: $out2")
  }

  test("digit strings beyond Long range saturate instead of throwing (python int parity)") {
    val c = fold(Seq("5", "12345678901234567890123"))
    assert(c.settledType == "int" && c.ddlType == "BIGINT")
    assert(c.maxValue == Long.MaxValue)
    val n = fold(Seq("-99999999999999999999999"))
    assert(n.settledType == "int" && n.minValue == Long.MinValue)
  }

  test("merge is a commutative, associative monoid with identity (randomized)") {
    val rnd = new scala.util.Random(42)
    val pool = Seq("2013-10-11", "12:01:02", "2013-10-11 13:04:05", "abc", "",
      "x" * 60, "1.5", "-3", "40000", "7")
    def randCol(): ColumnDef =
      (0 until rnd.nextInt(8)).map(_ => pool(rnd.nextInt(pool.size)))
        .foldLeft(ColumnDef("c"))(_ sampleValue _)
    for (_ <- 0 until 500) {
      val (a, b, c) = (randCol(), randCol(), randCol())
      assert(a.merge(b) == b.merge(a))
      assert(a.merge(b).merge(c) == a.merge(b.merge(c)))
      assert(a.merge(ColumnDef("c")) == a)
    }
  }

  test("merge of partition folds equals sequential fold for homogeneous columns") {
    val vals = Seq("1", "2", "", "40000", "3")
    val (l, r) = vals.splitAt(2)
    val seq = fold(vals)
    val merged = fold(l).merge(fold(r))
    assert(seq == merged)
  }

  // the accumulators inference can reach: folds over sampled cells of
  // every type, and any field combination with min <= 0 <= max (the
  // int range starts at 0, a reference quirk) and a length >= 0
  private val cell = Gen.oneOf("", "0", "1", "-7", "31000", "99999", "9223372036854775807",
    "2.5", "-1e3", "2013-10-11", "12:01:02", "2013-10-11 13:04:05", "abc",
    "a much longer text value that crosses the fifty character width tier")
  private val folded = Gen.listOf(cell).map(vs => fold(vs))
  private val anyDef = for {
    t <- Gen.oneOf("", "int", "float", "date", "time", "datetime", "text")
    nullable <- Gen.oneOf(false, true)
    length <- Gen.choose(0, 5000)
    lo <- Gen.choose(Long.MinValue, 0L)
    hi <- Gen.choose(0L, Long.MaxValue)
  } yield ColumnDef("c", t, nullable, length, lo, hi)
  private val defs = Gen.oneOf(folded, anyDef)

  private def holds(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(1000), p)
    assert(r.passed, r.status)
  }

  test("merge is commutative") {
    holds(Prop.forAll(defs, defs)((a, b) => a.merge(b) == b.merge(a)))
  }

  test("merge is associative") {
    holds(Prop.forAll(defs, defs, defs)((a, b, c) =>
      a.merge(b).merge(c) == a.merge(b.merge(c))))
  }

  test("ColumnDef(name) is the identity of merge") {
    holds(Prop.forAll(defs)(a => ColumnDef("c").merge(a) == a && a.merge(ColumnDef("c")) == a))
  }
}
