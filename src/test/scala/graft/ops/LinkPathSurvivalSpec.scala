package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Hand-sized fixtures for q170 (link prediction), q171 (bounded
  * Bellman-Ford), q173 (Kaplan-Meier life table) and q174
  * (Benjamini-Hochberg step-up) — the sf0.01 gate hash-compares the
  * full operators against DuckDB; these pin the factored primitives
  * on inputs small enough to verify by hand. */
class LinkPathSurvivalSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def sym(es: Seq[(Long, Long)]): Seq[(Long, Long)] =
    es.flatMap { case (a, b) => Seq((a, b), (b, a)) }

  // ----------------------------------------------------------------
  // q170 linkPredict
  // ----------------------------------------------------------------

  test("linkPredict: path graph scores the only wedge pair") {
    // 1-2-3: candidate (1,3) via middle vertex 2 (deg 2)
    val e = sym(Seq((1L, 2L), (2L, 3L))).toDF("src", "dst")
    val out = Graph.linkPredict(e, minCn = 1).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 1L)                    // cn
    assert(r.getLong(3) == 1L && r.getLong(4) == 1L) // deg_u, deg_v
    assert(r.getDouble(5) == 1.0)                 // jaccard = 1/(1+1-1)
    assert(r.getLong(6) == 500000000L)            // 1e9 div deg(2)=2
  }

  test("linkPredict: square graph, both diagonals, exact RA units") {
    // 1-2-3-4-1: diagonals (1,3) and (2,4) each share two deg-2 middles
    val e = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))).toDF("src", "dst")
    val out = Graph.linkPredict(e, minCn = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(5), r.getLong(6))).toMap
    assert(out.keySet == Set((1L, 3L), (2L, 4L)))
    // cn=2, jaccard = 2/(2+2-2) = 1.0, ra = 2 * (1e9 div 2)
    assert(out((1L, 3L)) == ((2L, 1.0, 1000000000L)))
    assert(out((2L, 4L)) == ((2L, 1.0, 1000000000L)))
  }

  test("linkPredict: adjacent pairs are excluded even when they wedge") {
    // triangle + tail: (1,2) are adjacent AND share neighbor 3 — the
    // anti-join must drop them; (2,4) is the only non-adjacent wedge
    val e = sym(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))).toDF("src", "dst")
    val out = Graph.linkPredict(e, minCn = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!out.contains((1L, 2L)) && !out.contains((1L, 3L)))
    assert(out == Set((1L, 4L), (2L, 4L)))
  }

  // ----------------------------------------------------------------
  // q171 cheapestPaths
  // ----------------------------------------------------------------

  test("cheapestPaths: additive costs along a path, bounded rounds") {
    // 1-2-3 with weight 5 each, plus a 12-cost shortcut 1-3:
    // node 3 takes the two-hop 10, not the direct 12
    val e = (sym(Seq((1L, 2L), (2L, 3L))).map { case (a, b) => (a, b, 5L) } ++
      sym(Seq((1L, 3L))).map { case (a, b) => (a, b, 12L) })
      .toDF("src", "dst", "w")
    val out = Graph.cheapestPaths(e, Seq(1L).toDF("node"), rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 5L, 3L -> 10L))
  }

  test("cheapestPaths: round bound leaves far nodes unreached") {
    // 8-node path, 2 rounds: only nodes within 2 edges appear
    val e = sym((1L to 7L).map(i => (i, i + 1))).map { case (a, b) => (a, b, 1L) }
      .toDF("src", "dst", "w")
    val out = Graph.cheapestPaths(e, Seq(1L).toDF("node"), rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("cheapestPaths: multi-seed takes the cheaper origin") {
    val e = sym((1L to 4L).map(i => (i, i + 1))).map { case (a, b) => (a, b, 3L) }
      .toDF("src", "dst", "w")
    val out = Graph.cheapestPaths(e, Seq(1L, 5L).toDF("node"), rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 3L, 3L -> 6L, 4L -> 3L, 5L -> 0L))
  }

  for ((tierName, tier) <- Seq("broadcast" -> Graph.EdgeTier(),
      "SMJ" -> Graph.EdgeTier(vertexCeiling = 0L))) {
    test(s"cheapestPaths in the $tierName tier: shortcut, round bound and multi-seed") {
      val e = (sym(Seq((1L, 2L), (2L, 3L))).map { case (a, b) => (a, b, 5L) } ++
        sym(Seq((1L, 3L))).map { case (a, b) => (a, b, 12L) })
        .toDF("src", "dst", "w")
      val out = Graph.cheapestPaths(e, Seq(1L).toDF("node"), rounds = 6, tier)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == Map(1L -> 0L, 2L -> 5L, 3L -> 10L))
      val path = sym((1L to 7L).map(i => (i, i + 1))).map { case (a, b) => (a, b, 1L) }
        .toDF("src", "dst", "w")
      val near = Graph.cheapestPaths(path, Seq(1L).toDF("node"), rounds = 2, tier)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(near == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
      val both = Graph.cheapestPaths(path, Seq(1L, 8L).toDF("node"), rounds = 6, tier)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(both == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
        5L -> 3L, 6L -> 2L, 7L -> 1L, 8L -> 0L))
    }

    test(s"hitsAuthorities in the $tierName tier: a hand-replayed round, equal carriers") {
      val e = Seq((1L, 1L), (1L, 2L), (2L, 2L)).toDF("cust", "part")
      val one = Graph.hitsAuthorities(e, rounds = 1, tier).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(one == Map(1L -> 333333333333L, 2L -> 666666666666L))
      val skew = (1L to 50L).map(c => (c, if (c % 5 == 0) 2L else 1L))
        .toDF("cust", "part")
      val narrow = Graph.hitsAuthorities(skew, rounds = 4, tier).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val wide = Graph.hitsAuthorities(skew, rounds = 4, tier, wideSums = true).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(narrow == wide && narrow.size == 2, s"$narrow vs $wide")
    }
  }

  // ----------------------------------------------------------------
  // q173 kmLifeTable
  // ----------------------------------------------------------------

  test("kmLifeTable: textbook product-limit values") {
    // durations: death@1, death@1, censor@2, death@3, censor@4
    // t=1: n=5 d=2 → S = 3/5 = 0.6
    // t=2: n=3 d=0 (censor) → S stays 0.6
    // t=3: n=2 d=1 → S = 0.6 * 1/2 = 0.3
    // t=4: n=1 d=0 → S stays 0.3
    val du = Seq((1L, 1L), (1L, 1L), (2L, 0L), (3L, 1L), (4L, 0L))
      .toDF("t_hours", "ev")
    val out = EventOps.kmLifeTable(du).orderBy("t_hours").collect()
    val byT = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5))).toMap
    assert(byT(1L)._1 == 5L && byT(1L)._2 == 2L && byT(1L)._3 == 0L)
    assert(math.abs(byT(1L)._4 - 0.6) < 1e-12)
    assert(byT(2L)._1 == 3L && math.abs(byT(2L)._4 - 0.6) < 1e-12)
    assert(byT(3L)._1 == 2L && math.abs(byT(3L)._4 - 0.3) < 1e-12)
    assert(byT(4L)._1 == 1L && math.abs(byT(4L)._4 - 0.3) < 1e-12)
  }

  test("kmLifeTable: everyone failing at the last time pins survival to 0") {
    val du = Seq((1L, 0L), (2L, 1L), (2L, 1L)).toDF("t_hours", "ev")
    val out = EventOps.kmLifeTable(du).orderBy("t_hours").collect()
    assert(out(0).getDouble(5) == 1.0) // censor-only row: factor 1
    assert(out(1).getLong(1) == 2L && out(1).getLong(2) == 2L)
    assert(out(1).getDouble(5) == 0.0) // guarded n==d row
  }

  // ----------------------------------------------------------------
  // q174 bhStepUp
  // ----------------------------------------------------------------

  test("bhStepUp: classic step-up discovery set and adjusted p-values") {
    // p = (.01, .02, .03, .5), m=4, alpha=.1 → crits .025/.05/.075/.1:
    // ranks 1..3 discovered; p_adj = (.04, .04, .04, .5)
    val t = Seq((0L, 0.01), (1L, 0.02), (2L, 0.03), (3L, 0.5))
      .toDF("segment", "p")
    val out = EventOps.bhStepUp(t, alpha = 0.1).orderBy("segment").collect()
    val rows = out.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3),
      r.getBoolean(4)))
    assert(rows(0) == ((0L, 1L, 0.04, true)))
    assert(rows(1) == ((1L, 2L, 0.04, true)))
    assert(rows(2) == ((2L, 3L, 0.04, true)))
    assert(rows(3) == ((3L, 4L, 0.5, false)))
  }

  test("bhStepUp: a late small crit rescues everything below it") {
    // p = (.04, .049), m=2, alpha=.1: crit1=.05, crit2=.1 — rank 2
    // qualifies (.049 <= .1) so BOTH are discoveries even though the
    // per-rank view of rank 1 (.04 <= .05) also holds; and with
    // p=(.06, .09): rank1 .06>.05 but rank2 .09<=.1 → both discovered
    val t = Seq((0L, 0.06), (1L, 0.09)).toDF("segment", "p")
    val out = EventOps.bhStepUp(t, alpha = 0.1).orderBy("segment").collect()
    assert(out.forall(_.getBoolean(4)))
  }

  test("bhStepUp: nothing qualifies, nothing discovered, p_adj capped") {
    val t = Seq((0L, 0.9), (1L, 0.95)).toDF("segment", "p")
    val out = EventOps.bhStepUp(t, alpha = 0.1).orderBy("segment").collect()
    assert(out.forall(!_.getBoolean(4)))
    assert(out.forall(_.getDouble(3) <= 1.0))
  }

  // ----------------------------------------------------------------
  // q175 sprtCurve
  // ----------------------------------------------------------------

  test("sprtCurve: cumulative counts, exact LLR arithmetic, decisions") {
    // hour 0: 2 users 1 conv; hour 1: 3 users 0 conv
    val entries = Seq((0L, 1L), (0L, 0L), (1L, 0L), (1L, 0L), (1L, 0L))
      .toDF("h", "converted")
    val k1 = 2.0; val k0 = -1.0; val a = 3.0
    val out = EventOps.sprtCurve(entries, k1, k0, a).orderBy("h").collect()
    assert(out.length == 2)
    // h=0: n=2 c=1 → llr = 1*2 + 1*(-1) = 1 → continue
    assert(out(0).getLong(1) == 2L && out(0).getLong(2) == 1L)
    assert(out(0).getDouble(3) == 1.0 && out(0).getString(4) == "continue")
    // h=1: n=5 c=1 → llr = 2 - 4 = -2 → continue; threshold -3 not hit
    assert(out(1).getLong(1) == 5L && out(1).getLong(2) == 1L)
    assert(out(1).getDouble(3) == -2.0 && out(1).getString(4) == "continue")
  }

  test("sprtCurve: crossing either Wald boundary flips the decision") {
    val conv = (0 until 4).map(i => (i.toLong, 1L))
    val non = (0 until 4).map(i => (10L + i, 0L))
    val outUp = EventOps.sprtCurve(conv.toDF("h", "converted"), 1.0, -1.0, 3.0)
      .orderBy("h").collect()
    assert(outUp.last.getString(4) == "accept_h1") // llr = 4 ≥ 3
    val outDn = EventOps.sprtCurve(non.toDF("h", "converted"), 1.0, -1.0, 3.0)
      .orderBy("h").collect()
    assert(outDn.last.getString(4) == "accept_h0") // llr = -4 ≤ -3
  }

  // ----------------------------------------------------------------
  // q177 labeledModularity
  // ----------------------------------------------------------------

  test("labeledModularity: two bridged triangles score the textbook 5/14") {
    // communities A={1,2,3}, B={4,5,6}: triangles + one bridge 3-4.
    // 2E=14, Σin=12, Σd² = 7²+7² = 98 → Q = (14·12−98)/196 = 5/14
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L))
    val lab = sym(und).map { case (a, b) =>
      (if (a <= 3) "A" else "B", if (b <= 3) "A" else "B")
    }.toDF("b_src", "b_dst")
    val r = Graph.labeledModularity(lab).collect().head
    assert(r.getLong(0) == 14L && r.getLong(1) == 12L && r.getLong(2) == 98L)
    assert(math.abs(r.getDouble(3) - 5.0 / 14.0) < 1e-15)
  }

  test("labeledModularity: a single community scores exactly zero") {
    val lab = sym(Seq((1L, 2L), (2L, 3L))).map(_ => ("A", "A"))
      .toDF("b_src", "b_dst")
    val r = Graph.labeledModularity(lab).collect().head
    // Σin = 2E and Σd² = (2E)² for one community → Q = 0 exactly
    assert(r.getDouble(3) == 0.0)
  }

  // ----------------------------------------------------------------
  // q176 hitsAuthorities
  // ----------------------------------------------------------------

  test("hitsAuthorities: one hand-replayed round on a tiny bipartite graph") {
    // c1 buys {p1, p2}, c2 buys {p2}:
    // a1 raw: p1 = M, p2 = 2M; Σ = 3M
    // a1 scaled: p1 = M·M div 3M = 333333333333, p2 = 666666666666
    val e = Seq((1L, 1L), (1L, 2L), (2L, 2L)).toDF("cust", "part")
    val out = Graph.hitsAuthorities(e, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 333333333333L, 2L -> 666666666666L))
  }

  test("hitsAuthorities: mass stays ~HitsM and ordering favors the hub-covered part") {
    val e = Seq((1L, 1L), (1L, 2L), (2L, 2L), (3L, 2L)).toDF("cust", "part")
    val out = Graph.hitsAuthorities(e, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // integer floor loses at most (#parts) units per rescale
    val tot = out.values.sum
    assert(tot <= Graph.HitsM && tot >= Graph.HitsM - 8L, s"mass drifted: $tot")
    assert(out(2L) > out(1L), "the 3-buyer part must out-rank the 1-buyer part")
  }

  test("hitsAuthorities: bigint sum tier equals the all-decimal carrier") {
    // round-15 §2.3 narrowing: every half-round sum after round 0's
    // auth leg rides bigint (post-rescale scores sum to ≤ HitsM
    // corpus-wide, so no group sum can exceed int64). The carriers
    // hold the SAME exact integers, so the frames must be identical —
    // including on a skewed graph where one part takes most buyers.
    val e = (1L to 50L).map(c => (c, if (c % 5 == 0) 2L else 1L))
      .toDF("cust", "part")
    val narrow = Graph.hitsAuthorities(e, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wide = Graph.hitsAuthorities(e, rounds = 4, wideSums = true).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(narrow == wide, s"carrier tiers diverged: $narrow vs $wide")
  }
}
