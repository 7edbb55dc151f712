package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Graph

/** Iterative PageRank (q112's operator): integer math makes every
  * expectation EXACT, so these pin values, not tolerances.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("directed 3-cycle is rank-stable at init mass") {
    // A→B→C→A: every node outdeg 1, so each round moves the full mass one
    // hop — base + 85% of init = init (for scale/n divisible cases this is
    // the exact fixed point of the damped update)
    val edges = Seq(("A", "B"), ("B", "C"), ("C", "A")).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 3)
      .as[(String, Long)].collect().toMap
    // init = 1e9/3 = 333333333; update = 5e7 + 85*333333333/100
    //      = 50000000 + 283333333 = 333333333 (exactly init again)
    assert(r == Map("A" -> 333333333L, "B" -> 333333333L, "C" -> 333333333L))
  }

  test("symmetric star concentrates rank in the hub — exact one-round values") {
    val leaves = Seq("L1", "L2", "L3", "L4")
    val edges = (leaves.map(l => (l, "H")) ++ leaves.map(l => ("H", l)))
      .toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 1)
      .as[(String, Long)].collect().toMap
    // n=5, init=2e8, base=3e7; hub gets 85%*(4 leaves * 2e8/1)/100,
    // each leaf gets 85%*(2e8/4)/100
    assert(r("H") == 30000000L + 85L * (4L * 200000000L) / 100L)
    assert(leaves.forall(l => r(l) == 30000000L + 85L * (200000000L / 4L) / 100L))
    assert(r("H") > r("L1"))
  }

  test("node with no in-edges keeps exactly the teleport base") {
    // D→A only: D is a source node; after one round its rank must be the
    // base term alone (left join + coalesce path), not drop out of the
    // result
    val edges = Seq(("A", "B"), ("B", "A"), ("D", "A")).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 1)
      .as[(String, Long)].collect().toMap
    assert(r.keySet == Set("A", "B", "D"))
    assert(r("D") == (1000000000L * 15L / 100L) / 3L)
    // A receives from both B and D; B only from A
    assert(r("A") > r("B"))
  }

  test("triangleStats: K4 minus one edge, hand-counted") {
    // nodes {1,2,3,4}, all edges except (3,4): 5 edges, triangles
    // {1,2,3} and {1,2,4}; degrees 3,3,2,2 -> wedges 3+3+1+1 = 8;
    // cc = 3*2*1e6 div 8 = 750000
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (4L, 2L))
      .toDF("a", "b")
    val r = Graph.triangleStats(edges)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq((4L, 5L, 8L, 2L, 750000L)))
  }

  test("20-round run: checkpointing changes no value and bounds plan depth") {
    // star + cycle mix so ranks keep moving for many rounds
    val edges = (Seq(("A", "B"), ("B", "C"), ("C", "A"), ("C", "D"),
      ("D", "A")) ++ Seq("A", "B", "C", "D").map(n => (n, "H")) ++
      Seq(("H", "A"))).toDF("src", "dst")
    // the ranks, and the longest plan among the queries the run executes
    // (its rounds and the materialization of the ranks it hands back)
    def run(every: Int): (DataFrame, Int) = {
      var ranks: DataFrame = null
      val longest = queriesRun {
        ranks = Graph.pageRank(edges, iters = 20, checkpointEvery = every)
      }.map(_.optimizedPlan.toString.length).max
      (ranks, longest)
    }
    val (plainDf, plainLen) = run(1000)
    val (ck, ckLen) = run(3)
    val plain = plainDf.as[(String, Long)].collect().toMap
    assert(ck.as[(String, Long)].collect().toMap == plain,
      "localCheckpoint must truncate lineage, never change a value")
    // bounded plan: the checkpointed variant's lineage reaches back at most
    // checkpointEvery rounds (plus cached-relation definitions), while the
    // uncheckpointed one embeds the full 20-round join tree — require a
    // decisive (not cosmetic) reduction
    assert(ckLen < plainLen / 3,
      s"plan depth must stay bounded: checkpointed $ckLen chars vs " +
        s"uncheckpointed $plainLen")
  }

  test("empty edges fail fast with a clear message") {
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    val e = intercept[IllegalArgumentException](Graph.pageRank(empty))
    assert(e.getMessage.contains("non-empty"))
  }

  test("triangleStats: dedups multi-edges, drops self-loops, " +
    "normalizes direction") {
    // (1,2) appears 3 times in mixed order + a self-loop; plus chain 2-3:
    // 2 edges, 1 wedge at node 2, 0 triangles
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 1L), (2L, 3L))
      .toDF("a", "b")
    val r = Graph.triangleStats(edges)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq((3L, 2L, 1L, 0L, 0L)))
  }

  test("commonNeighborPairs: 4-cycle diagonals score cn=2, jaccard 1e6; " +
    "linked pairs never appear; tie order is (cn DESC, u, v)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val got = Graph.commonNeighborPairs(edges, minCommon = 2, topK = 10)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // diagonals (1,3) and (2,4): two shared neighbors each, all degs 2,
    // jaccard = 2 / (2 + 2 - 2) = 1
    assert(got == Seq((1L, 3L, 2L, 2L, 2L, 1000000L),
      (2L, 4L, 2L, 2L, 2L, 1000000L)))
  }

  test("commonNeighborPairs: hubSample estimator — identical to exact " +
    "when no hub is over cap; over-cap hub pairs carry the " +
    "Horvitz-Thompson weight instead of vanishing") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val exact = Graph.commonNeighborPairs(edges, minCommon = 2, topK = 10)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val sampled = Graph.commonNeighborPairs(edges, minCommon = 2,
        topK = 10, hubSample = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(sampled == exact, "no over-cap hub: modes must agree exactly")
    // hub 100 touches 1..5 (deg 5 > cap 4). With s = 4 the retained
    // pairs are C(4,2) = 6 of the C(5,2) = 10 wedges, each weighted
    // 10/6 — the estimated TOTAL wedge mass is 6 * 10/6 = 10, the true
    // count. Per-pair estimates round(10/6) = 2; drop mode returns 0.
    val hub = (1L to 5L).map(n => (100L, n)).toDF("a", "b")
    assert(Graph.commonNeighborPairs(hub, minCommon = 1, topK = 100,
      maxDegree = 4).count() == 0)
    val est = Graph.commonNeighborPairs(hub, minCommon = 1, topK = 100,
        maxDegree = 4, hubSample = 4)
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toSeq
    assert(est.size == 6, s"C(4,2) sampled pairs, got ${est.size}")
    assert(est.forall(_._3 == 2L), s"each pair rounds 10/6 -> 2: $est")
    // leaf degs are 1, so the rounded estimate (2) exceeds the true
    // union — jaccard reads NULL rather than dividing by zero
    assert(est.forall(_._6.isEmpty), s"jaccard must be NULL here: $est")
  }

  test("commonNeighborPairs: hubSample HT weights preserve total wedge " +
    "mass (unbiasedness under the fixed hash order); threshold applies " +
    "to the ROUNDED estimate; hubSample > maxDegree is rejected") {
    // hub 100 touches 1..6 (deg 6 > cap 3). s = 3 keeps C(3,2) = 3
    // pairs, each weighted C(6,2)/C(3,2) = 15/3 = 5 — total estimated
    // wedge mass 3*5 = 15 = C(6,2), the TRUE wedge count: the HT
    // inverse is mass-preserving whichever 3 neighbors the (fixed,
    // deterministic) hash ranking retains.
    val hub6 = (1L to 6L).map(n => (100L, n)).toDF("a", "b")
    val est = Graph.commonNeighborPairs(hub6, minCommon = 1, topK = 100,
        maxDegree = 3, hubSample = 3)
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toSeq
    assert(est.size == 3, s"C(3,2) sampled pairs, got ${est.size}")
    assert(est.map(_._3).sum == 15L,
      s"sum of estimates must equal the true wedge count C(6,2)=15: $est")
    // rounding-boundary contract: deg 5 hub, s = 4 -> cn_est = 10/6 =
    // 1.67 per pair, which ROUNDS to 2. minCommon = 2 must keep those
    // pairs (threshold and reported cn agree); filtering the raw
    // estimate would drop rows that REPORT cn = 2.
    val hub5 = (1L to 5L).map(n => (100L, n)).toDF("a", "b")
    val boundary = Graph.commonNeighborPairs(hub5, minCommon = 2,
        topK = 100, maxDegree = 4, hubSample = 4)
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toSeq
    assert(boundary.size == 6 && boundary.forall(_._3 == 2L),
      s"round-then-filter must keep the cn=2 boundary pairs: $boundary")
    // a sample wider than the cap would keep ALL pairs of a hub with
    // maxDegree < deg <= hubSample yet still down-weight them (biased
    // low) — rejected at the door
    val ex = intercept[IllegalArgumentException] {
      Graph.commonNeighborPairs(hub6, maxDegree = 3, hubSample = 4)
    }
    assert(ex.getMessage.contains("maxDegree"))
  }

  test("commonNeighborPairs: maxDegree removes hub-vouched candidates") {
    // hub 100 touches 1,2,3; no other edges. All co-neighbor pairs exist
    // only through the hub (deg 3).
    val edges = Seq((100L, 1L), (100L, 2L), (100L, 3L)).toDF("a", "b")
    val capped = Graph.commonNeighborPairs(edges, minCommon = 1,
      topK = 10, maxDegree = 2).count()
    assert(capped == 0)
    val open = Graph.commonNeighborPairs(edges, minCommon = 1,
      topK = 10, maxDegree = 3)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(open == Seq((1L, 2L, 1L, 1L, 1L, 1000000L),
      (1L, 3L, 1L, 1L, 1L, 1000000L), (2L, 3L, 1L, 1L, 1L, 1000000L)))
  }

  test("kCore: cascading peel reaches the fixpoint, core_deg is the " +
    "WITHIN-core degree") {
    // K4 on 1..4; pendant chain 4-5, 5-6. k=3: one peel round removes 5
    // AND 6 together (both deg < 3 in the same census), then a second
    // pass certifies the fixpoint — which is why maxRounds=1 below still
    // throws. Core = K4 with in-core degree 3; node 4's raw degree was
    // 4, so the output degree must be the core's, not the input's.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val got = Graph.kCore(edges, k = 3)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    // k above the max core → empty relation, still converges
    assert(Graph.kCore(edges, k = 4).count() == 0)
    // duplicate / reversed / self edges normalize away before peeling
    val messy = Seq((2L, 1L), (1L, 2L), (1L, 1L), (3L, 1L), (2L, 3L))
      .toDF("a", "b")
    val tri = Graph.kCore(messy, k = 2)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(tri == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    val ex = intercept[IllegalStateException] {
      Graph.kCore(edges, k = 3, maxRounds = 1)
    }
    assert(ex.getMessage.contains("converge"))
  }

  test("labelPropagation: hand-unrolled 2 rounds on two bridged triangles " +
    "— mode of neighbor labels, ties to the SMALLEST label") {
    // triangles {1,2,3} and {10,11,12}, bridge 3-10 (undirected)
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    // round 1 (all self-labels, every count 1 -> min neighbor id):
    //   l(1)=2 l(2)=1 l(3)=1 l(10)=3 l(11)=10 l(12)=10
    val r1 = Graph.labelPropagation(edges, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 10L -> 3L, 11L -> 10L,
      12L -> 10L), s"round-1 labels: $r1")
    // round 2 over those: node 1 sees {1,1} -> 1 (true mode, not a tie);
    // node 10 sees {1,10,10} -> 10; ties at 2/3/11/12 break to the min
    val r2 = Graph.labelPropagation(edges, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 3L,
      12L -> 3L), s"round-2 labels: $r2")
  }

  test("labelPropagation converge mode: settles where 2 fixed rounds " +
    "haven't, stops at the fixpoint, and matches the fixed-round unroll") {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    // hand-unroll: r2 = {1:1,2:1,3:1,10:10,11:3,12:3} (test above),
    // r3 = {1:1,2:1,3:1,10:3,11:3,12:3}, r4 = r3 -> fixpoint at round 4
    val r2 = Graph.labelPropagation(edges, rounds = 2)
      .as[(Long, Long)].collect().toMap
    val r3 = Graph.labelPropagation(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(r2 != r3, "premise: 2 rounds must NOT be converged here")
    val settled = Graph.labelPropagation(edges, rounds = 10, converge = true)
      .as[(Long, Long)].collect().toMap
    assert(settled == r3, s"converge mode must land on the fixpoint: $settled")
    assert(settled == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L,
      11L -> 3L, 12L -> 3L))
    // one more round changes nothing — it IS the fixpoint
    val r5 = Graph.labelPropagation(edges, rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(r5 == settled)
  }

  test("labelPropagation converge mode: a bipartite 2-cycle oscillates " +
    "and throws loudly instead of returning a silent partial answer") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      Graph.labelPropagation(edges, rounds = 6, converge = true)
    }
    assert(ex.getMessage.contains("converge"))
  }

  test("labelPropagation on DIRECTED input: dst-only nodes seed a label " +
    "and src-only nodes keep theirs instead of vanishing (r13 totality)") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst") // NOT symmetrized
    val r1 = Graph.labelPropagation(edges, rounds = 1)
      .as[(Long, Long)].collect().toMap
    // node 1 has no in-edges: keeps its seed; 2 adopts 1's label; 3 (a
    // dst-only node the old seed missed entirely) adopts 2's seed label
    assert(r1 == Map(1L -> 1L, 2L -> 1L, 3L -> 2L), s"directed r1: $r1")
    val r2 = Graph.labelPropagation(edges, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"directed r2: $r2")
  }

  test("labelPropagation: checkpointing changes no value — uncut 4-round " +
    "run matches cut runs at every cadence, and a cut 12-round run still " +
    "sits on the fixpoint") {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    // value-equality of the lineage cut, at a depth the UNCUT plan can
    // still execute: 4 rounds (this graph's fixpoint depth). An uncut
    // 12-round run is exactly the pathological deep-plan case the
    // checkpointing exists to prevent — the optimizer/codegen cost of
    // the nested tree blows past minutes — so the deep comparison runs
    // cut-vs-cut and pins the VALUE via the known fixpoint instead.
    val flat4 = Graph.labelPropagation(edges, rounds = 4, checkpointEvery = 0)
      .as[(Long, Long)].collect().toMap
    for (every <- Seq(1, 3)) {
      val cut4 = Graph.labelPropagation(edges, rounds = 4,
        checkpointEvery = every).as[(Long, Long)].collect().toMap
      assert(cut4 == flat4, s"checkpointEvery=$every diverged at 4 rounds")
    }
    val fixpoint = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L,
      11L -> 3L, 12L -> 3L)
    assert(flat4 == fixpoint)
    val cut12 = Graph.labelPropagation(edges, rounds = 12, checkpointEvery = 3)
      .as[(Long, Long)].collect().toMap
    assert(cut12 == fixpoint, s"12 cut rounds left the fixpoint: $cut12")
  }

  test("labelPropagation assumeTotal: identical labels to the default " +
    "path on symmetrized input, at every depth and cadence") {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    // the fast path drops the seed union and the keep-label join — on
    // total input those are identities, so every (rounds, cadence) pair
    // must agree with the guarded path bit-for-bit
    for (r <- Seq(1, 2, 4); every <- Seq(0, 3)) {
      val guarded = Graph.labelPropagation(edges, rounds = r,
        checkpointEvery = every).as[(Long, Long)].collect().toMap
      val fast = Graph.labelPropagation(edges, rounds = r,
        checkpointEvery = every, assumeTotal = true)
        .as[(Long, Long)].collect().toMap
      assert(fast == guarded,
        s"assumeTotal diverged at rounds=$r every=$every: $fast")
    }
    // converge mode swaps the keep-label join for the leaf stability
    // join under the flag — must land on the same fixpoint, at the same
    // detection round (budget-4 still converges: settle 3, detect 4)
    val settled = Graph.labelPropagation(edges, rounds = 10,
      converge = true, assumeTotal = true).as[(Long, Long)].collect().toMap
    assert(settled == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L,
      11L -> 3L, 12L -> 3L), s"assumeTotal+converge: $settled")
    val tight = Graph.labelPropagation(edges, rounds = 4,
      converge = true, assumeTotal = true).as[(Long, Long)].collect().toMap
    assert(tight == settled, s"budget-4 assumeTotal converge: $tight")
    // oscillation still throws under the flag (per-round check is the
    // period-2 guard)
    val bip = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val ex2 = intercept[IllegalStateException] {
      Graph.labelPropagation(bip, rounds = 6, converge = true,
        assumeTotal = true)
    }
    assert(ex2.getMessage.contains("converge"))
  }
}
