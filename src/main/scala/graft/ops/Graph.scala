package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph computation on an edge list — the one dataflow shape the
  * rest of the inventory lacks: a loop whose every round is a join against a
  * relation produced by the previous round.
  *
  * Scale design (the classic Pregel-as-dataflow layout):
  *  - the edge list is joined with out-degrees ONCE, hash-partitioned by
  *    `src`, and persisted for the loop; the cached InMemoryRelation
  *    keeps its `HashPartitioning(src)`, so every iteration's ranks join
  *    reuses the edge-side layout instead of re-shuffling the (dominant)
  *    edge relation each round — per round, only the rank relation (one
  *    row per NODE, not per edge) moves.
  *  - rank mass is scaled-integer (`scale` = 1e9 ppb by default) and every
  *    division is integral (`div`), so results are bit-identical across
  *    engines and partitionings — parallel float summation would not be.
  *  - driver-side state is two scalars (node count, iteration counter);
  *    ranks/edges never collect. Lineage grows one join+aggregate per
  *    round — `checkpointEvery` truncates it with an eager localCheckpoint
  *    so deep iteration counts keep a bounded plan (the gated 3 rounds
  *    never reach the default threshold and plan identically to r5).
  */
object Graph {

  /** The per-iteration edge layout pageRank reuses across rounds:
    * edge-sized, ONE shuffle + sort lays the edges out by src, and the
    * persisted layout (partitioning AND ordering survive InMemoryRelation)
    * serves every iteration's ranks join without touching the source
    * scan OR re-exchanging the edge side — pinned by PlanIntegritySpec
    * ("pagerank round"): the round join plans with ZERO exchange above
    * the cached edge scan, so per-round cost is the node-sized ranks
    * shuffle plus the map-side-combined contribution aggregate, never an
    * edge re-shuffle. */
  private[graft] def prEdgeLayout(e: DataFrame, deg: DataFrame): DataFrame =
    e.join(deg, "src").repartition(col("src")).sortWithinPartitions("src")

  /** One PageRank round's contribution pass over the cached layout (the
    * shape PlanIntegritySpec pins). */
  private[graft] def prContribs(ewd: DataFrame,
                                ranks: DataFrame): DataFrame =
    ewd.join(ranks, ewd("src") === ranks("node"))
      .select(col("dst"), expr("rank div outdeg").as("contrib"))
      .groupBy("dst").agg(sum("contrib").as("mass"))

  /** PageRank with damping `dampNum/dampDen` over directed `edges`.
    *
    * Node set = nodes with at least one OUT-edge (pass a symmetrized edge
    * list for undirected graphs — the gate does). Nodes with no in-edges
    * keep the base (teleport) mass each round; mass lost to integral
    * truncation and to dangling contributions is NOT redistributed, and the
    * oracle mirrors exactly that.
    *
    * Output: (node, rank) with rank in `scale` units, unordered.
    *
    * `checkpointEvery`: eagerly localCheckpoint the rank relation every k
    * rounds, truncating lineage so plan depth stays bounded at any
    * iteration count (values are unchanged — checkpointing only cuts the
    * recursive plan). The loop always runs `iters` rounds; the gated
    * 3-round plan never reaches the default checkpoint threshold.
    */
  def pageRank(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
               iters: Int = 3, scale: Long = 1000000000L,
               dampNum: Long = 85L, dampDen: Long = 100L,
               checkpointEvery: Int = 8): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // node-sized; read three times per iteration (outdeg, node set, init)
    withPersisted(e.groupBy("src").agg(count(lit(1)).as("outdeg"))) { deg =>
      withPersisted(prEdgeLayout(e, deg)) { ewd =>
        val n = deg.count()
        require(n > 0, "pageRank needs a non-empty edge list (no out-degree nodes)")
        val init = scale / n
        val base = (scale * (dampDen - dampNum) / dampDen) / n
        val nodes = deg.select(col("src").as("node"))
        var ranks = nodes.select(col("node"), lit(init).as("rank"))
        for (round <- 1 to iters) {
          val contribs = prContribs(ewd, ranks)
          val next = nodes
            .join(contribs, col("node") === col("dst"), "left")
            .select(col("node"),
              (lit(base) + expr(s"(${dampNum}L * coalesce(mass, 0L)) div ${dampDen}L"))
                .as("rank"))
          val cut = round % checkpointEvery == 0 && round < iters
          ranks = if (cut) next.localCheckpoint(true) else next
        }
        // the caller gets materialized node-sized ranks, not a lineage
        // through the edge-sized caches released on the way out
        ranks.localCheckpoint(true)
      }
    }
  }

  /** Synchronous label propagation (community detection): every node
    * starts as its own label; each round every node adopts the MODE of
    * its neighbors' labels, ties to the smallest label — the classic
    * sync-LPA step made fully deterministic (async LPA's order-dependence
    * would be ungateable). Labels must be LONG node ids: the tie-break
    * rides `max_by(label, struct(c, -label))` — one lexicographic argmax,
    * no rank window — which needs a negatable key.
    *
    * EDGE DIRECTION: a round propagates labels src → dst, so community
    * semantics assume a SYMMETRIZED edge list (each undirected edge
    * present in both orientations — what q245 and `GraphScale lp` feed).
    * Directed input is still total (r13): labels seed from src ∪ dst and
    * nodes with no in-edges keep their current label instead of silently
    * vanishing from the output — but what that computes is directed
    * label flow, not undirected communities; symmetrize first for LPA
    * proper.
    *
    * `assumeTotal = true` declares that EVERY node has at least one
    * in-edge (true by construction for symmetrized input, where
    * src-set = dst-set = node-set). The directed-totality machinery is
    * then skipped: the seed reads src only (no union+distinct over both
    * sides) and fixed-rounds mode applies each round's adoption
    * DIRECTLY — no keep-label left join, so the labels subtree appears
    * ONCE per round and a shallow run is a single cut-free job (the r13
    * keep-label join on a 2-round gate cost 6.6× wall — the r14 fix).
    * The flag is a caller promise, not checked: on input that is NOT
    * total, src-only seeding drops dst-only nodes and skipping the
    * keep-label join drops no-in-edge nodes after round 1 — exactly the
    * r12 silent-vanish bug. Set it only when the input is symmetrized
    * (or provably total). Converge mode ignores the join-skip half —
    * its per-round input is always a checkpoint leaf (the seed is cut
    * eagerly under converge, later rounds are the previous round's
    * checkpoint), so the keep-label join never doubles a deep subtree;
    * a leaf stability join measured identical — but still takes the
    * src-only seed.
    *
    * Fixed `rounds` (the default) keeps the result deterministic and the
    * oracle unrollable; sync LPA can OSCILLATE on bipartite-ish graphs,
    * so the convergence mode (`converge = true`) treats `rounds` as a
    * budget, stops as soon as a transition changes ZERO labels, and
    * THROWS if the budget exhausts unconverged — a loud failure, never a
    * silent partial answer (kCore's posture). The check runs EVERY round
    * (checking less often is unsound: sync LPA oscillates with period 2,
    * so labels_r == labels_{r-2} does not imply a fixpoint); each
    * round's labels are LAZILY localCheckpointed so the one counting
    * action per round also materializes the round and cuts lineage to
    * one round deep (the action would otherwise replay the whole
    * chain; the r13 eager-checkpoint-then-count shape paid two jobs per
    * round). In fixed-rounds mode `checkpointEvery` (default 3,
    * 0 = never) cuts the growing lineage the same way. The cadence matters more than it looks: the
    * keep-label join references the labels subtree TWICE per round, so
    * an uncut plan TREE doubles per round — Catalyst traverses trees,
    * not DAGs, and an uncut 12-round plan burns optimizer/codegen CPU
    * for minutes on a 6-node graph (measured) while 4 uncut rounds run
    * in seconds. Every-3 keeps the per-segment tree ≤ 8 label copies.
    *
    * Self-loops count as neighbors (filter first if undesired); node ids
    * must be NON-NEGATIVE longs (the tie-break negates the label).
    * The returned label relation is materialized (a localCheckpoint);
    * the edge-sized working cache is released before returning.
    * Per-round cost: the node-sized label relation re-keys to src to
    * meet the CACHED src-partitioned edge
    * layout (pageRank's reuse posture — the edge side never
    * re-exchanges), then a map-side-combined (dst, label) count, a
    * node-sized argmax, and a node-sized keep-label join. At 100 TB that
    * is O(rounds · E) shuffle of COUNTS, never of edges.
    */
  /** One sync-LPA round over the cached src-partitioned edge layout (the
    * shape PlanIntegritySpec pins: zero exchange above the cached edge
    * scan — only the node-sized label relation and the map-side-combined
    * (dst, label) counts shuffle). */
  private[graft] def lpRound(e: DataFrame, labels: DataFrame): DataFrame =
    e.join(labels, e("src") === labels("node"))
      .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
      .groupBy(col("dst"))
      .agg(max_by(col("label"), struct(col("c"), (-col("label")).as("t")))
        .as("label"))
      .select(col("dst").as("node"), col("label"))

  def labelPropagation(edges: DataFrame, srcCol: String = "src",
                       dstCol: String = "dst", rounds: Int = 2,
                       converge: Boolean = false,
                       checkpointEvery: Int = 3,
                       assumeTotal: Boolean = false): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0")
    withPersisted(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .repartition(col("src")).sortWithinPartitions("src")) { e =>
      // seed: on declared-total input src alone covers the node set; on
      // possibly-directed input seed from src ∪ dst (a dst-only node
      // would otherwise never receive a label and a src-only node would
      // vanish from the output after round 1). Cut the seed eagerly
      // whenever the keep-label join will reference it twice — every
      // guarded path, and round 1 of EVERY converge run (converge always
      // joins): an uncut union+distinct seed doubles per round inside the
      // first segment's tree (measured +30% on the 6M-edge rounds=8 run).
      // Only the total FIXED path skips the cut — it references the seed
      // once per round and a shallow run is then a single cut-free job
      // (the r13 unconditional seed localCheckpoint cost q245 a wasted
      // job).
      var labels = {
        val nodes =
          if (assumeTotal) e.select(col("src").as("node")).distinct()
          else e.select(col("src").as("node"))
            .unionAll(e.select(col("dst").as("node"))).distinct()
        val seed = nodes.withColumn("label", col("node"))
        if (assumeTotal && !converge) seed else seed.localCheckpoint(true)
      }
      // one guarded LPA step: adoption + keep-label left join; withChg
      // additionally carries the changed-flag column for converge checks
      def guardedStep(cur: DataFrame, withChg: Boolean): DataFrame = {
        val adopted = lpRound(e, cur)
          .select(col("node"), col("label").as("_adopted"))
        val base = cur.join(adopted, Seq("node"), "left")
        if (withChg)
          base.select(col("node"),
            coalesce(col("_adopted"), col("label")).as("label"),
            (col("_adopted").isNotNull && col("_adopted") =!= col("label"))
              .cast("long").as("_chg"))
        else
          base.select(col("node"),
            coalesce(col("_adopted"), col("label")).as("label"))
      }
      if (converge) {
        // converge mode: one blocking action per round observes that
        // round's change count (checking less often is unsound for the
        // oscillation guard — sync LPA oscillates with period 2, so
        // labels_r == labels_{r-2} does NOT imply a fixpoint). Each
        // round's input is the previous round's CHECKPOINT — a leaf — so
        // the keep-label join here never doubles a deep subtree (a
        // leaf-vs-leaf stability join under assumeTotal measured
        // identical, 4.0 s either way on a 90k-node graph, so converge
        // keeps ONE code path); the LAZY localCheckpoint makes the
        // counting action also materialize + cut lineage in one job
        // (eager + agg paid two jobs per round in r13).
        var r = 0
        var stable = false
        while (r < rounds && !stable) {
          r += 1
          val mat = guardedStep(labels, withChg = true)
            .localCheckpoint(false)
          // coalesce: sum over ZERO rows is NULL (empty edge input) — an
          // empty graph is vacuously converged, not an NPE
          stable = mat.agg(coalesce(sum(col("_chg")), lit(0L)))
            .head().getLong(0) == 0L
          labels = mat.drop("_chg")
        }
        if (!stable)
          throw new IllegalStateException(
            s"labelPropagation did not converge in $rounds rounds " +
              "(sync LPA oscillates on bipartite-ish graphs — use fixed " +
              "rounds there)")
      } else {
        var r = 0
        while (r < rounds) {
          r += 1
          // total input: every node has in-edges, so the round's adoption
          // IS the next label relation — no keep-label join, the labels
          // subtree appears once, and a shallow run stays one cut-free job
          val next =
            if (assumeTotal) lpRound(e, labels)
            else guardedStep(labels, withChg = false)
          // no cut on the FINAL round even when the cadence lands there:
          // the checkpoint on the way out materializes the same
          // node-sized relation eagerly anyway, and a final-round
          // localCheckpoint(true) would run that job twice
          val cut = checkpointEvery > 0 && r % checkpointEvery == 0 &&
            r != rounds
          labels = if (cut) next.localCheckpoint(true) else next
        }
      }
      // materialize node-sized result before the edge-sized cache goes
      labels.localCheckpoint(true)
    }
  }

  /** Global triangle census over an undirected graph: one row with
    * (nodes, edges, wedges, triangles, global_cc_ppm) where
    * `global_cc_ppm` = 3·triangles·1e6 div wedges (the global clustering
    * coefficient in exact integer ppm).
    *
    * Scale design — degree-ordered orientation (the standard
    * compact-forward / Schank–Wagner layout): every edge is directed from
    * its lower (deg, node) endpoint to the higher, so each node's
    * out-degree is O(√m) regardless of raw-degree skew, and wedge
    * enumeration (the quadratic step) is per-ORIENTED-out-neighborhood,
    * never per raw hub neighborhood. Each triangle is counted exactly once
    * — at its minimum-order corner — so no ÷3/÷6 correction and no
    * double-counted shuffle traffic. Two shuffle joins total after the
    * orientation (wedges on src, closure probe on the wedge endpoints);
    * driver state is nothing (the one-row summary is an aggregate
    * crossJoin, not a collect).
    */
  def triangleStats(edges: DataFrame, aCol: String = "a",
                    bCol: String = "b"): DataFrame = {
    val e0 = edges
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
    withPersisted(e0) { e =>
      // deg is read by the orientation join and the final node and wedge
      // counts — cache the per-node rows or the final aggregates silently
      // rebuild the full edge scan + distinct, twice
      val deg0 = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      withPersisted(deg0) { deg =>
        // orient a->b when (deg,node) of a sorts below b; struct compare is
        // lexicographic, mirroring the documented total order
        val oa = struct(col("da").as("d"), col("a").as("n"))
        val ob = struct(col("db").as("d"), col("b").as("n"))
        val ort0 = e
          .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
          .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
          .select(when(oa < ob, col("a")).otherwise(col("b")).as("src"),
            when(oa < ob, ob).otherwise(oa).as("dst"))
        withPersisted(ort0) { ort =>
          ort.count()
          // wedges at the minimum-order corner: unordered out-neighbor
          // pairs, normalized by the same (deg,node) order the orientation
          // used; the closure probe keys on (lower endpoint's NODE, higher
          // endpoint struct). The wedge self-join is an EXPANSION join
          // (Σ outdeg² output from a small oriented-edge input) — the
          // expansion-join rule, see [[Partitions.parts]]. Orientation
          // bounds outdeg by √(2·edges), so per-corner work is already
          // skew-capped; this keeps it spread.
          val nParts = Partitions.parts(edges.sparkSession)
          val ortP = ort.repartition(nParts, col("src"))
          val closed = ortP.select(col("src"), col("dst").as("x"))
            .join(ortP.select(col("src"), col("dst").as("y")), "src")
            .filter(col("x") < col("y"))
            .select(col("x").getField("n").as("wsrc"), col("y").as("wdst"))
            .join(ort.select(col("src").as("wsrc"), col("dst").as("wdst")),
              Seq("wsrc", "wdst"))

          val nodeWedgeDf = deg.agg(count(lit(1)).as("nodes"),
            sum(expr("deg * (deg - 1) div 2")).as("wedges"))
          val edgesDf = ort.agg(count(lit(1)).as("edges"))
          val triDf = closed.agg(count(lit(1)).as("triangles"))
          // wedge-free graphs (every component a single edge) get an
          // explicit NULL coefficient: `div 0` is NULL in Spark but an
          // error in ANSI engines, so the guard makes the degenerate case
          // portable instead of engine-luck. The one-row answer is
          // materialized before the caches go.
          nodeWedgeDf.crossJoin(edgesDf).crossJoin(triDf)
            .select(col("nodes"), col("edges"), col("wedges"), col("triangles"),
              when(col("wedges") > 0,
                expr("3L * triangles * 1000000L div wedges")).as("global_cc_ppm"))
            .localCheckpoint(true)
        }
      }
    }
  }

  /** Common-neighbors link prediction: the top-`topK` UNLINKED node pairs
    * by shared-neighbor count, with the neighborhood-Jaccard score in
    * exact ppm — "which parts are bought together with the same other
    * parts but never in one order" / "which users share a community but
    * never met". Output: (u, v, cn, deg_u, deg_v, jaccard_ppm), u < v,
    * ordered by (cn DESC, u, v) — a total order, so the cut is
    * deterministic under ties.
    *
    * Scale design: candidates come from wedge enumeration at each shared
    * neighbor — the ONLY pairs that can score at all — never from node ×
    * node. Per-center fan-out is deg², which is the honest size of the
    * answer at that hub; `maxDegree` caps the centers that may vouch for
    * a pair (the standard link-prediction hub cut: a mega-hub's
    * co-neighborhood says nothing and would alone contribute deg²/2
    * candidates), making worst-case work Σ min(deg, maxDegree)² by
    * construction. The default cap is 10⁴ — a capped center contributes
    * at most ~5·10⁷ wedges (one fat task, not a job-killer), while a
    * single 10⁶-degree hub under the old permissive default would alone
    * emit ~5·10¹¹ candidate pairs at 100× scale. The wedge self-join
    * carries an explicit-count repartition on the center key
    * ([[Partitions.parts]]) so AQE's input-byte heuristic cannot fold the
    * quadratic expansion onto few tasks; `minCommon` prunes the
    * candidate relation before the degree joins; the linked-pair
    * anti-join and the two degree joins are all key joins on
    * candidate-sized relations.
    *
    * Over-cap hubs, exact/estimate split: with `hubSample = 0` (default)
    * over-cap centers are DROPPED — exact counts over the capped-center
    * wedge set, the documented link-prediction semantics (and what the
    * oracle mirrors). With `hubSample = s >= 2`, an over-cap center
    * instead contributes its `s` hash-smallest neighbors
    * (xxhash64-ranked — deterministic, no RNG), and each surviving
    * sampled pair carries weight C(deg,2)/C(s,2), the Horvitz–Thompson
    * inverse of the pair's inclusion probability under
    * without-replacement sampling — `cn` becomes an UNBIASED estimate of
    * the full wedge count (rounded to long), so mega-hub co-neighborhoods
    * stay visible at Σ s² cost instead of silently vanishing. Under-cap
    * centers keep weight 1 in both modes; a graph with no over-cap hub
    * returns identical output in either mode.
    *
    * The returned plan is lazy and reads no cached relation: the distinct
    * edge set, the degree relation and the capped adjacency each end on a
    * shuffle that all their consumers in the plan share (exchange reuse),
    * so each is computed once per evaluation.
    */
  def commonNeighborPairs(edges: DataFrame, aCol: String = "a",
                          bCol: String = "b", minCommon: Int = 2,
                          topK: Int = 100,
                          maxDegree: Int = 10000,
                          hubSample: Int = 0): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1: $minCommon")
    require(topK >= 1 && maxDegree >= 1, s"bad topK/maxDegree")
    require(hubSample == 0 || hubSample >= 2,
      s"hubSample must be 0 (drop over-cap hubs) or >= 2: $hubSample")
    // the HT inverse C(deg,2)/C(s,2) assumes deg > s for every SAMPLED
    // center; deg > maxDegree >= hubSample guarantees it. With s >
    // maxDegree an over-cap hub of degree in (maxDegree, s] would keep
    // ALL its pairs (inclusion probability 1) yet still down-weight them
    // — a biased-low estimate, so the combination is rejected outright.
    require(hubSample <= maxDegree,
      s"hubSample ($hubSample) must be <= maxDegree ($maxDegree): a " +
        "sample wider than the cap would under-weight hubs it fully keeps")
    val e = edges
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val adjAll = e.select(col("a").as("w"), col("b").as("n"))
      .unionAll(e.select(col("b").as("w"), col("a").as("n")))
    val nParts = Partitions.parts(edges.sparkSession)
    // the capped adjacency feeds BOTH wedge-join sides through one
    // center-keyed exchange, the co-partitioned input that lets the
    // self-join run without another shuffle
    val adjP =
      if (hubSample == 0)
        adjAll.join(deg.filter(col("deg") <= maxDegree)
            .select(col("node").as("w")), "w")
          .repartition(nParts, col("w"))
          .withColumn("wt", lit(1.0))
      else {
        // rank rides the same center-keyed exchange the wedge join needs
        val rk = org.apache.spark.sql.expressions.Window
          .partitionBy(col("w")).orderBy(xxhash64(col("w"), col("n")),
            col("n"))
        adjAll.join(deg.select(col("node").as("w"), col("deg")), "w")
          .repartition(nParts, col("w"))
          .withColumn("rk", row_number().over(rk))
          .filter(col("deg") <= maxDegree || col("rk") <= hubSample)
          // Horvitz–Thompson pair weight: sqrt so the product of the two
          // wedge legs' weights is C(deg,2)/C(s,2) per retained pair
          .withColumn("wt", when(col("deg") <= maxDegree, lit(1.0))
            .otherwise(sqrt(
              (col("deg").cast("double") * (col("deg") - 1).cast("double")) /
                (lit(hubSample.toDouble) * lit((hubSample - 1).toDouble)))))
          .select(col("w"), col("n"), col("wt"))
      }
    val wedges = adjP.select(col("w"), col("n").as("u"),
        col("wt").as("wt_u"))
      .join(adjP.select(col("w"), col("n").as("v"), col("wt").as("wt_v")),
        "w")
      .filter(col("u") < col("v"))
    val cand =
      if (hubSample == 0)
        wedges.groupBy("u", "v").agg(count(lit(1)).as("cn"))
          .filter(col("cn") >= minCommon)
      else
        // round FIRST, threshold the rounded value: the emitted cn and
        // the minCommon cut must agree at the boundary (an unrounded
        // filter would drop cn_est=1.6 yet keep 2.4 while both report
        // cn=2)
        wedges.groupBy("u", "v")
          .agg(sum(col("wt_u") * col("wt_v")).as("cn_est"))
          .withColumn("cn", round(col("cn_est")).cast("long"))
          .filter(col("cn") >= minCommon)
          .drop("cn_est")
    val unlinked = cand.join(e,
      cand("u") === e("a") && cand("v") === e("b"), "left_anti")
    unlinked
      .join(deg.select(col("node").as("u"), col("deg").as("deg_u")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("deg_v")), "v")
      .select(col("u"), col("v"), col("cn"), col("deg_u"), col("deg_v"),
        // exact mode never trips the guard (cn <= min(deg_u, deg_v) so
        // the union is >= 1); a ROUNDED hub-sample estimate can exceed
        // the true union — NULL jaccard there, never a divide-by-zero
        expr("CASE WHEN deg_u + deg_v - cn > 0 THEN " +
          "1000000L * cn div (deg_u + deg_v - cn) END").as("jaccard_ppm"))
      .orderBy(col("cn").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** k-core decomposition (fixed k): iteratively peel nodes of degree
    * < k from the undirected simple graph until none remain; return
    * (node, core_deg) for the surviving core, core_deg = degree INSIDE
    * the core. The community/spam-filter primitive ("keep only parts
    * that co-occur with ≥k other well-connected parts"): peeling is
    * confluent — removal order cannot change the fixpoint — so the
    * output is a deterministic set, portable across engines.
    *
    * Scale design: each round is (1) a map-side-combined degree
    * aggregate over the edge relation, (2) a REMOVED-set derivation
    * (deg < k — small after the first round, usually near-empty as the
    * peel anneals), (3) two anti-joins of edges against that small
    * relation (AQE turns them into broadcast anti-joins at runtime).
    * The edge relation never re-derives: each round's survivor edges are
    * eagerly localCheckpointed, so lineage stays one round deep no
    * matter the peel depth. Driver state = two scalars per round
    * (removed count, round counter). Round count is the graph's peel
    * depth (degeneracy ordering length / k) — the standard distributed
    * k-core cost, bounded here by `maxRounds` with an explicit error
    * rather than a silent partial answer.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 100,
            aCol: String = "a", bCol: String = "b"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("core_deg"))
    var e = edges
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .localCheckpoint(true)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      withPersisted(degrees(e).filter(col("core_deg") < k)
          .select(col("node"))) { removed =>
        if (removed.count() == 0L) converged = true
        else {
          e = e
            .join(removed.select(col("node").as("a")), Seq("a"), "left_anti")
            .join(removed.select(col("node").as("b")), Seq("b"), "left_anti")
            .select(col("a"), col("b"))
            .localCheckpoint(true)
          rounds += 1
        }
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore did not converge in $maxRounds rounds (k=$k)")
    degrees(e)
  }
}
