package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expressions.DeletionNeighborhood

/** Fuzzy string matching: all pairs within a Levenshtein threshold — the
  * string-similarity sibling of the near-dup family (generalizes the
  * reference's exact-key record matching, ideafast_etl/dags/dreem.py:49-67,
  * to noisy identifiers).
  */
object Fuzzy {

  /** All pairs (idCol a < b) whose `strCol` values are within Levenshtein
    * distance `maxDist` (1 or 2), optionally also equal on `blockCols`.
    *
    * Candidate generation is the symmetric-delete signature: each string
    * explodes into its <=maxDist-deletion variants and candidates are pairs
    * sharing a variant — a COMPLETE blocking (lev(a,b)<=k implies a shared
    * variant) with no length/prefix assumption, then verified with the
    * exact levenshtein. Scale shape: the explode is a constant ~O(len^k)
    * per row, the self-join key (blockCols, variant) is near-unique, and
    * the quadratic blow-up of naive per-block pairing never happens — this
    * replaced a `custkey < 2000` bench bound that hid an O(n²/25)
    * nation-block pairing.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        blockCols: Seq[String], maxDist: Int): DataFrame = {
    // Candidate join carries ONLY (blockCols, id, xxhash64(variant)) — an
    // 8-byte key instead of the variant string, and no name strings through
    // the self-join shuffle or the pair dedup. A hash collision merely
    // merges two buckets: extra candidates, removed by the verify below;
    // equal variants always hash equal, so completeness is unaffected.
    // the ~O(len^k) variant fan-out is the CPU stage: rebalance the narrow
    // input rows first so it never runs at the SCAN's parallelism (a small
    // single-file table is one input split — measured: the whole explode
    // serialized on 1 of 32 cores; guide §2.5 input-skew rule), at an
    // input-aware count (see [[Partitions.spread]])
    val v = df.select(col(idCol) +: blockCols.map(col) :+ col(strCol): _*)
      .repartition(Partitions.spread(df))
      .select(
        col(idCol) +: blockCols.map(col) :+
          explode(DeletionNeighborhood(col(strCol), maxDist)).as("_v"): _*)
      .select(col(idCol) +: blockCols.map(col) :+ xxhash64(col("_v")).as("_vh"): _*)
    // (measured r16: checkpointing this relation to dedup the two join
    // sides' explodes saves one fan-out stage but pays it back in RDD
    // materialization + two shuffle-writes of the cached rows — net zero
    // at bench scale, so the subtree stays lazy)
    val a = v.select(col(idCol).as("id_a") +: col("_vh") +: blockCols.map(col): _*)
    val b = v.select(col(idCol).as("id_b") +: col("_vh").as("_vh_b") +:
      blockCols.map(c => col(c).as(s"_b_$c")): _*)
    val joinCond = (blockCols.map(c => col(c) === col(s"_b_$c")) :+
      (col("_vh") === col("_vh_b")) :+ (col("id_a") < col("id_b"))).reduce(_ && _)
    // variant buckets are near-unique -> hash join beats sorting both sides
    val cand = a.join(b.hint("shuffle_hash"), joinCond)
      // a true pair shares many variants: dedup the narrow (id, id) pairs
      // BEFORE fetching strings so the exact distance runs once per pair
      .select(col("id_a"), col("id_b"))
      .distinct()
    val names = df.select(col(idCol), col(strCol))
    cand
      .join(names.select(col(idCol).as("id_a"), col(strCol).as("_s_a")), "id_a")
      .join(names.select(col(idCol).as("id_b"), col(strCol).as("_s_b")), "id_b")
      .withColumn("dist", levenshtein(col("_s_a"), col("_s_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** All pairs (idCol a < b) in the same `blockCol` group whose `strCol`
    * Jaro–Winkler similarity meets `minSimPpm` (similarity × 10⁶, rounded
    * half-up) — the record-linkage primitive for noisy names where edit
    * distance over-penalizes transpositions and suffix noise.
    *
    * Unlike the deletion-neighborhood blocking above, JW has no complete
    * small-signature blocking — a domain blocking key (first token,
    * phonetic code, sorted-bigram prefix) is the standard recall/cost
    * trade, passed in explicitly so the trade is visible at the call site.
    *
    * Scale shape — kernel per DISTINCT name pair (r17), TRIANGLE-SALTED:
    * JW depends only on the strings, so the quadratic enumeration runs
    * over the distinct (block, name) relation and ids re-attach by two
    * name-keyed joins after the threshold filter — on q173's data that
    * is 288 kernel pairs instead of 25.0M row pairs; an all-unique
    * corpus pays one extra distinct exchange and nothing else. The
    * distinct-name pairing itself is triangle-salted, not a naive
    * per-block self-join: a hot block's O(n²) pair enumeration is the
    * classic skew-killer. Each distinct name gets a deterministic bucket
    * g = hash(name) mod `salt`; the block's pair set decomposes exactly
    * into salt·(salt+1)/2 cells (i ≤ j): cell (i,j) pairs bucket-i names
    * against bucket-j names (diagonal cells orient by name; equal names
    * in distinct rows are the separately-enumerated SELF pair, also
    * kernel-scored). Every within-block name pair lands in EXACTLY one
    * cell, so results are identical to the naive row-pair join while
    * per-task pair work drops ~salt² and cells spread over all cores.
    * At 100 TB, raise `salt` with expected distinct-name block size; the
    * decomposition is what keeps a hot key from becoming a single-task
    * quadratic blow-up.
    *
    * A SOUND length prefilter runs inside the join before the kernel:
    * JW ≥ θ forces jaro ≥ (θ−0.4)/0.6 (prefix boost caps at 0.4·(1−J)),
    * and jaro ≤ (2 + min/max)/3 (all of the shorter side matching, zero
    * transpositions), so min·10⁶ ≥ max·(3·Jmin−2)·10⁶ over BYTE lengths —
    * pairs that can't possibly reach the threshold never run the kernel
    * (θ = 0.9 ⇒ length ratio ≥ 0.5). The JW scalar itself is a native
    * codegen expression; its ppm rounding is a fixed double tree over
    * exact small integers, so the gate hash-matches DuckDB's independent
    * implementation.
    */
  def jaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
                       blockCol: org.apache.spark.sql.Column,
                       minSimPpm: Long, salt: Int = 16): DataFrame = {
    require(salt >= 1, s"salt must be >= 1: $salt")
    val side = df.select(blockCol.as("_blk"), col(idCol), col(strCol))
    // r17 (§3 pre-join reduction): JW(a,b) depends only on the STRINGS,
    // and record-linkage corpora repeat values heavily (q173's data:
    // 25.0M within-block row pairs collapse to 288 distinct name pairs),
    // so the kernel runs once per DISTINCT (block, name) pair — the
    // triangle-salted cell join below enumerates distinct-name pairs —
    // and ids re-attach afterwards by two name-keyed joins. On an
    // all-unique corpus this costs one extra distinct exchange and the
    // candidate volume is unchanged; everywhere else the quadratic
    // kernel stage shrinks by the square of the repetition factor.
    val dn = side.select(col("_blk"), col(strCol)).distinct()
      .withColumn("_g",
        pmod(xxhash64(col(strCol)), lit(salt.toLong)).cast("int"))
    // left role in cells (g, x) for x >= g; right role in cells (x, g)
    // for x <= g — the diagonal (g, g) gets both roles, orient by the
    // string (equal strings always share a bucket, so the strict < is
    // complete; the equal-name case is the SELF pair handled below).
    val a = dn.select(col("_blk"), col("_g").as("_ci"),
        explode(sequence(col("_g"), lit(salt - 1))).as("_cj"),
        col(strCol).as("_s_a"))
    val b = dn.select(col("_blk").as("_blk_b"),
        explode(sequence(lit(0), col("_g"))).as("_ci_b"),
        col("_g").as("_cj_b"),
        col(strCol).as("_s_b"))
    // JW ≥ θ ⇒ byte-length ratio ≥ 3·(θ−0.4)/0.6 − 2 (see scaladoc);
    // −1 ppm slack covers the half-up rounding of jw_ppm.
    val jminPpm = ((minSimPpm - 1 - 400000L) * 10L) / 6L
    val ratioPpm = 3L * jminPpm - 2000000L
    val lenOk =
      if (ratioPpm <= 0L) lit(true)
      else least(octet_length(col("_s_a")), octet_length(col("_s_b")))
        .cast("long") * 1000000L >=
        greatest(octet_length(col("_s_a")), octet_length(col("_s_b")))
          .cast("long") * ratioPpm
    // EXPLICIT repartition on the cell key: this join's INPUT is tiny
    // (distinct names × (salt+1)/2) but its OUTPUT is the quadratic pair
    // stream — the expansion-join rule, see [[Partitions.parts]].
    val nParts = Partitions.parts(df.sparkSession)
    val aP = a.repartition(nParts, col("_blk"), col("_ci"), col("_cj"))
    val bP = b.repartition(nParts, col("_blk_b"), col("_ci_b"), col("_cj_b"))
    val namePairs = aP.join(bP.hint("shuffle_hash"),
        col("_blk") === col("_blk_b") &&
        col("_ci") === col("_ci_b") && col("_cj") === col("_cj_b") &&
        (col("_ci") =!= col("_cj") || col("_s_a") < col("_s_b")) &&
        lenOk)
      .withColumn("jw_ppm", jwPpmOnce(col("_s_a"), col("_s_b")))
      .filter(col("jw_ppm") >= minSimPpm)
      .select(col("_blk"), col("_s_a"), col("_s_b"), col("jw_ppm"))
    // equal names in DISTINCT rows are a qualifying pair too — via the
    // kernel, not a shortcut: JW(s, s) is 1e6 except the pinned
    // empty-vs-empty 0 (see jwPpmOnce caller contract)
    val selfPairs = dn
      .withColumn("jw_ppm", jwPpmOnce(col(strCol), col(strCol)))
      .filter(col("jw_ppm") >= minSimPpm)
      .select(col("_blk"), col(strCol).as("_s_a"),
        col(strCol).as("_s_b"), col("jw_ppm"))
    // id re-attachment: qualifying name pairs are a filtered model-sized
    // relation; the two joins stream the row relation through them and
    // the OUTPUT is the answer itself (expansion is the result, not a
    // candidate stage)
    val ra = side.select(col("_blk").as("_bka"), col(strCol).as("_na"),
      col(idCol).as("_ida"))
    val rb = side.select(col("_blk").as("_bkb"), col(strCol).as("_nb"),
      col(idCol).as("_idb"))
    val cross = namePairs
      .join(ra, col("_blk") === col("_bka") && col("_s_a") === col("_na"))
      .join(rb, col("_blk") === col("_bkb") && col("_s_b") === col("_nb"))
      .select(least(col("_ida"), col("_idb")).as("id_a"),
        greatest(col("_ida"), col("_idb")).as("id_b"), col("jw_ppm"))
    val self = selfPairs
      .join(ra, col("_blk") === col("_bka") && col("_s_a") === col("_na"))
      .join(rb, col("_blk") === col("_bkb") && col("_s_b") === col("_nb"))
      .filter(col("_ida") < col("_idb"))
      .select(col("_ida").as("id_a"), col("_idb").as("id_b"),
        col("jw_ppm"))
    cross.unionByName(self)
  }

  /** JW ppm behind a one-element explode: Generate is a predicate-pushdown
    * barrier, so the downstream threshold filter tests the GENERATED
    * column instead of being collapsed into a plan that re-evaluates the
    * kernel in both Filter and Project — measured 2× on the 25M-pair q173
    * candidate set.
    */
  private def jwPpmOnce(sa: org.apache.spark.sql.Column,
                        sb: org.apache.spark.sql.Column):
      org.apache.spark.sql.Column =
    explode(array(round(graft.expressions.JaroWinkler(sa, sb)
      * 1000000d, 0).cast("long")))

  /** Sorted-neighborhood record linkage (SNM, Hernández & Stolfo '95):
    * rank every record by a domain sort key and compare each record only
    * to its `window − 1` successors in that order — the classic
    * alternative to EXPLICIT blocking ([[jaroWinklerPairs]]) when no good
    * blocking key exists but a sort key clusters likely matches.
    * Candidates are O(n·window) BY CONSTRUCTION — skew-proof where a hot
    * blocking key degenerates quadratically. The standard recall caveat:
    * matches > `window` positions apart are not candidates; multi-pass
    * SNM (a second run with a different sort key, unioned) is the
    * standard patch and composes here directly.
    *
    * Global rank WITHOUT the single-partition trap: the naive
    * `Window.orderBy(key)` funnels the whole corpus through one task, so
    * rank = range-repartition by (key, id) + per-partition row_number +
    * broadcast partition-offset cumsum (the offsets relation is
    * |partitions| rows — its tiny running-sum window is driver-scale).
    * Boundary placement from the range sampler varies run-to-run but
    * offset+local cancels it: the final rank is the deterministic total
    * (key, id) order. Neighbors arrive by an EQUI-join on target rank
    * (explode of `window−1` offsets), never an inequality join; the
    * ranked relation is checkpointed because probe and build sides both
    * read it. JW verify is the same native codegen scalar as the
    * blocked twin.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, strCol: String,
                              sortKey: org.apache.spark.sql.Column,
                              window: Int, minSimPpm: Long): DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    import org.apache.spark.sql.expressions.{Window => W}
    val parts = df.select(col(idCol), col(strCol), sortKey.as("_k"))
      .repartitionByRange(col("_k"), col(idCol))
      .withColumn("_pid", spark_partition_id())
    val local = parts.withColumn("_lr",
      row_number().over(W.partitionBy("_pid")
        .orderBy(col("_k"), col(idCol))).cast("long"))
    val offsets = local.groupBy("_pid").agg(count(lit(1)).as("_pn"))
      .withColumn("_off", coalesce(sum("_pn").over(W.orderBy("_pid")
        .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select("_pid", "_off")
    val ranked = local.join(broadcast(offsets), "_pid")
      .select(col(idCol), col(strCol), (col("_off") + col("_lr")).as("_rank"))
      .localCheckpoint(false)
    val probes = ranked.select(col(idCol).as("id_a"),
      col(strCol).as("_s_a"),
      explode(sequence(col("_rank") + 1, col("_rank") + (window - 1)))
        .as("_rank"))
    probes.join(ranked.select(col(idCol).as("id_b"),
        col(strCol).as("_s_b"), col("_rank")), "_rank")
      .withColumn("jw_ppm", jwPpmOnce(col("_s_a"), col("_s_b")))
      .filter(col("jw_ppm") >= minSimPpm)
      .select(col("id_a"), col("id_b"), col("jw_ppm"))
  }
}
