package graft

/** Plan-integrity checks — the engine analog of the reference's DagBag
  * validation tests (tests/dags/conftest.py:10-22): instead of task-graph
  * shape, we pin the PHYSICAL PLAN properties the scale story depends on.
  * If a refactor silently drops a broadcast or breaks pushdown, these fail
  * before any benchmark does.
  */
class PlanIntegritySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Slice of the plan string ABOVE the first cache-definition marker —
    * asserting the marker exists first, so a Spark version that changes
    * the InMemoryRelation print fails with the plan in the message
    * instead of a bare StringIndexOutOfBoundsException. */
  private def aboveCache(p: String): String = {
    val i = p.indexOf("InMemoryRelation")
    assert(i >= 0, s"expected an InMemoryRelation cache marker in:\n$p")
    p.substring(0, i)
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q01: filters and projection reach the parquet scan") {
    val p = plan("q01_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus)") ||
      p.contains("EqualTo(o_orderstatus,O)"))
    assert(!p.contains("o_orderdate"), "unused column must be pruned")
  }

  test("q04: dimension lookups are broadcast joins") {
    val p = plan("q04_lookup_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q03: ledger dedup plans as a left-anti join") {
    val p = plan("q03_anti_join_dedup")
    assert(p.contains("LeftAnti"))
  }

  test("q18: pipeline stays broadcast-joined with hash aggregation for pass 1") {
    val p = plan("q18_pipeline_e2e")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("HashAggregate"))
  }

  test("q12: scan-heavy aggregate runs inside whole-stage codegen") {
    // AQE finalizes the plan only on execution; force it, then inspect
    val df = SparkEntry.queries("q12_tpch_q1")(spark, sf)
    df.collect() // finalize THIS queryExecution's adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"))
    assert(p.contains("HashAggregate"))
  }

  test("q21: MinHash signature stage has exactly one exchange (no distinct shuffle)") {
    val p = plan("q21_dedup_minhash_lsh")
    // the signature computation feeds ONE groupBy(id) shuffle; a
    // reintroduced distinct() before it would add a second Exchange on the
    // shingle rows and double the shuffle volume
    assert(p.contains("graft_shingle_parts"),
      "native fused shingle hashing must be in the plan")
    assert(!p.contains("sha2"), "composed sha2 hex chain must not reappear")
  }

  test("q24/q27: dedup hot paths contain no interpreted higher-order lambdas") {
    for (q <- Seq("q24_dedup_ngram_jaccard", "q27_emb_neardup", "q25_emb_cosine_topk")) {
      val p = plan(q)
      assert(!p.contains("lambdafunction"),
        s"$q: higher-order lambda (CodegenFallback) reappeared in the hot path")
    }
  }

  test("q47: fuzzy matching joins on the hashed variant key, then verifies") {
    val p = plan("q47_edit_distance")
    assert(p.contains("graft_deletion_neighborhood"))
    assert(p.contains("xxhash64"))
    assert(p.contains("levenshtein"))
    assert(p.contains("ShuffledHashJoin"), "variant self-join should hash, not sort")
  }

  test("q50: LSH near-dup computes signatures via the native PlaneSig kernel") {
    val p = plan("q50_emb_neardup_lsh")
    assert(p.contains("graft_plane_sig"))
    assert(p.contains("graft_dot_scaled"))
    assert(!p.contains("lambdafunction"))
  }

  test("q60: as-of is a union + ONE window — no join operator anywhere") {
    val p = plan("q60_asof_join")
    assert(p.contains("Union"))
    assert(p.contains("Window"))
    assert(!p.contains("Join"), "as-of must not plan as a per-pair join")
  }

  test("q58: single-pass rewrite scans lineitem once, windows reuse one exchange") {
    val p = plan("q58_exists_not_exists")
    // the round-2 decorrelated form scanned lineitem three times (base +
    // EXISTS semi + NOT-EXISTS anti); the rewrite must keep ONE scan, the
    // supplier side broadcast, and every window on the same l_orderkey
    // partitioning (no per-window exchange)
    val lineitemScans =
      p.linesIterator.count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans == 1, s"expected 1 lineitem scan, got $lineitemScans")
    assert(p.contains("BroadcastHashJoin"), "supplier side must broadcast")
    // plan tree prefixes lines with ":- "/"+- ", so match the operator token
    val windows = p.linesIterator.count(_.contains("Window ["))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning(l_orderkey"))
    assert(windows >= 3, s"expected the 3 chained window stages, got $windows")
    assert(exchanges <= 1,
      s"windows must reuse one l_orderkey exchange, got $exchanges")
  }

  test("q63: eval shingles broadcast; corpus side has only the hit groupBy exchange") {
    val p = plan("q63_decontamination")
    assert(p.contains("BroadcastHashJoin"), "eval probe must be broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus shingles must never sort-merge against the eval set")
    // allowed exchanges: the countDistinct partial + groupBy over HIT rows
    // (ancestors of the probe join — the plan prints parents before
    // children, so they sit ABOVE the BroadcastHashJoin line), the gate's
    // orderBy range exchange, and the eval-side sh-only distinct feeding
    // the broadcast. A corpus-side distinct() would add a
    // hashpartitioning(doc_id, sh) exchange carrying EVERY corpus shingle
    // BELOW the join — pin its absence.
    val lines = p.linesIterator.toVector
    val joinIdx = lines.indexWhere(_.contains("BroadcastHashJoin"))
    val corpusShingleShuffles = lines.zipWithIndex.count { case (l, i) =>
      i > joinIdx && l.contains("Exchange hashpartitioning(doc_id") &&
        l.contains("sh#")
    }
    assert(corpusShingleShuffles == 0,
      "corpus shingle rows must dedup row-locally, not via distinct()")
  }

  test("q65: sessionization is ONE exchange — summary groupBy reuses the window partitioning") {
    val p = plan("q65_sessionization")
    // windows hashpartition on user_id; groupBy(user_id, session_idx) must
    // NOT add a second hash exchange (user_id is a prefix of the grouping)
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"expected exactly one hash exchange (user_id), got $hashExchanges:\n$p")
  }

  test("q28: language-ID never multiplies corpus rows by the language grid") {
    val p = plan("q28_text_langid")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"corpus-side crossJoin against the language list reappeared:\n$p")
  }

  test("q52: bloom pre-filter probes via the native codegen expression, no UDF") {
    val p = plan("q52_bloom_dedup")
    assert(p.contains("graft_bloom_might_contain"),
      "bloom probe must be the native expression")
    assert(!p.toLowerCase.contains("scalaudf") && !p.contains("UDF("),
      "no scalar UDF may reappear on the ingest pre-filter hot path")
  }

  test("q73: mixture downsampling is a row-local filter — ZERO data exchanges") {
    val p = plan("q73_language_mixture")
    // keep/drop is decided from the row's own hash: the only exchange is
    // the gate's deterministic ORDER BY (rangepartitioning); a
    // hashpartitioning means the filter grew a join or aggregation
    assert(!p.contains("Exchange hashpartitioning"),
      s"mixture filter must not shuffle:\n$p")
    assert(!p.contains("Join"), "mixture filter must not join")
  }

  test("q72: domain cap is ONE exchange (group window), no join") {
    val p = plan("q72_domain_cap")
    val hashExchanges = "Exchange hashpartitioning".r
      .findAllIn(p).size
    assert(hashExchanges == 1,
      s"expected exactly the per-source window exchange, got $hashExchanges:\n$p")
    assert(!p.contains("Join"), "cap must not join")
  }

  test("q71: token scoring broadcasts the vocab-sized frequency table") {
    val p = plan("q71_token_freq_score")
    assert(p.contains("BroadcastHashJoin"),
      s"freq table (vocab-sized << corpus) should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "token->freq join regressed to a sort-merge shuffle of the token stream")
  }

  test("q74: percentile threshold rides a broadcast, not a driver collect") {
    val p = plan("q74_percentile_filter")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"one-row threshold must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      "threshold join must not plan as a full cartesian product")
  }

  test("q77: epoch-weighted repetition is generate-only — ZERO data exchanges") {
    val p = plan("q77_epoch_weighted_repeat")
    assert(!p.contains("Exchange hashpartitioning"),
      s"row-local repetition must not shuffle:\n$p")
    assert(p.contains("Generate explode"), "copies come from one explode")
  }

  test("q78: negative sampling's only exchange is the payload join") {
    val p = plan("q78_negative_samples")
    // corpus count rides a broadcast; partner ids are computed row-locally
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"corpus count must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    // partner computation must never shuffle (the payload join broadcasts
    // at gate size; the only non-broadcast exchange allowed is the gate's
    // deterministic ORDER BY rangepartitioning)
    assert(!p.contains("Exchange hashpartitioning"),
      s"partner ids are row-local — no hash shuffle expected:\n$p")
  }

  test("q67: vocabulary is ONE map-side-combined aggregate + distributed top-k") {
    // the BENCH_r04 harness spikes (q67 11x) were chased to environment
    // contention, not a plan change — these pins make that claim checkable:
    // if the shape ever regresses (second shuffle, global sort) this fails
    // before any bench does
    val p = plan("q67_vocabulary")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition heaps, not a global Sort+Limit:\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"expected exactly the token-key exchange (map-side combined), got $hashExchanges:\n$p")
    assert(!p.contains("Generate explode(") || p.contains("HashAggregate"),
      "partial aggregation must collapse token counts before the shuffle")
  }

  test("q68: tfidf tokenizes the corpus ONCE — df reuses the tf exchange") {
    // AQE stage reuse only materializes at execution, so inspect the final
    // plan (same pattern as q12). The vacuous `tf >= 1` filter in
    // tfidfTopTerms exists exactly to keep the two (doc, tok) subtrees
    // plan-identical; if it's simplified away, the corpus gets scanned and
    // tokenized twice and this fails.
    val df = SparkEntry.queries("q68_tfidf_top_terms")(spark, sf)
    df.collect()
    // AdaptiveSparkPlan.toString prints the final AND the initial plan —
    // only the final one reflects runtime stage reuse
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"),
      s"n_docs factor must ride a broadcast, not a cartesian:\n$p")
    assert(p.contains("ReusedExchange"),
      s"df branch must reuse the tf (doc, tok) shuffle, not re-tokenize:\n$p")
    val tokenizingScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("text#"))
    assert(tokenizingScans == 1,
      s"expected ONE text-reading scan of documents, got $tokenizingScans:\n$p")
  }

  test("q86: PII redaction is row-local — ZERO data exchanges, no UDF") {
    val p = plan("q86_pii_redaction")
    // only the gate's deterministic ORDER BY (rangepartitioning) may appear
    assert(!p.contains("Exchange hashpartitioning"),
      s"redaction must not shuffle:\n$p")
    assert(!p.contains("Join"), "redaction must not join")
    assert(!p.toLowerCase.contains("scalaudf"),
      "regex scrub must stay codegen, not a scalar UDF")
  }

  test("q126: canonicalization is row-local codegen — no shuffle, no join, no UDF") {
    val p = plan("q126_unicode_canonical")
    assert(!p.contains("Exchange hashpartitioning"),
      s"canonicalize must not shuffle:\n$p")
    assert(!p.contains("Join"), "Spark side computes both forms from one scan")
    assert(p.contains("graft_unicode_norm"),
      s"native normalization expression must be in the plan:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"),
      "normalization must stay codegen, not a scalar UDF")
  }

  test("q127: weighted sample is a distributed top-k, never a global sort") {
    val p = plan("q127_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"A-ES selection must plan as per-partition heaps + driver merge:\n$p")
    assert(!p.contains("Join"), "selection is row-local + top-k only")
  }

  test("q128: containment candidates come from the shingle equi-join, never all-pairs") {
    val p = plan("q128_ngram_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment must block on shingle hash, not cross-join docs:\n$p")
    assert(p.contains("graft_shingle_hashes") || p.contains("graft_shingle_parts"),
      s"native fused shingle hashing must be in the plan:\n$p")
  }

  test("q131: z-order is one broadcast min/max + the native Morton kernel + one groupBy exchange") {
    val p = plan("q131_zorder_layout")
    assert(p.contains("graft_interleave_bits"),
      s"native Morton kernel must be in the plan:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"), "curve must stay codegen")
    // the min/max relation is one row: its join must be a broadcast, and
    // the only hash exchange is the zbucket aggregation
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"min/max bounds must ride a broadcast, not a shuffle:\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 1,
      s"expected at most the zbucket groupBy exchange, got $hashExchanges:\n$p")
  }

  test("q87: span dedup is TWO hash exchanges and ONE corpus scan — no join") {
    val p = plan("q87_span_dedup")
    // first-occurrence window keys on the 60-bit span hash; reassembly on
    // doc_id — a 3rd exchange or a Join means the groupBy-winner+join-back
    // form (which re-scans and re-splits the whole corpus) crept back
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 2,
      s"expected exactly 2 hash exchanges (span window, doc rebuild), got $hashExchanges:\n$p")
    assert(!p.contains("Join"), s"span dedup must not join:\n$p")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans == 1, s"expected ONE documents scan, got $scans:\n$p")
    assert(p.contains("graft_hash64"),
      s"span identity must be the shared 60-bit hash family:\n$p")
  }

  test("q64: per-doc repetition metrics plan with ZERO data exchanges") {
    val p = plan("q64_text_repetition")
    // the only allowed exchange is the gate's deterministic ORDER BY
    // (rangepartitioning); any hashpartitioning means the gram fold
    // regressed to an explode + groupBy shuffle
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-doc metric must not shuffle:\n$p")
    assert(!p.contains("Generate explode"),
      "grams must fold row-locally, not explode")
  }

  test("q91: k-means assignment is one codegen argmin kernel, no join") {
    val p = plan("q91_kmeans_fit")
    // round-16 shape: the model-sized codebook is collected once and the
    // assignment is ONE native argmin projection per corpus row
    // (graft_nearest_cell) — the r15 shape materialized n×k rows through
    // BroadcastNestedLoopJoin + groupBy(min(struct)) and paid one
    // exchange per Lloyd round
    assert(p.contains("graft_nearest_cell"),
      s"assignment must be the native argmin kernel:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"assignment must not join the corpus against the codebook:\n$p")
    // the only allowed exchange is the gate's deterministic ORDER BY
    assert(!p.contains("Exchange hashpartitioning"),
      s"assignment must not shuffle the corpus:\n$p")
  }

  test("q92: posting-list self-join is an equi join on term, never all-" +
    "pairs; the posting build runs ONCE via AQE stage reuse (shared-" +
    "build contract — no persist, no duplicate scan+shingle)") {
    val df = SparkEntry.queries("q92_sparse_cosine_pairs")(spark, sf)
    df.collect() // finalize THIS queryExecution's adaptive plan
    val pFull = df.queryExecution.executedPlan.toString
    assert(pFull.contains("isFinalPlan=true"))
    // the adaptive print appends the pre-execution tree under an
    // "== Initial Plan ==" header — every pin below reads the FINAL
    // section only, or reused stages would double-count
    val p = pFull.indexOf("== Initial Plan ==") match {
      case -1 => pFull
      case i  => pFull.substring(0, i)
    }
    assert(!p.contains("CartesianProduct"),
      s"inverted index degraded to all-pairs:\n$p")
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    // the only tolerated nested-loops are the 1-row n_docs scalar inside
    // the posting build, printed once per consumer branch (norms + the
    // two join sides + the trim); more means a real all-pairs
    // regression — CartesianProduct above is the hard pin
    assert(nlj <= 4, s"expected only the n_docs scalar NLJs, got $nlj:\n$p")
    // the term exchange under the three posting consumers must be the
    // SAME runtime stage: the final adaptive plan prints the second and
    // third consumers as ReusedExchange over the REPARTITION_BY_NUM
    // exchange — if this disappears, the corpus scan + shingle kernel
    // run once per consumer (the cost the r12 persist used to absorb)
    assert(p.contains("ReusedExchange"),
      s"posting-build exchange must be stage-reused across consumers:\n$p")
    assert(!p.contains("InMemoryRelation"),
      s"shared-build contract: no persisted postings expected:\n$p")
  }

  test("q102: every Q6 predicate reaches the parquet scan") {
    val p = plan("q102_tpch_q6_forecast_revenue")
    assert(p.contains("PushedFilters:"), s"no pushdown at all:\n$p")
    Seq("l_discount", "l_quantity", "l_shipdate").foreach { c =>
      val pushed = p.linesIterator.filter(_.contains("PushedFilters"))
        .exists(_.contains(c))
      assert(pushed, s"$c must be pushed to the scan:\n$p")
    }
  }

  test("q99: the equi key is factored out of the disjunctive filter") {
    val p = plan("q99_tpch_q19_disjunctive_filter")
    // p_partkey = l_partkey must survive as a hash-join key with the
    // brand/size/quantity residues as post-join (or pushed) filters; a
    // nested-loop join means the OR swallowed the equi condition
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"OR must not swallow the equi join key:\n$p")
  }

  test("q112: PageRank hands back materialized ranks, not a 3-round lineage") {
    val p = plan("q112_pagerank")
    // the operator materializes ranks internally (a localCheckpoint, then
    // releases the edge-sized cache), so the caller's plan is a sort over
    // the node-sized checkpoint — if the full iteration tree (source
    // scans, per-round joins) shows up here, every downstream action would
    // re-run all rounds
    assert(p.contains("Scan ExistingRDD"),
      s"returned ranks must come from the materialized checkpoint:\n$p")
    // a checkpoint prints no definition below it: the whole plan is what
    // executes downstream — no file scan may appear in it
    assert(!p.contains("FileScan"),
      s"downstream actions must not re-run the iteration lineage:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"rank joins must stay keyed:\n$p")
  }

  test("q49: the band self-join keys on (st, range bucket), never st alone") {
    val p = plan("q49_null_semantics")
    // the low-cardinality null-safe key must be accompanied by the
    // floor(key/2000) bucket in the join's EQUI keys — with only `st`,
    // candidate pairs per hash group grow quadratically with data; the
    // band predicate alone (a post-join filter) does not bound the join
    val joinLines = p.linesIterator
      .filter(l => l.contains("Join") && !l.contains("Generate")).toSeq
    assert(joinLines.exists(_.contains("bkt")),
      s"join keys must include the range bucket:\n$p")
    // and the bucket probe must be an equi key, not a residual condition:
    // SortMergeJoin/ShuffledHashJoin prints equi keys as [keys1], [keys2]
    assert(joinLines.exists(l =>
      l.contains("bkt_probe") && l.contains("bkt")),
      s"bkt_probe === bkt must be part of the equi join keys:\n$p")
  }

  test("q94/q98: the rewritten TPC-H shapes aggregate lineitem ONCE per key") {
    // q94: one per-partkey aggregate (count+sum in the same HashAggregate),
    // joined back — not two decorrelated aggregate+join branches
    val p94 = plan("q94_tpch_q17_small_qty_revenue")
    val aggsOnLineitem = p94.linesIterator
      .count(l => l.contains("HashAggregate") && l.contains("l_partkey"))
    assert(aggsOnLineitem <= 4, // one partial+final pair per exchange side
      s"q94 must compute count+sum in ONE per-partkey pass:\n$p94")
    // q98: the >150 bar and the output sum share one per-orderkey aggregate
    val p98 = plan("q98_tpch_q18_large_orders")
    val liScans = p98.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem"))
    assert(liScans == 1, s"q98 must scan lineitem exactly once:\n$p98")
  }

  test("q95/q89: one lineitem scan, all-codegen aggregates") {
    // q95: the EXISTS/NOT-EXISTS pair is ONE per-orderkey min/max/sum
    // aggregate — no Window sort, no collect_set ObjectHashAggregate, no
    // countDistinct Expand, and lineitem is scanned once
    val p95 = plan("q95_tpch_q21_waiting_supplier")
    assert(p95.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem")) == 1,
      s"q95 must scan lineitem exactly once:\n$p95")
    for (bad <- Seq("Window", "ObjectHashAggregate", "Expand"))
      assert(!p95.contains(bad), s"q95 must not plan a $bad:\n$p95")
    // q89: the p_size partkey filter lands BELOW the (partkey,suppkey)
    // aggregate — the broadcast semi join must consume the lineitem scan
    // directly (near-unique group keys make post-agg filtering ~3.5x the
    // aggregation work), and no distinct exchange feeds the supplier semi
    // join's probe set
    val p89 = plan("q89_tpch_q20_nested_in")
    assert(p89.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem")) == 1,
      s"q89 must scan lineitem exactly once:\n$p89")
    // tree prints parents first: the DEEPEST semi join (the part-size
    // probe, last in the text) must sit below the first HashAggregate
    val semiIdx = p89.lastIndexOf("LeftSemi")
    val aggIdx = p89.indexOf("HashAggregate")
    assert(semiIdx >= 0 && aggIdx >= 0 && semiIdx > aggIdx,
      s"q89's part-size semi join must sit below (deeper than) the " +
        s"per-(partkey,suppkey) aggregate:\n$p89")
    assert(!p89.contains("HashAggregate(keys=[ps_suppkey"),
      s"q89 must not plan a distinct on the semi-join probe set:\n$p89")
  }

  test("q119: interval coalescing is ONE exchange — the island aggregate " +
    "reuses the window partitioning") {
    val p = plan("q119_interval_coalesce")
    // the window hash-partitions on the key; groupBy(key, island_id) must
    // not add a second exchange (key is a prefix of the grouping), and the
    // final orderBy adds exactly one range exchange
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"expected exactly one hash exchange (key), got $hashExchanges:\n$p")
    assert(!p.contains("Join"), s"gaps-and-islands must not plan a join:\n$p")
  }

  test("round-8 single-key-shuffle family: exactly ONE hash exchange each " +
    "(window/groupBy share the key partitioning; only the output sort adds " +
    "a range exchange)") {
    for (n <- Seq("q146_gini_inequality", "q150_ewma",
        "q160_runlength_collapse", "q161_weighted_median",
        "q158_exact_stratified_split")) {
      val p = plan(n)
      val hashExchanges =
        p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(hashExchanges == 1,
        s"$n: expected ONE hash exchange, got $hashExchanges:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$n must not shuffle-join:\n$p")
    }
  }

  test("q150: the EWMA fold is codegen HOF, not a UDF") {
    val p = plan("q150_ewma")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"fold must stay native:\n$p")
    assert(p.contains("aggregate("), s"aggregate HOF expected in plan:\n$p")
  }

  test("q153: corpus side never broadcasts — only the ranked global " +
    "relation and the one-row count do") {
    val p = plan("q153_quantile_normalize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"the floor-position join must broadcast at gate scale:\n$p")
  }

  test("q152: all correlation sums ride ONE aggregate over one scan") {
    val p = plan("q152_corr_pairs")
    // one shuffle to the single reducer — since the Sum128 de-bottleneck
    // the aggregate keys on a constant (JIT-splittable hash-map path, see
    // corrPairsImpl), so the reducer exchange prints as hashpartitioning
    // on literal 0, not SinglePartition: same data movement, one entry.
    // A second scan or per-pair re-aggregation would add exchanges.
    val hashExchanges =
      p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    val constantKeyed =
      p.linesIterator.count(l => l.contains("Exchange hashpartitioning(0#"))
    val singleExchanges =
      p.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(hashExchanges == 1 && constantKeyed == 1 && singleExchanges == 0,
      s"expected exactly one constant-keyed reducer exchange, " +
        s"got hash=$hashExchanges constant=$constantKeyed " +
        s"single=$singleExchanges:\n$p")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"lineitem must be scanned once, got $scans:\n$p")
  }

  test("q178: prefix-join computes the shingle relation ONCE (cached " +
    "doc-set relation serves postings and both verify sides)") {
    val p = plan("q178_prefix_jaccard_join")
    // the doc-set relation feeds prefix postings and both verify sides via
    // its localCheckpoint; the naive shape re-derived the documents scan +
    // shingle kernel SIX times as live subtrees. Above the checkpoint the
    // kernel string does NOT appear in the plan at all (a checkpoint scan
    // prints no lineage), so its ABSENCE is the pin.
    val kernels = "graft_shingle_parts".r.findAllIn(p).size
    assert(kernels == 0,
      s"live shingle re-derivation crept back in ($kernels kernels):\n$p")
    val checkpointReads = p.linesIterator.count(_.contains("Scan ExistingRDD"))
    assert(checkpointReads >= 3,
      s"byDoc checkpoint must serve postings + both verify sides " +
        s"($checkpointReads checkpoint reads):\n$p")
  }

  test("q182: BM25 query/df/totals relations broadcast; corpus scans bounded") {
    val p = plan("q182_bm25_topk")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"),
      s"model-sized sides must broadcast, not sort-merge:\n$p")
  }

  test("q205: per-group want counts broadcast into the data relation; " +
    "the only data-sized exchanges are the group window and the tiny " +
    "count aggregate") {
    val p = plan("q205_mixture_rebalance")
    assert(p.contains("BroadcastHashJoin"),
      s"want table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join means the group-count side stopped " +
        s"broadcasting:\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 2,
      s"expected the lang window + lang count exchanges only, " +
        s"got $hashExchanges:\n$p")
  }

  test("q206: the bigram subtree is evaluated exactly twice (bucket " +
    "stats + per-doc pass) — totals must derive from the stats window, " +
    "never a third corpus explode; bucket ppm table broadcasts") {
    val p = plan("q206_hashed_ngram_shift")
    val explodes = p.linesIterator.count(_.contains("Generate explode"))
    assert(explodes == 2,
      s"expected 2 bigram explodes (stats + per-doc), got $explodes:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket ppm table must broadcast into the per-doc pass:\n$p")
  }

  test("q224: the event_type predicate prunes PARTITIONS (directory " +
    "skip), never a row filter over the full scan") {
    // build the read side directly — the gate body writes a temp layout
    val tmp = java.nio.file.Files.createTempDirectory("graft-prune-pin")
      .toString + "/events_by_type"
    graft.ops.Output.writeHivePartitioned(
      graft.Tables.table(spark, sf, "events")
        .select("event_type", "value", "user_id"),
      tmp, Seq("event_type"))
    val read = graft.ops.Output.readHivePartitioned(spark, tmp)
      .filter(org.apache.spark.sql.functions.col("event_type")
        .isin("click", "purchase"))
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [event_type#"),
      s"partition predicate must reach PartitionFilters:\n$p")
    assert(p.contains(" IN (click,purchase"),
      s"IN-list must prune directories:\n$p")
    // the data filter list must stay empty — pruning replaces filtering
    assert(p.contains("PushedFilters: []"),
      s"no residual row-level filter expected:\n$p")
    // and the scan must actually see only the 2 matching directories
    val scanned = read.select("event_type").distinct().collect().map(_.getString(0)).sorted
    assert(scanned.sameElements(Array("click", "purchase")))
  }

  test("q222: suffix blocklist plans as EQUI joins — a LIKE/endswith " +
    "formulation would appear as BroadcastNestedLoopJoin") {
    val p = plan("q222_blocklist_suffix")
    assert(!p.contains("BroadcastNestedLoop"),
      s"suffix match must be an equi-join on exploded label-suffixes:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
    assert(p.contains("Generate explode"),
      s"label-suffix explode missing — the equi-key source:\n$p")
  }

  test("q229: triplet candidates ride an explicit-count repartition on " +
    "the bucket key (the expansion-join rule), never AQE-coalesced") {
    val p = plan("q229_triplet_mining")
    assert(p.contains("REPARTITION_BY_NUM"),
      s"expansion repartition pin missing from the bucket self-join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"candidates must come from the sig equi-join only:\n$p")
  }

  test("q216: the wedge expansion reads the hub-capped adjacency — the " +
    "deg <= maxDegree cut and the explicit-count repartition are both " +
    "in the plan (a mega-hub can never re-enter the deg-squared join)") {
    val p = plan("q216_common_neighbors")
    assert(p.contains("(deg#") && p.contains("<= 10000"),
      s"maxDegree cap filter missing from the adjacency build:\n$p")
    assert(p.contains("REPARTITION_BY_NUM") || p.contains("InMemory"),
      s"expansion repartition (or its cached result) pin missing:\n$p")
  }

  test("pagerank round: the per-iteration join reuses the cached " +
    "src-partitioned edge layout — no edge-side exchange per round " +
    "(per-round cost = node-sized ranks shuffle + contribution agg)") {
    import org.apache.spark.sql.functions._
    import graft.ops.Graph
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ewd = Graph.prEdgeLayout(e, deg).persist()
    try {
      ewd.count() // materialize the cached layout, as pageRank does
      val ranks = e.select(col("src").as("node")).distinct()
        .withColumn("rank", lit(1000000L))
      val p = Graph.prContribs(ewd, ranks)
        .queryExecution.executedPlan.toString
      assert(p.contains("InMemoryTableScan"),
        s"round join must read the cached edge layout:\n$p")
      // tolerated exchanges in the LIVE round plan (everything above the
      // InMemoryRelation line — below it is the one-time cached-build
      // lineage printout): the node-sized ranks side entering the join
      // + the (map-side-combined) dst aggregate. An edge-side exchange
      // would appear here too and break the round-cost contract.
      val live = aboveCache(p)
      val exchanges = live.linesIterator
        .count(l => l.contains("Exchange") && !l.contains("Broadcast"))
      assert(exchanges <= 2,
        s"edge side must not re-exchange (got $exchanges):\n$p")
    } finally ewd.unpersist()
  }

  test("q233: the token-bucket scan is ONE key exchange + ONE " +
    "partition-local sort — no global sort, no second shuffle") {
    val p = plan("q233_token_bucket")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    // key repartition + the final orderBy range exchange on the summary
    assert(exchanges <= 3, s"unexpected extra shuffles:\n$p")
    assert(p.contains("Sort") && !p.contains("Exchange SinglePartition"),
      s"sort must stay partition-local after the key exchange:\n$p")
  }

  test("q241: the maxPairs cap plans as TakeOrderedAndProject (per-" +
    "partition top-k, only kept rows shuffle) — never a global Sort of " +
    "the full pair output; the truncation window rides the k+1-row " +
    "result, not the pair relation") {
    val p = plan("q241_capped_exact_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy(...).limit(k+1) must compile to a distributed top-k:\n$p")
    // a range-partitioned global sort of the VERIFIED pair relation
    // (before the top-k) would re-introduce the output-sized shuffle the
    // cap exists to avoid; the only rangepartitioning allowed is the
    // gate's final tiny orderBy over <= 50 rows ABOVE the window
    val belowTopK = p.substring(p.indexOf("TakeOrderedAndProject"))
    assert(!belowTopK.contains("rangepartitioning"),
      s"global sort below the top-k (output-sized shuffle):\n$p")
  }

  test("label-propagation round: the join reads the cached src-" +
    "partitioned edge layout — no edge-side exchange per round (per-" +
    "round shuffle = node-sized labels + map-side-combined counts)") {
    import org.apache.spark.sql.functions._
    import graft.ops.Graph
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
      .repartition(col("src")).sortWithinPartitions("src").persist()
    try {
      e.count() // materialize, as labelPropagation does
      val labels = e.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
      val p = Graph.lpRound(e, labels)
        .queryExecution.executedPlan.toString
      assert(p.contains("InMemoryTableScan"),
        s"round join must read the cached edge layout:\n$p")
      // live plan above the cached-build lineage: labels entering the
      // join + (dst,label) count agg + dst argmax agg — never the edges
      val live = aboveCache(p)
      val exchanges = live.linesIterator
        .count(l => l.contains("Exchange") && !l.contains("Broadcast"))
      assert(exchanges <= 3,
        s"edge side must not re-exchange (got $exchanges):\n$p")
    } finally e.unpersist()
  }

  test("q246: the cosine cap plans as TakeOrderedAndProject — only kept " +
    "rows shuffle; no global sort of the pair relation below the top-k") {
    val p = plan("q246_capped_cosine_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy(...).limit(k+1) must compile to a distributed top-k:\n$p")
    val belowTopK = p.substring(p.indexOf("TakeOrderedAndProject"))
    assert(!belowTopK.contains("rangepartitioning"),
      s"global sort below the top-k (output-sized shuffle):\n$p")
  }

  test("q242: rendezvous scoring is ROW-LOCAL — no explode over shards, " +
    "no join, and the only hash exchange is the source-sized census") {
    val p = plan("q242_rendezvous_moves")
    assert(!p.contains("Generate"),
      s"HRW must score via transform(), not explode:\n$p")
    assert(!p.contains("Join"), s"HRW must not join a shard relation:\n$p")
    val hashExchanges =
      p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"expected ONE census exchange, got $hashExchanges:\n$p")
  }

  test("q243: the compaction planner is manifest-sized — file census + " +
    "source window share two hash exchanges; the final group aggregate " +
    "reuses the window's source partitioning (subset rule), no join") {
    val p = plan("q243_compaction_plan")
    assert(!p.contains("Join"), s"planner must not join:\n$p")
    val hashExchanges =
      p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 2,
      s"expected <=2 hash exchanges (census + window), got $hashExchanges:\n$p")
    assert(p.contains("Window"), s"cumulative size must be ONE window:\n$p")
  }

  test("q249: dup-line filter tokenizes ONCE — one explode, no join, the " +
    "line-hash window rides the (sh, doc) aggregate's exchange") {
    val p = plan("q249_dup_line_doc_filter")
    val explodes = p.linesIterator.count(_.contains("Generate explode"))
    assert(explodes == 1,
      s"census+join-back re-tokenization crept back in ($explodes explodes):\n$p")
    assert(!p.contains("Join"), s"no self-join in the single-pass shape:\n$p")
    assert(p.contains("Window"), s"per-line doc count must be a window:\n$p")
  }

  test("q251: rolling distinct collapses to the (key, day) relation FIRST " +
    "(partial distinct before the explode) and broadcasts the max-day " +
    "scalar — no sort-merge join, one bounded explode") {
    val p = plan("q251_rolling_distinct_users")
    assert(!p.contains("SortMergeJoin"),
      s"the 1-row max-day side must broadcast:\n$p")
    val explodes = p.linesIterator.count(_.contains("Generate explode"))
    assert(explodes == 1, s"expected the one window-end explode:\n$p")
    // the distinct (key, day) aggregate must sit BELOW the explode: the
    // first HashAggregate pair appears before any Generate in the
    // bottom-up plan string (executedPlan prints top-down, so the
    // aggregate line index is GREATER than the explode's)
    val lines = p.linesIterator.toSeq
    val genIdx = lines.indexWhere(_.contains("Generate explode"))
    val aggBelow = lines.drop(genIdx + 1).exists(_.contains("HashAggregate"))
    assert(genIdx >= 0 && aggBelow,
      s"corpus must collapse to distinct (key, day) BEFORE exploding:\n$p")
  }

  test("q262: chunking is row-local — the ONLY exchange is the gate's " +
    "final ORDER BY (a range partition), no hash shuffle, no join") {
    val p = plan("q262_rag_chunking")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"chunking must not join:\n$p")
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx == 0, s"row-local op must not hash-shuffle:\n$p")
    val rangeEx = p.linesIterator
      .count(l => l.contains("Exchange rangepartitioning"))
    assert(rangeEx == 1, s"exactly the ORDER BY exchange:\n$p")
  }

  test("q272: winnowing's window partitions BY DOCUMENT — no " +
    "unpartitioned window anywhere in the plan") {
    val p = plan("q272_winnowing")
    // an unpartitioned window plans as 'Window [...] ORDER BY' with an
    // Exchange SinglePartition feeding it
    assert(!p.contains("SinglePartition"),
      s"winnowing must never collapse to one partition:\n$p")
    assert(p.contains("Window"), s"expected the per-doc min window:\n$p")
  }

  test("q258: the 11-rule battery is ONE documents scan — signals and " +
    "dup-line census share the native single-pass block") {
    val p = plan("q258_gopher_battery").split("== Initial Plan ==")(0)
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans == 1, s"expected ONE documents scan, got $scans:\n$p")
    assert(p.contains("graft_gopher_signals"),
      s"native signal block must be in the plan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"signals ride the census aggregation, not a doc-keyed join:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"),
      "signal block must stay codegen, not a scalar UDF")
  }

  test("q273: the fingerprint relation materializes ONCE — both self-" +
    "join sides read the checkpointed (doc, fp) RDD, no re-tokenize") {
    val p = plan("q273_moss_matcher").split("== Initial Plan ==")(0)
    assert(!p.contains("Scan parquet"),
      s"both sides must feed from the checkpointed fps, not re-scan:\n$p")
    val rddScans = p.linesIterator.count(_.contains("Scan ExistingRDD"))
    assert(rddScans == 2,
      s"expected both join sides on the one checkpointed relation, " +
        s"got $rddScans:\n$p")
  }

  test("q273: no shuffle between the fingerprints and their checkpoint") {
    // two shuffle stages: the doc-keyed repartition before hashing and the
    // pair count (the self-join broadcasts at this scale). A checkpoint
    // keeps no partitioning (ops.withPersisted), so a repartition on fp
    // before it is a third stage whose layout no consumer reads
    val stages = shuffleStagesRun(
      SparkEntry.queries("q273_moss_matcher")(spark, sf).collect())
    assert(stages == 2, s"shuffle stages: $stages")
  }

  test("q281: the C4 rewrite is ROW-LOCAL — no join, no hash exchange, " +
    "only the ORDER BY's range partition") {
    val p = plan("q281_c4_line_filter")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"line filtering must not join:\n$p")
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx == 0, s"row-local op must not hash-shuffle:\n$p")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans == 1, s"expected ONE documents scan, got $scans:\n$p")
  }

  test("q282: ONE heavy gram explode — the stride-1 subtree feeds only " +
    "the census window; n_grams is arithmetic on the output scan") {
    val p = plan("q282_exact_substring_dedup").split("== Initial Plan ==")(0)
    val gens = p.linesIterator.count(_.contains("Generate explode"))
    assert(gens == 1,
      s"expected exactly one gram explode, got $gens:\n$p")
    // the census is keyed by the 60-bit gram hash, never one partition
    assert(!p.contains("SinglePartition"),
      s"gram census must never collapse to one partition:\n$p")
  }
}
