package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table profiling: per-column row/non-null/distinct counts and min/max,
  * in long format — the data-quality snapshot a curation pipeline takes
  * before and after every stage (and diffs between runs).
  *
  * ONE scan: all columns' aggregates evaluate in a single global
  * aggregation, then `stack` unpivots the 1-row wide result into one row
  * per column (driver-side-free: the wide row is a single-row DataFrame).
  *
  * Distinct counts are exact: `count(distinct c)` per column, which
  * plans an Expand of the scan ×(columns+1).
  *
  * min/max stringify (`CAST AS STRING`) so heterogeneous column types
  * share one schema; keep double columns out of `cols` when oracle
  * parity matters (float formatting differs across engines).
  */
object Profile {

  /** Column names must be simple identifiers (they are spliced into the
    * `stack` SQL string; a quote or backtick would break parsing) and
    * unique (duplicates would alias-collide in the aggregate). */
  private val SafeName = "[A-Za-z_][A-Za-z0-9_]*".r

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    require(cols.distinct.size == cols.size,
      s"duplicate columns in profile list: ${cols.diff(cols.distinct).mkString(", ")}")
    val unsafe = cols.filterNot(SafeName.matches)
    require(unsafe.isEmpty,
      s"profile column names must be simple identifiers, got: ${unsafe.mkString(", ")}")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stackArgs = cols.map(c =>
      s"'$c', `__nn_$c`, `__nd_$c`, `__mn_$c`, `__mx_$c`").mkString(", ")
    wide.select(
      expr(s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n_nonnull, n_distinct, min_v, max_v)"),
      col("__n").as("n_rows"))
      .select(col("col_name"), col("n_rows"), col("n_nonnull"),
        (col("n_rows") - col("n_nonnull")).as("n_null"),
        col("n_distinct"), col("min_v"), col("max_v"))
  }

  /** Heavy-hitter census per key column — the skew diagnostic that tells
    * you WHEN a join/aggregation on this key needs
    * [[graft.ops.Skew.saltedJoin]] or AQE skew handling, BEFORE the job
    * that would discover it by dying. A key holding >~1/shuffle-partitions
    * of the table is a straggler in any hash-partitioned stage.
    *
    * ONE table scan for every column: values explode to (column, value)
    * pairs and aggregate map-side-combined in a single exchange; the
    * per-column totals and top-k then run over the (already tiny)
    * distinct-value relation — never a global sort, never a second scan.
    *
    * `share_ppm` is the exact integer `cnt * 1e6 div n_rows` (engine-
    * portable — no float division). `n_rows` counts ALL rows including
    * null keys, so shares reflect real partition pressure; null keys
    * themselves are excluded from the hitter list ([[profile]] already
    * reports null counts).
    *
    * Output: topK rows per column, (col_name, key_value, cnt, share_ppm,
    * rank), rank by (cnt desc, key_value asc).
    */
  def keySkew(df: DataFrame, cols: Seq[String], topK: Int = 10): DataFrame = {
    require(cols.nonEmpty, "keySkew needs at least one column")
    require(topK > 0, s"topK must be positive, got $topK")
    require(cols.distinct.size == cols.size,
      s"duplicate columns in keySkew list: ${cols.diff(cols.distinct).mkString(", ")}")
    val names = array(cols.map(lit): _*)
    val pairs = df.select(posexplode(
      array(cols.map(c => col(c).cast("string")): _*)).as(Seq("_ci", "key_value")))
    val counts = pairs.groupBy(col("_ci"), col("key_value"))
      .agg(count(lit(1)).as("cnt"))
    import org.apache.spark.sql.expressions.Window
    val perCol = Window.partitionBy(col("_ci"))
    val rankW = Window.partitionBy(col("_ci"))
      .orderBy(col("cnt").desc, col("key_value").asc)
    counts
      .withColumn("n_rows", sum(col("cnt")).over(perCol))
      .filter(col("key_value").isNotNull)
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= topK)
      .select(element_at(names, col("_ci") + 1).as("col_name"),
        col("key_value"), col("cnt"),
        expr("(cnt * 1000000) div n_rows").as("share_ppm"), col("rank"))
  }

  /** Robust per-group outlier statistics — median/MAD, the quality filter
    * that survives what mean/stddev cannot: a corpus whose length column
    * has heavy tails (the normal case) yields a stddev so inflated that
    * z-score cuts keep the junk; the median absolute deviation is immune
    * to the tail it is trying to catch (50% breakdown point).
    *
    * Per group: exact interpolated median of `valueCol`, MAD, and the
    * count of rows with |x - median| > cutoff·MAD. Exact order statistics
    * (the q43 engine-parity convention), two grouped aggregates with the
    * group stats broadcast back — no window over the full data, no
    * driver-side state. A group with MAD = 0 (over half its rows at the
    * median) reports zero outliers rather than dividing by zero — callers
    * wanting a fallback scale can filter on the returned mad column.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  cutoff: Double = 3.0): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5d)").as("med"))
    val dev = df.join(broadcast(med), groupCol)
      .withColumn("__dev", abs(col(valueCol) - col("med")))
    val mad = dev.groupBy(col(groupCol), col("med"))
      .agg(expr("percentile(__dev, 0.5d)").as("mad"))
    dev.drop("med")
      .join(broadcast(mad), groupCol)
      .groupBy(col(groupCol), col("med"), col("mad"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("mad") > 0 && col("__dev") > lit(cutoff) * col("mad"),
          1)).as("n_outliers"))
  }

  /** Per-group winsorized statistics: values below the group's `lo`
    * quantile clip up to it, values above the `hi` quantile clip down —
    * the heavy-tail-taming normalization applied to document lengths /
    * quality scores before they feed a training mix. Same two-pass shape
    * as [[madOutliers]]: exact interpolated quantiles per group (sort-
    * based order statistic, engine-portable), broadcast back, then ONE
    * aggregate. The winsorized mean is assembled from exact parts —
    * inlier sum as BIGINT, clip counts, the two thresholds — in a single
    * fixed-shape double expression, so no float accumulates across rows
    * in a partition-order-dependent way.
    *
    * Output: (group, n, p_lo, p_hi, n_lo, n_hi, wins_mean), unordered.
    */
  /** Per-group equal-frequency binning: rank rows within each group by
    * (value, tiebreak id) and deal them into `nBins` ntile buckets, then
    * report each bucket's population and value range — the feature-
    * bucketization primitive (quantile features, calibration bins,
    * difficulty tiers for curriculum mixes). The id tiebreak makes the
    * deal deterministic across engines and partitionings; ntile's
    * larger-buckets-first remainder rule is shared SQL semantics.
    *
    * Scale shape: ONE shuffle (window partitioned by group — the in-group
    * sort is the honest cost of exact quantile ranks); the per-bin
    * aggregate reuses the same key. For groups too large to sort, the
    * approximate sibling is percentile-threshold bucketing via [[profile]]
    * sketches — this operator is the exact contrast.
    *
    * Output: (group, bin 1-based INT, n, lo, hi), unordered.
    */
  def quantileBins(df: DataFrame, groupCol: String, valueCol: String,
                   idCol: String, nBins: Int): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1: $nBins")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol), col(idCol))
    df.withColumn("bin", ntile(nBins).over(w))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n"), min(col(valueCol)).as("lo"),
        max(col(valueCol)).as("hi"))
  }

  /** Per-group Gini inequality coefficient in exact parts-per-million —
    * the data-balance diagnostic for corpus construction ("is 90% of this
    * source's volume in 1% of its documents?"). High Gini on document
    * length or per-domain volume flags sources whose token mass a naive
    * uniform doc sample would misrepresent.
    *
    * Exact integer form of the sorted-prefix identity: with x sorted
    * ascending and i the 1-based rank,
    * G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) — all BIGINT until one
    * floor division to ppm (Chebyshev's sum inequality keeps the
    * numerator non-negative for the sorted order, so trunc = floor).
    * No float accumulation, bit-identical in any engine.
    *
    * Values must be non-negative with a positive group sum (lengths,
    * counts, bytes — the inequality use case); the id column makes the
    * rank deterministic under value ties.
    *
    * Scale shape: ONE shuffle (window partitioned by group; the in-group
    * sort is the honest cost of exact ranks — same bound as
    * [[quantileBins]]); the per-group aggregate reuses the key.
    *
    * Output: (group, n, total, gini_ppm), unordered.
    */
  def giniPpm(df: DataFrame, groupCol: String, valueCol: String,
              idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("_x"), col(idCol))
    df.select(col(groupCol), col(valueCol).cast("long").as("_x"), col(idCol))
      .withColumn("_i", row_number().over(w).cast("long"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col("_x")).as("total"),
        // numerator through DECIMAL(38,0): the int64 form wraps silently
        // at ~n·total·1e6 > 2⁶³ — exactly the big-skewed-group case this
        // op exists to flag (the distinctiveTerms/pmiPairs discipline);
        // final ppm is small, so the narrowing cast back is exact
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * " +
          "(2 * sum(CAST(_i * _x AS DECIMAL(38,0))) - " +
          "(count(1) + 1) * sum(CAST(_x AS DECIMAL(38,0))))) div " +
          "(count(1) * sum(CAST(_x AS DECIMAL(38,0)))) AS BIGINT)")
          .as("gini_ppm"))
  }

  /** Referential-integrity audit over declared foreign-key edges — the
    * pre-flight joinability check a pipeline runs before trusting an
    * equi-join (orphan children silently vanish from inner joins and
    * inflate outer-join null groups). Each edge is
    * (label, child, fkCol, parent, pkCol).
    *
    * Output: (edge, n_child, n_fk_nonnull, n_orphans) — one row per edge,
    * where n_orphans counts non-null child keys with no parent match.
    *
    * Shape at 100 TB: per edge, ONE left join of the child's key column
    * against the parent's DISTINCT key relation (dimension-sized sides
    * broadcast under the planner's threshold; fact-to-fact edges shuffle
    * on the key) feeding a single aggregate — the child is scanned once
    * per edge with only the key column read (pruned ReadSchema). Edges
    * evaluate independently; the result union is |edges| one-row frames.
    */
  def fkAudit(edges: Seq[(String, DataFrame, String, DataFrame, String)])
      : DataFrame = {
    require(edges.nonEmpty, "fkAudit needs at least one edge")
    edges.map { case (label, child, fkCol, parent, pkCol) =>
      child.select(col(fkCol).as("_fk"))
        .join(parent.select(col(pkCol).as("_pk")).distinct(),
          col("_fk") === col("_pk"), "left")
        .agg(
          count(lit(1)).as("n_child"),
          count(col("_fk")).as("n_fk_nonnull"),
          // empty child table: sum() over zero rows is NULL, but "no
          // orphans measured over zero children" is 0, not unknown
          coalesce(sum(when(col("_fk").isNotNull && col("_pk").isNull, 1L)
            .otherwise(0L)), lit(0L)).as("n_orphans"))
        .select(lit(label).as("edge"), col("n_child"),
          col("n_fk_nonnull"), col("n_orphans"))
    }.reduce(_ unionAll _)
  }

  /** Pairwise Pearson correlation over 2-decimal money/measure columns,
    * assembled from EXACT integer parts — the feature-redundancy screen
    * (drop one of two near-collinear quality signals before mixing
    * scores). Spark's `corr` aggregates doubles in partition order and
    * can never hash-match an oracle; here every sum (Σx, Σx², Σxy) is
    * exact (cents via DECIMAL(18,2)·100, sums in DECIMAL(38,0) — immune
    * to int64 overflow at 100 TB row counts), and the final
    * corr = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²))
    * is a fixed-shape IEEE expression over those exact parts —
    * deterministic in any engine, any partitioning.
    *
    * Shape at 100 TB: ONE scan, ONE global aggregate computing all
    * |cols| sums + squares and |cols|·(|cols|−1)/2 cross-products
    * map-side combined into a single row; `stack` unpivots that row into
    * the pair relation. Adding a column adds expressions, not passes.
    *
    * Output: (col_a, col_b, n, corr DOUBLE), one row per unordered pair
    * in the caller's column order. Zero-variance columns yield null corr
    * (0/0) rather than failing.
    */
  def corrPairs(df: DataFrame, cols: Seq[String]): DataFrame =
    corrPairsImpl(df, Nil, cols)

  /** [[corrPairs]] per group — does the quantity/price relationship hold
    * within every segment, or is the global correlation a mix artifact
    * (Simpson's-paradox audit)? Same single-scan exact-parts shape; the
    * one aggregate keys on the group, so groups parallelize instead of
    * funneling into the global single partition.
    */
  def corrPairsByGroup(df: DataFrame, groupCol: String,
                       cols: Seq[String]): DataFrame =
    corrPairsImpl(df, Seq(groupCol), cols)

  private def corrPairsImpl(df: DataFrame, groupCols: Seq[String],
                            cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"corrPairs needs >= 2 columns, got $cols")
    require(cols.distinct.size == cols.size, s"duplicate columns: $cols")
    val unsafe = cols.filterNot(SafeName.matches)
    require(unsafe.isEmpty, s"column names must be simple identifiers: $unsafe")
    // per-row arithmetic stays in LONG (a cents product of two 2-decimal
    // measures fits int64 up to ~±3·10⁹ per column — far beyond money
    // ranges); only the cross-row SUMS are 128-bit, where the int64
    // overflow actually lives at 100 TB row counts. Cents come from
    // round(x·100) in DOUBLE, not a DECIMAL(18,2) cast: both are HALF_UP,
    // and for any |x| ≲ 9·10¹¹ the float error of x·100 is far below the
    // 0.5 rounding slack, so the two paths agree on every input — while
    // the decimal cast allocates a BigDecimal per row and was the single
    // largest per-row cost of the whole matrix scan.
    val cents = cols.map(c =>
      round(col(c) * 100).cast("long").as("_c_" + c))
    val base0 = df.select(groupCols.map(col) ++ cents: _*)
    // Feed every core even when the source can't: parquet splits at row
    // -group granularity, so a single-row-group file (the shape of the
    // small-SF test tables) hands the ENTIRE scan+update loop to one task
    // — measured as the whole cost of this operator. When the planned
    // split count can't occupy half the cluster, spread the narrow cents
    // projection (a few longs per row) with one round-robin shuffle; on
    // real many-row-group data the guard sees enough splits and the plan
    // stays exchange-free. base0 has no exchanges, so .rdd here only
    // compiles the plan — it cannot trigger a job.
    val par = Partitions.base(df.sparkSession)
    val base =
      if (base0.rdd.getNumPartitions * 2 < par) base0.repartition(par)
      else base0
    val pairs = cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    // PAIRWISE-COMPLETE statistics (Spark's own corr convention): every
    // stat for pair (a, b) covers exactly the rows where BOTH are
    // non-null. Sharing per-column sums across pairs looks cheaper but is
    // wrong under nulls — n would count rows the null-skipping sums drop,
    // which skews corr arbitrarily (it can even flip sign); a value
    // overflowing DECIMAL(18,2) nulls out and corrupts identically.
    // Sum128, not sum(.cast(DECIMAL(38,0))): same null-skipping exact
    // 128-bit semantics, but the running sums live in two codegen longs
    // instead of a per-row BigDecimal add — on a 4-column matrix this is
    // 36 aggregate buffers touched per row, and the decimal form made the
    // buffer updates (not the scan) the dominant cost.
    val aggs = pairs.flatMap { case (a, b) =>
      val ca = col("_c_" + a); val cb = col("_c_" + b)
      val both = ca.isNotNull && cb.isNotNull
      Seq(
        graft.expressions.Sum128(when(both, 1L)).as(s"_n_${a}_$b"),
        graft.expressions.Sum128(when(both, ca)).as(s"_sa_${a}_$b"),
        graft.expressions.Sum128(when(both, cb)).as(s"_sb_${a}_$b"),
        graft.expressions.Sum128(when(both, ca * ca)).as(s"_qa_${a}_$b"),
        graft.expressions.Sum128(when(both, cb * cb)).as(s"_qb_${a}_$b"),
        graft.expressions.Sum128(when(both, ca * cb)).as(s"_p_${a}_$b"))
    }
    // A GROUPED HashAggregate even when the matrix is global: with no
    // grouping key the wide buffer set lives as local variables in one
    // unsplittable whole-stage-codegen method, which blows past the JIT's
    // huge-method limit at ~36 buffers and drops the hot loop to
    // interpreted bytecode (measured 3× slower than the same aggregate
    // keyed on a constant). The constant key routes through the unsafe-row
    // hash-map path whose update code Spark splits into JIT-able
    // functions; the map holds exactly one entry, so the detour is free.
    val effGroups = if (groupCols.isEmpty) Seq(lit(0).as("_g")) else groupCols.map(col)
    val wide0 = base.groupBy(effGroups: _*).agg(aggs.head, aggs.tail: _*)
    val wide = if (groupCols.isEmpty) wide0.drop("_g") else wide0
    val stackArgs = pairs.map { case (a, b) =>
      s"'$a', '$b', coalesce(`_n_${a}_$b`, CAST(0 AS DECIMAL(38,0))), " +
        s"`_sa_${a}_$b`, `_sb_${a}_$b`, `_qa_${a}_$b`, `_qb_${a}_$b`, " +
        s"`_p_${a}_$b`"
    }.mkString(", ")
    wide.select(groupCols.map(col) :+
        expr(s"stack(${pairs.size}, $stackArgs) AS " +
          "(col_a, col_b, _n, sa, sb, qa, qb, sab)"): _*)
      .select(groupCols.map(col) ++ Seq(col("col_a"), col("col_b"),
        col("_n").cast("long").as("n")) :+ {
        val num = (col("_n") * col("sab") - col("sa") * col("sb"))
          .cast("double")
        val denom =
          sqrt((col("_n") * col("qa") - col("sa") * col("sa"))
            .cast("double")) *
          sqrt((col("_n") * col("qb") - col("sb") * col("sb"))
            .cast("double"))
        // zero-variance column → undefined correlation → null (ANSI-safe)
        when(denom === 0.0, lit(null).cast("double"))
          .otherwise(num / denom).as("corr")
      }: _*)
  }

  /** Per-group exact weighted median (lower weighted median: the smallest
    * value whose cumulative weight reaches half the total, 2·cum ≥ total
    * in pure integers) — "the doc length below which half the corpus
    * TOKEN MASS sits", vs the row-median that treats a 10-token and a
    * 10k-token doc equally. All-integer rule: engine-portable, no
    * interpolation.
    *
    * Shape at 100 TB: ONE group window (running weight over the
    * deterministic (value, id) order) + the per-group aggregate on the
    * same key.
    *
    * Output: (group, n, total_w, w_median), unordered.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("_v"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.select(col(groupCol), col(valueCol).cast("long").as("_v"),
        col(weightCol).cast("long").as("_w"), col(idCol))
      .withColumn("_cum", sum(col("_w")).over(w))
      .withColumn("_tot", sum(col("_w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), max(col("_tot")).as("total_w"),
        min(when(col("_cum") * 2 >= col("_tot"), col("_v"))).as("w_median"))
  }

  /** Per-group Spearman rank correlation — [[corrPairs]]'s robust sibling:
    * invariant under any monotone transform of either column, so it
    * detects "longer docs score higher" relationships a Pearson on raw
    * values understates under heavy tails. Ranks are `row_number` over
    * (value, tieCols) — deterministic dense total order, NOT average
    * ranks (tie policy pinned by the tie columns; with real-valued
    * measures ties are rare and the id tiebreak makes the result
    * engine-portable). ρ = 1 − 6Σd²/(n(n²−1)) with Σd² an exact
    * DECIMAL(38,0) sum and ONE trailing IEEE division; groups of size 1
    * yield null.
    *
    * Shape at 100 TB: both rank windows share the group hash partitioning
    * (one exchange, two in-partition sorts), then one aggregate on the
    * same key. No global sort — the grouped form scales where a
    * whole-table Spearman would not.
    *
    * Output: (group, n, rho DOUBLE), unordered.
    */
  def spearmanByGroup(df: DataFrame, groupCol: String, aCol: String,
                      bCol: String, tieCols: Seq[String]): DataFrame = {
    require(tieCols.nonEmpty, "tieCols must pin a deterministic order")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy((col(aCol) +: tieCols.map(col)): _*)
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy((col(bCol) +: tieCols.map(col)): _*)
    df.select((Seq(groupCol, aCol, bCol) ++ tieCols).distinct.map(col): _*)
      .withColumn("_rx", row_number().over(wA).cast("long"))
      .withColumn("_ry", row_number().over(wB).cast("long"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(((col("_rx") - col("_ry")) * (col("_rx") - col("_ry")))
          .cast(dec)).as("_sd2"))
      .select(col(groupCol), col("n"), {
        val nd = col("n").cast(dec)
        val denom = (nd * (nd * nd - 1)).cast("double")
        when(col("n") <= 1, lit(null).cast("double"))
          .otherwise(lit(1.0) -
            (lit(6).cast(dec) * col("_sd2")).cast("double") / denom)
          .as("rho")
      })
  }

  /** Cross-source quantile normalization — map each group's score
    * distribution onto the GLOBAL distribution so thresholds compare
    * across sources (a length-900 doc can be p90 for web text but p10
    * for books; one fixed cut over raw scores misrepresents both).
    * Each row gets its within-group rank in exact ppm
    * (r = 10⁶·(rank−1) div (n−1); singleton groups pin to the median),
    * then the global value at that same rank fraction by exact
    * interpolated order statistic: position 1 + (n_g−1)·r/10⁶ held as
    * an integer (floorPos, frac-ppm) pair, one final fixed-shape IEEE
    * interpolation between the two neighboring global order statistics.
    *
    * Shape: one window per side — group-partitioned ranks (parallel)
    * and the global rank+lead window (single total sort: the EXACT
    * contrast form, same posture as q55/q05's exact twins) — then ONE
    * equi-join on the integer floor position. No correlated subqueries,
    * no collect.
    *
    * Output: (idCol, groupCol, value, rank_ppm, norm DOUBLE), one row
    * per input row.
    */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
                        idCol: String): DataFrame = {
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("_v"), col(idCol))
    val wSn = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    // INTEGER-VALUED contract, enforced (this op's rank/grid math is
    // integer throughout): a fractional value would silently truncate to
    // its floor — e.g. every quality score in [0,1) collapsing to 0 and
    // all ranks decided by the id tiebreak — so reject it loudly
    val rawV = col(valueCol).cast("long")
    val checkedV = when(col(valueCol).cast("double") =!=
        rawV.cast("double"),
      raise_error(concat(
        lit(s"quantileNormalize: $valueCol must be integer-valued, got "),
        col(valueCol).cast("string")))).otherwise(rawV)
    val src = df
      .select(col(groupCol), col(idCol), checkedV.as("_v"))
      .withColumn("_rn", row_number().over(wS).cast("long"))
      .withColumn("_ns", count(lit(1)).over(wSn).cast("long"))
      .withColumn("rank_ppm", when(col("_ns") === 1, lit(500000L))
        .otherwise(expr("1000000L * (_rn - 1) div (_ns - 1)")))
    // total global order (single-partition window — the deliberate
    // contrast form the oracle gate pins)
    val wG = org.apache.spark.sql.expressions.Window
      .orderBy(col("_gv"), col("_gid"))
    val glob = df
      .select(col(valueCol).cast("long").as("_gv"), col(idCol).as("_gid"))
      .withColumn("_grn", row_number().over(wG).cast("long"))
      .withColumn("_gnext", lead(col("_gv"), 1).over(wG))
      .drop("_gid")
    val ng = df.agg(count(lit(1)).cast("long").as("_ng"))
    src.crossJoin(broadcast(ng))
      .withColumn("_posNum", expr("1000000L + (_ng - 1) * rank_ppm"))
      .withColumn("_fpos", expr("_posNum div 1000000L"))
      .withColumn("_frac", expr("_posNum % 1000000L"))
      .join(glob, col("_fpos") === col("_grn"))
      .select(col(idCol), col(groupCol), col("_v").as(valueCol),
        col("rank_ppm"),
        (col("_gv").cast("double") +
          (col("_frac").cast("double") / 1000000.0) *
          (coalesce(col("_gnext"), col("_gv")).cast("double") -
            col("_gv").cast("double"))).as("norm"))
  }

  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    require(0 <= lo && lo < hi && hi <= 1, s"bad quantiles [$lo,$hi]")
    val cuts = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, ${lo}d)").as("p_lo"),
        expr(s"percentile($valueCol, ${hi}d)").as("p_hi"))
    df.join(broadcast(cuts), groupCol)
      .groupBy(col(groupCol), col("p_lo"), col("p_hi"))
      .agg(count(lit(1)).as("n"),
        count(when(col(valueCol) < col("p_lo"), 1)).as("n_lo"),
        count(when(col(valueCol) > col("p_hi"), 1)).as("n_hi"),
        // inlier sum in DOUBLE: the old cast("long") silently truncated
        // fractional values (quality scores in [0,1] all became 0),
        // wrecking wins_mean; integers stay exact in double up to 2⁵³
        sum(when(col(valueCol) >= col("p_lo") && col(valueCol) <= col("p_hi"),
          col(valueCol).cast("double")).otherwise(lit(0d))).as("__s_in"))
      .select(col(groupCol), col("n"), col("p_lo"), col("p_hi"),
        col("n_lo"), col("n_hi"),
        ((col("__s_in")
          + col("n_lo").cast("double") * col("p_lo")
          + col("n_hi").cast("double") * col("p_hi")) / col("n").cast("double"))
          .as("wins_mean"))
  }

  /** Expected first-significant-digit frequency under Benford's law,
    * log10(1+1/d), in ppm — pinned as integer LITERALS (not computed at
    * runtime: a libm log10 that differs by one ulp between engines would
    * flip the rounded constant, and the law's values are constants, not
    * data). */
  private val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** Benford first-digit census — the fraud/corruption smoke test a
    * profiling pass runs over any "organic" monetary or count column:
    * observed leading-digit frequency vs Benford's law, with the absolute
    * deviation in ppm. Fabricated or truncated feeds light up here long
    * before row-level rules fire.
    *
    * Exact by construction: the value is fixed to integer cents
    * (round half-up, matching SQL ROUND on nonnegative doubles), the
    * leading digit is the first character of the DECIMAL STRING of that
    * integer (no float log10 — the classic 10^floor(log10 x) extraction
    * is one ulp away from misclassifying exact powers of ten), and the
    * expected frequencies are pinned literals.
    *
    * Output: (digit, n, observed_ppm, benford_ppm, abs_dev_ppm), one row
    * per digit 1–9 present in the data.
    *
    * Shape at 100 TB: map-side-combined 9-group aggregate over one
    * scanned column; the total joins back via a broadcast of the 9-row
    * aggregate. One scan, no wide shuffle.
    */
  def benfordDigits(df: DataFrame, valueCol: Column): DataFrame = {
    val digits = df
      .select(round(valueCol * 100, 0).cast("long").as("__cents"))
      .filter(col("__cents") > 0)
      .select(substring(col("__cents").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = broadcast(digits.agg(sum(col("n")).as("__total")))
    val law = digits.sparkSession.createDataFrame(BenfordPpm)
      .toDF("digit", "benford_ppm")
    digits.crossJoin(total)
      .join(broadcast(law), Seq("digit"), "left")
      // exact integer floor div — a double 1e6·n/total can round UP across
      // an integer boundary and disagree with the oracle's `//` by one
      .select(col("digit"), col("n"),
        expr("(1000000L * n) div __total").as("observed_ppm"),
        col("benford_ppm"),
        abs(expr("(1000000L * n) div __total") - col("benford_ppm"))
          .as("abs_dev_ppm"))
  }

  /** Two-sample Kolmogorov–Smirnov distance between the `valueCol`
    * distributions of the A rows (`isA` true) and B rows — the
    * distribution-shift gate a curation pipeline runs between two
    * sources or two snapshots ("did lengths drift?").
    *
    * Exact as integers: D = max_x |F_A(x) − F_B(x)| =
    * max |c_A(x)·n_B − c_B(x)·n_A| / (n_A·n_B), so the max is taken over
    * an integer numerator and the single floor division to ppm happens
    * once on nonnegative values (floor = truncate, engine-portable).
    *
    * Output: one row (n_a, n_b, ks_num, ks_ppm).
    *
    * Shape at 100 TB: the raw table collapses to per-DISTINCT-VALUE
    * (cnt_a, cnt_b) with map-side combine — shuffle volume is bounded by
    * distinct values, not rows; the cumulative pass is a single-partition
    * window over that distinct-value relation (the exact-contrast
    * posture: for unbounded continuous domains, pre-bucket the value to a
    * quantile grid first and this becomes grid-bounded with sketch
    * error). Products go through DECIMAL(38,0) so billion-row sides
    * cannot overflow the cross-multiplication.
    */
  /** Order-insensitive per-group content checksum — the cheap
    * reconciliation primitive between two copies of a table (replication
    * audit, pre/post-migration, snapshot-vs-snapshot): groups whose
    * (n_rows, xor_sum, add_sum) triples match are byte-identical with
    * overwhelming probability, and only MISMATCHED groups need q114's
    * row-level diff. Two combined digests because each is blind alone:
    * XOR misses duplicated-row pairs (x ⊕ x = 0), the wrapping SUM
    * misses swapped values that happen to preserve totals.
    *
    * Row digest = the repo's 60-bit sha256 prefix of a caller-built
    * canonical string (`rowKey` — pick columns/formatting there; keep
    * doubles out, float formatting isn't engine-portable). Both
    * aggregates are commutative/associative → map-side combined, one
    * scan, |groups| output rows. add_sum wraps into signed int64 via
    * DECIMAL(38,0) mod 2⁶³ (engine-portable: both engines floor-mod
    * nonnegative sums).
    */
  def groupChecksum(df: DataFrame, groupCol: String,
                    rowKey: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val h = graft.functions.TextFns.hash64(rowKey)
    df.select(col(groupCol), h.as("_h"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(_h)").as("xor_sum"),
        expr(s"CAST(sum(CAST(_h AS DECIMAL(38,0))) % 9223372036854775808 " +
          "AS BIGINT)").as("add_sum"))
  }

  /** Pearson chi-square independence census over two categorical columns
    * — the CATEGORICAL drift/association complement of [[ksTwoSample]]
    * (continuous) and `sourceDriftTvd` (one-vs-rest): are `rowCol` and
    * `colCol` distributed independently? Reports the full-table statistic
    * in exact integer ppm plus the top contributing cells, so the answer
    * names WHICH (row, col) combinations drive the association — the
    * actionable half a bare p-value hides.
    *
    * Exact integer arithmetic: with o = cell count, r/c = margins, N =
    * total, each cell's scaled contribution is
    * ⌊10⁶·(o·N − r·c)² / (N·r·c)⌋ (the algebraic (o−e)²/e with e = r·c/N,
    * cleared of fractions); per-cell floor division is part of the
    * cross-engine contract. ZERO cells are included — a missing (r, c)
    * combination contributes r·c·10⁶/N² — via the margins cross join,
    * never assumed away. Overflow bound: (o·N − r·c)² ≤ N⁴ must fit
    * DECIMAL(38,0) ⇒ exact while N ≤ ~3·10⁹ input rows; past that,
    * chi-square pre-binned counts (the table is usually an aggregate
    * anyway) or scale counts down — documented, not silent.
    *
    * Shape at 100 TB: ONE map-side-combined aggregate collapses the raw
    * data to ≤ |rows|·|cols| cells; margins are windows over that tiny
    * cell relation; the dense grid is a margins×margins cross join
    * (category-sized, not data-sized). Output: one row per cell
    * (row_val, col_val, n_obs, term_ppm) plus the caller sums — or use
    * the companion one-row summary via `.agg`.
    */
  def chiSquareCells(df: DataFrame, rowCol: Column,
                     colCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = df
      .select(rowCol.cast("string").as("row_val"),
        colCol.cast("string").as("col_val"))
      .filter(col("row_val").isNotNull && col("col_val").isNotNull)
      .groupBy("row_val", "col_val").agg(count(lit(1)).as("_o"))
    val rows = cells.groupBy("row_val").agg(sum("_o").as("_r"))
    val cols = cells.groupBy("col_val").agg(sum("_o").as("_c"))
    // N sums the row margins BEFORE the grid cross join — summed after,
    // each margin would count once per column and inflate N by |cols|
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val grid = rows.withColumn("_n", sum(col("_r")).over(wAll))
      .crossJoin(cols)
    grid.join(cells, Seq("row_val", "col_val"), "left")
      .withColumn("n_obs", coalesce(col("_o"), lit(0L)))
      .select(col("row_val"), col("col_val"), col("n_obs"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * " +
          "CAST(n_obs * _n - _r * _c AS DECIMAL(38,0)) * " +
          "CAST(n_obs * _n - _r * _c AS DECIMAL(38,0))) div " +
          "(CAST(_n AS DECIMAL(38,0)) * _r * _c) AS BIGINT)")
          .as("term_ppm"))
  }

  /** One-row roll-up of [[chiSquareCells]]: (n, n_rows, n_cols, dof,
    * chi2_ppm). chi2_ppm / 10⁶ is the Pearson statistic; compare against
    * the chi-square quantile for dof = (rows−1)(cols−1) offline.
    */
  def chiSquareSummary(df: DataFrame, rowCol: Column,
                       colCol: Column): DataFrame =
    chiSquareCells(df, rowCol, colCol)
      .agg(sum(col("n_obs")).as("n"),
        countDistinct(col("row_val")).as("n_rows"),
        countDistinct(col("col_val")).as("n_cols"),
        sum(col("term_ppm")).as("chi2_ppm"))
      .select(col("n"), col("n_rows"), col("n_cols"),
        ((col("n_rows") - 1) * (col("n_cols") - 1)).as("dof"),
        col("chi2_ppm"))

  def ksTwoSample(df: DataFrame, valueCol: Column, isA: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val perValue = df
      .select(valueCol.as("__v"),
        when(isA, 1L).otherwise(0L).as("__a"),
        when(isA, 0L).otherwise(1L).as("__b"))
      .groupBy("__v")
      .agg(sum(col("__a")).as("__ca"), sum(col("__b")).as("__cb"))
    val totals = broadcast(perValue.agg(
      sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b")))
    perValue.crossJoin(totals)
      .withColumn("__cuma", sum(col("__ca")).over(wCum))
      .withColumn("__cumb", sum(col("__cb")).over(wCum))
      .withColumn("__num",
        abs(col("__cuma").cast(dec) * col("n_b").cast(dec)
          - col("__cumb").cast(dec) * col("n_a").cast(dec)))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(col("__num")).cast("long").as("ks_num"))
      .select(col("n_a"), col("n_b"), col("ks_num"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * ks_num) DIV " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)").as("ks_ppm"))
  }

  /** Per-GROUP two-sample KS — [[ksTwoSample]] with the rank window
    * PARTITIONED by `groupCol` (one statistic per group in one plan, and
    * the better scale posture: the single-partition window the global
    * form needs becomes a keyed window over per-group distinct-value
    * relations). The embedding-drift use: group = dimension index, value
    * = quantized component — 64 KS statistics from one pass, catching
    * per-dim SHAPE drift that a centroid (first-moment) comparison
    * cannot see. Output per group: (group, n_a, n_b, ks_num, ks_ppm).
    */
  def ksTwoSampleByGroup(df: DataFrame, groupCol: String, valueCol: Column,
                         isA: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))
    val perValue = df
      .select(col(groupCol).as("__g"), valueCol.as("__v"),
        when(isA, 1L).otherwise(0L).as("__a"),
        when(isA, 0L).otherwise(1L).as("__b"))
      .filter(col("__v").isNotNull)
      .groupBy("__g", "__v")
      .agg(sum(col("__a")).as("__ca"), sum(col("__b")).as("__cb"))
    perValue
      .withColumn("n_a", sum(col("__ca")).over(wAll))
      .withColumn("n_b", sum(col("__cb")).over(wAll))
      .withColumn("__cuma", sum(col("__ca")).over(wCum))
      .withColumn("__cumb", sum(col("__cb")).over(wCum))
      .withColumn("__num",
        abs(col("__cuma").cast(dec) * col("n_b").cast(dec)
          - col("__cumb").cast(dec) * col("n_a").cast(dec)))
      .groupBy(col("__g").as(groupCol), col("n_a"), col("n_b"))
      .agg(max(col("__num")).cast("long").as("ks_num"))
      .select(col(groupCol), col("n_a"), col("n_b"), col("ks_num"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * ks_num) DIV " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)").as("ks_ppm"))
  }

  /** Mann–Whitney U rank-sum test between two samples — [[ksTwoSample]]'s
    * rank-based sibling (sensitive to stochastic dominance rather than
    * max CDF gap), in EXACT integers: ties take midranks, and since a tie
    * run over ranks [r, r+t−1] has midrank (2r+t−1)/2, every DOUBLED
    * midrank 2r+t−1 is an integer — the statistics come out of pure int64
    * arithmetic, bit-portable across engines (the halving is the
    * caller's, as is the normal approximation; the tie-correction term
    * Σ(t³−t) ships so the variance needs no second pass).
    *
    * Output (one row): n_a, n_b, u2_a, u2_b (DOUBLED U statistics,
    * u2_a + u2_b = 2·n_a·n_b by construction — a self-check an auditor
    * can run on the row), tie_cubes = Σ(t³−t) over tie groups.
    *
    * Shape at 100 TB: one map-side-combined aggregate collapses the data
    * to the distinct-value relation; the rank accumulation is ONE window
    * over THAT (value-cardinality-sized) relation, then a one-row
    * aggregate — the raw data is never globally sorted. Same posture as
    * [[ksTwoSample]]; for unbounded continuous domains pre-bucket to a
    * grid first.
    */
  def mannWhitney(df: DataFrame, valueCol: Column, isA: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val wPrev = org.apache.spark.sql.expressions.Window
      .orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val perValue = df
      .select(valueCol.as("__v"),
        when(isA, 1L).otherwise(0L).as("__a"),
        when(isA, 0L).otherwise(1L).as("__b"))
      // a NULL value has no rank; admitting it would silently shift every
      // real rank (NULLS FIRST) — excluded, like a pairwise-incomplete row
      .filter(col("__v").isNotNull)
      .groupBy("__v")
      .agg(sum(col("__a")).as("__ca"), sum(col("__b")).as("__cb"))
    perValue
      .withColumn("__t", col("__ca") + col("__cb"))
      .withColumn("__start",
        coalesce(sum(col("__t")).over(wPrev), lit(0L)) + 1L)
      // doubled midrank of every member of this tie run
      .withColumn("__dm", lit(2L) * col("__start") + col("__t") - 1L)
      .agg(
        sum(col("__ca")).as("n_a"),
        sum(col("__cb")).as("n_b"),
        sum((col("__ca") * col("__dm")).cast(dec)).as("__r2a"),
        sum((col("__cb") * col("__dm")).cast(dec)).as("__r2b"),
        sum((col("__t") * col("__t") * col("__t") - col("__t")).cast(dec))
          .as("__tc"))
      .select(col("n_a"), col("n_b"),
        (col("__r2a") - (col("n_a").cast(dec) * (col("n_a") + 1L)))
          .cast("long").as("u2_a"),
        (col("__r2b") - (col("n_b").cast(dec) * (col("n_b") + 1L)))
          .cast("long").as("u2_b"),
        col("__tc").cast("long").as("tie_cubes"))
  }

  /** EXACT equi-join cardinality prediction from per-key histograms —
    * |A ⋈ B| restricted to key k is cA(k)·cB(k), so the full join size is
    * predictable from two count aggregates WITHOUT executing the join.
    * The pre-flight a planner (or an engineer sizing a shuffle) runs
    * before committing a 100 TB join: per-key `n_pairs` surfaces the
    * blow-up keys ([[keySkew]]'s join-specific sibling — skew in the
    * PRODUCT, which neither side's own histogram shows), and
    * Σ n_pairs is the exact output row count. Cost: two map-side-combined
    * aggregates + one key join of the (distinct-key-sized) histograms —
    * never the data×data shuffle being predicted. The gate's oracle runs
    * the REAL join and counts; prediction ≡ execution, bit-exact.
    */
  def joinCardinality(left: DataFrame, right: DataFrame,
                      leftKey: String, rightKey: String): DataFrame = {
    val l = left.groupBy(col(leftKey).as("key"))
      .agg(count(lit(1)).as("n_left"))
    val r = right.groupBy(col(rightKey).as("key"))
      .agg(count(lit(1)).as("n_right"))
    l.join(r, "key")
      .select(col("key"), col("n_left"), col("n_right"),
        (col("n_left") * col("n_right")).as("n_pairs"))
  }

  /** Hierarchical (Merkle-style) range digest — [[groupChecksum]] tells
    * you WHETHER two replicas diverge; this tells you WHERE. Rows bucket
    * by `keyCol div bucketWidth` (level 0); each higher level folds
    * `fanout` child buckets; the top level is a handful of near-root
    * digests. Reconciliation walks top-down: compare roots, descend only
    * into mismatching buckets, diff rows (q114) only inside mismatching
    * LEAVES — O(log) round trips and leaf-sized data movement instead of
    * a full-table sweep, the anti-entropy shape Dynamo-style systems use.
    *
    * Both digests (bit_xor, wrapping add mod 2⁶³) are
    * associative-commutative, so every level is ONE re-aggregate of the
    * LEAF relation (bucket-count-sized — the raw data is scanned exactly
    * once, map-side combined); levels stack via cheap unions.
    */
  def merkleRanges(df: DataFrame, keyCol: String, rowKey: Column,
                   bucketWidth: Long, fanout: Int = 8,
                   levels: Int = 3): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    require(fanout >= 2, s"fanout must be >= 2: $fanout")
    require(levels >= 1, s"levels must be >= 1: $levels")
    val h = graft.functions.TextFns.hash64(rowKey)
    val leaves = df
      .select(expr(s"CAST($keyCol AS BIGINT) div ${bucketWidth}L")
        .as("bucket"), h.as("_h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(_h)").as("xor_sum"),
        expr("CAST(sum(CAST(_h AS DECIMAL(38,0))) % 9223372036854775808 " +
          "AS BIGINT)").as("add_sum"))
    // child add_sums are in [0, 2^63) (hash64 is 60-bit positive), so the
    // parent's re-mod stays nonneg and mod distributes over the sum:
    // (Σ rows) mod 2^63 == (Σ (child mod 2^63)) mod 2^63
    val byLevel = Iterator.iterate(leaves) { child =>
      child.groupBy(expr(s"bucket div ${fanout}L").as("bucket"))
        .agg(sum("n_rows").as("n_rows"),
          expr("bit_xor(xor_sum)").as("xor_sum"),
          expr("CAST(sum(CAST(add_sum AS DECIMAL(38,0))) " +
            "% 9223372036854775808 AS BIGINT)").as("add_sum"))
    }.take(levels).toSeq
    byLevel.zipWithIndex
      .map { case (lvl, i) => lvl.withColumn("level", lit(i.toLong)) }
      .reduce(_ unionByName _)
      .select("level", "bucket", "n_rows", "xor_sum", "add_sum")
  }

  /** Deterministic per-group mode — the survivorship / imputation
    * primitive (fill nulls from the group's modal value, consolidate a
    * matched entity cluster to its most-frequent field value). Ties break
    * (count DESC, value ASC) so the answer is engine-reproducible; NULL
    * values are excluded up front (they are what imputation fills, and
    * Spark orders nulls first where DuckDB orders them last — excluding
    * them is both the sane semantic and the portable one).
    *
    * One (group, value) aggregate + one group-keyed rank window sharing
    * the same exchange; `n_rows` (non-null) rides the window partition for
    * free, so modal SHARE is one division away.
    */
  /** Declarative data-quality constraint audit: each named boolean
    * predicate is checked over the whole relation in ONE scan — all
    * violation counters ride a single wide aggregate (map-side combined,
    * fixed-width state), then unpivot to one row per constraint. A NULL
    * predicate result counts as a violation (a range check over a null
    * value is not satisfied — the Deequ/DQ convention; wrap the column in
    * `coalesce`/`isNull` terms to express nullable-tolerant rules).
    *
    * The pre-flight a pipeline runs before promoting a batch: at 100 TB
    * the point is precisely that 40 rules cost ONE pass, not 40.
    */
  def constraintAudit(df: DataFrame,
                      constraints: Seq[(String, Column)]): DataFrame = {
    require(constraints.nonEmpty, "constraints must be non-empty")
    // Rule names are spliced into the stack() SQL both as string literals
    // and as backticked identifiers — hold them to the same identifier
    // discipline as profile()/corrPairs rather than risk broken SQL.
    val unsafeRules = constraints.map(_._1).filterNot(SafeName.matches)
    require(unsafeRules.isEmpty,
      s"constraint names must be simple identifiers, got: ${unsafeRules.mkString(", ")}")
    require(constraints.map(_._1).distinct.size == constraints.size,
      "duplicate constraint names")
    val aggs = constraints.map { case (n, p) =>
      sum(when(coalesce(p, lit(false)), 0L).otherwise(1L)).as(s"_v_$n")
    } :+ count(lit(1)).as("_n")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = constraints
      .map { case (n, _) => s"'$n', `_v_$n`" }.mkString(", ")
    wide.selectExpr("_n",
        s"stack(${constraints.size}, $stackArgs) AS (rule, n_violations)")
      .select(col("rule"), col("_n").as("n_rows"),
        col("n_violations"),
        expr("CASE WHEN _n > 0 THEN (1000000 * n_violations) div _n END")
          .as("violation_ppm"))
  }

  /** Functional-dependency violation census: does `detCols → depCol` hold?
    * One aggregate keyed by the determinant (map-side combined two-phase
    * count-distinct), one summary row: determinants seen, determinants
    * with >1 dependent value, their ppm, and the worst fan-out. The
    * schema-discovery / denormalization-audit primitive — run it on a
    * joined relation to prove a lookup column is actually functional
    * before caching it as a dimension.
    */
  def fdViolations(df: DataFrame, detCols: Seq[String],
                   depCol: String): DataFrame = {
    require(detCols.nonEmpty, "detCols must be non-empty")
    df.groupBy(detCols.map(col): _*)
      .agg(countDistinct(col(depCol)).as("_nd"))
      .agg(count(lit(1)).as("n_determinants"),
        sum(when(col("_nd") > 1, 1L).otherwise(0L)).as("n_violating"),
        max(col("_nd")).as("max_variants"))
      .select(col("n_determinants"), col("n_violating"),
        expr("CASE WHEN n_determinants > 0 THEN " +
          "(1000000 * n_violating) div n_determinants END")
          .as("violating_ppm"),
        col("max_variants"))
  }

  /** Equi-WIDTH histogram with fixed caller-declared bounds — the
    * drift-monitor building block ([[quantileBins]] is the equi-frequency
    * sibling; fixed bounds are what make two snapshots' histograms
    * COMPARABLE bin-for-bin, which PSI-style monitoring needs). All
    * integer: bin = (cents − lo) div width over cents-scaled values,
    * out-of-range values clamp to the edge bins (never dropped — a drift
    * monitor that silently discards the drifted tail is useless). NULL
    * values are excluded (not clamped to bin 0); monitor null rates
    * separately via [[profile]]. One map-side-combined aggregate.
    */
  def histogramFixed(df: DataFrame, groupCol: String, valueCol: String,
                     loCents: Long, hiCents: Long, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1: $bins")
    require(hiCents > loCents, s"need hiCents > loCents: $loCents..$hiCents")
    val width = (hiCents - loCents + bins - 1) / bins // ceil → covers hi
    // NULL values are EXCLUDED, not binned: greatest(null, 0) = 0 would
    // silently fold missing data into the lo-edge bin, indistinguishable
    // from genuine low-tail drift. Track null rates via profile()/
    // constraintAudit — a histogram is a census of present values only.
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol),
        least(greatest(expr(s"(${centsSql(valueCol)} - ${loCents}L) " +
          s"div ${width}L"), lit(0L)), lit(bins - 1L)).as("bin"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n_rows"))
  }

  private def centsSql(valueCol: String): String =
    s"CAST(CAST(`$valueCol` AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** ε-approximate quantile AUDIT: one-pass mergeable-sketch quantiles
    * (Spark's built-in `percentile_approx`, a Greenwald–Khanna summary —
    * partial states merge across partitions, no global sort) verified
    * against their own contract by an exact rank count — the q132
    * Misra–Gries posture: sketch for scale, exact pass to PROVE the
    * bound, booleans as the gate output because the sketch's exact
    * estimates are legitimately merge-order-dependent while the
    * ε-contract is not.
    *
    * For each φ the sketch estimate x must have SOME rank r with
    * |r − φ·n| ≤ ε·n (ε = 1/accuracy); x's ranks occupy (#{v<x}, #{v≤x}],
    * so the check is the exact integer interval intersection with ±1 rank
    * slack for ceil/floor conventions. At 100 TB the sketch pass is the
    * product; the verify pass is the audit a pipeline runs at sf-scale to
    * certify the accuracy knob before trusting it upstream.
    */
  def approxQuantileAudit(df: DataFrame, valueCol: Column,
                          phisPpm: Seq[Long],
                          accuracy: Int = 1000): DataFrame = {
    require(phisPpm.nonEmpty, "phisPpm must be non-empty")
    require(phisPpm.forall(p => p > 0 && p < 1000000),
      s"phis must be in (0, 1e6) ppm: $phisPpm")
    require(accuracy >= 10, s"accuracy must be >= 10: $accuracy")
    val epsPpm = 1000000L / accuracy
    val v = df.select(valueCol.cast("long").as("_v"))
      .filter(col("_v").isNotNull)
    val sk = v.agg(
      percentile_approx(col("_v"),
        array(phisPpm.map(p => lit(p / 1e6)): _*), lit(accuracy)).as("_est"),
      count(lit(1)).as("_n"))
    val ests = sk.select(col("_n"), posexplode(col("_est")))
      .toDF("_n", "_i", "_e")
    val phiArr = array(phisPpm.map(lit): _*)
    val phi = element_at(phiArr, col("_i") + 1)
    v.crossJoin(broadcast(ests))
      .groupBy("_i", "_n")
      .agg(sum(when(col("_v") <= col("_e"), 1L).otherwise(0L)).as("_le"),
        sum(when(col("_v") < col("_e"), 1L).otherwise(0L)).as("_lt"))
      .select(phi.as("phi_ppm"), col("_n").as("n_rows"),
        // x's ranks are (lt, le]; intersect with the ±1-rank-slack band:
        // le ≥ band_lo − 1 and lt + 1 ≤ band_hi + 1 — the upper compare
        // is STRICT so both sides carry exactly one rank of slack (a
        // non-strict ≤ with the +1e6 term would quietly allow two)
        ((col("_le") * 1000000L >=
            (phi - epsPpm) * col("_n") - 1000000L) &&
          (col("_lt") * 1000000L <
            (phi + epsPpm) * col("_n") + 1000000L)).as("within_eps"))
      .orderBy("phi_ppm")
  }

  def modePerGroup(df: DataFrame, groupCol: String,
                   valueCol: String): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol).as("mode"))
      .agg(count(lit(1)).as("mode_count"))
    val grp = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    counts
      .withColumn("n_rows", sum("mode_count").over(grp))
      .withColumn("_rn", row_number().over(
        grp.orderBy(col("mode_count").desc, col("mode").asc)))
      .filter(col("_rn") === 1)
      .select(col(groupCol), col("mode"), col("mode_count"), col("n_rows"))
  }

  /** HLL++ distinct-count audit — the cardinality member of the
    * sketch-certified-by-exact family ([[approxQuantileAudit]] quantiles,
    * q132 Misra–Gries heavy hitters, q212 count-min, q211 PQ recall):
    * per group, Spark's `approx_count_distinct` (HyperLogLog++, Heule et
    * al., mergeable, one pass, no Expand) measured against the exact
    * distinct count, gated as a BOOLEAN error-bound check because the
    * estimate itself is legitimately engine/merge-specific while the
    * |est − exact| ≤ bound·exact contract is not (the q204 posture).
    *
    * The certified relative-error budget is 3·rsd (in ppm, 3e6·rsd).
    * HLL++ at rsd r has σ ≈ r·exact, so that is the standard 3σ
    * envelope, PLUS an absolute slack of 4 so near-empty groups (exact
    * in the single digits, where "relative" error is quantized) don't
    * flap. The audit is the point: run it at sample scale to certify the
    * rsd knob before trusting the sketch at 100 TB, where the exact
    * count-distinct's two-phase shuffle is the thing being avoided.
    *
    * Shape: ONE aggregate computes both (count_distinct plans its Expand
    * ×2 here — acceptable at audit scale, and exactly what the certified
    * production path then skips by keeping only the HLL half).
    */
  def hllAudit(df: DataFrame, groupCol: String, valueCol: Column,
               rsd: Double = 0.05): DataFrame = {
    require(rsd > 0 && rsd < 0.3, s"rsd out of (0, 0.3): $rsd")
    val boundPpm = (3e6 * rsd).toLong
    df.groupBy(col(groupCol))
      .agg(countDistinct(valueCol).as("exact_n"),
        approx_count_distinct(valueCol, rsd).as("_est"))
      .select(col(groupCol), col("exact_n"),
        (abs(col("_est") - col("exact_n")) * 1000000L <=
          lit(boundPpm) * col("exact_n") + 4000000L).as("within_bound"))
  }

  /** k-anonymity census over a quasi-identifier column set — the
    * privacy-audit primitive a pipeline runs before releasing a table:
    * every row whose QI equivalence class has fewer than k members is
    * re-identifiable at confidence 1/class-size. One map-side-combined
    * aggregate to the class relation, one tiny roll-up — the raw table
    * never shuffles twice. Output (one row): n_rows, n_classes,
    * min_class_size, n_violating_classes, n_rows_at_risk, and the
    * at-risk fraction in exact ppm (the suppression cost of enforcing k
    * by dropping violators — the usual first remediation).
    *
    * NULL QI values form their own class (standard k-anonymity posture:
    * NULL is an observable value to an attacker, not an exclusion).
    */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], k: Long): DataFrame = {
    require(qiCols.nonEmpty, "qiCols must be non-empty")
    require(k >= 2, s"k must be >= 2: $k")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .agg(sum(col("_n")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("_n")).as("min_class_size"),
        sum(when(col("_n") < k, 1L).otherwise(0L)).as("n_violating_classes"),
        sum(when(col("_n") < k, col("_n")).otherwise(0L)).as("n_rows_at_risk"))
      .select(col("n_rows"), col("n_classes"), col("min_class_size"),
        col("n_violating_classes"), col("n_rows_at_risk"),
        expr("CASE WHEN n_rows > 0 THEN (1000000 * n_rows_at_risk) div n_rows END")
          .as("at_risk_ppm"))
  }

  /** Filter-chain ATTRITION census — [[constraintAudit]]'s sequential
    * sibling: that op counts each rule's violations independently; this
    * one attributes every row to the FIRST rule it fails in the declared
    * order (or 'kept'), which is what a curation funnel actually reports
    * ("we lost 40% to language-ID before quality ever saw them" — the
    * independent counts can't say that, overlapping failures double-
    * count). Output: one row per DECLARED rule plus 'kept', in chain
    * order (rule_idx; kept last), with n_rows and share in exact ppm of
    * the input — a rule that attributes ZERO rows still appears with
    * n_rows = 0 (the sourceShingleOverlap/luhnCensus posture: "this
    * filter did nothing" is an answer, and consumers keying on row
    * presence must not miss rules). Rules evaluate row-locally into ONE
    * map-side-combined aggregate — a 40-rule funnel costs one scan; the
    * declared-rule grid is model-sized and broadcast. NULL predicate
    * results count as failures (the constraintAudit posture: an
    * unevaluable rule must not silently pass a row).
    */
  def filterAttrition(df: DataFrame,
                      rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "rules must be non-empty")
    val unsafe = rules.map(_._1).filterNot(SafeName.matches)
    require(unsafe.isEmpty,
      s"rule names must be simple identifiers, got: ${unsafe.mkString(", ")}")
    require(rules.map(_._1).distinct.size == rules.size,
      "duplicate rule names")
    require(!rules.exists(_._1 == "kept"), "'kept' is the reserved label")
    val label = rules.foldRight(lit("kept"): Column) {
      case ((n, p), rest) => when(!coalesce(p, lit(false)), lit(n))
        .otherwise(rest)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val declared = (rules.map(_._1) :+ "kept").zipWithIndex
      .map { case (n, i) => (i.toLong, n) }
      .toDF("rule_idx", "reason")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    declared
      .join(df.select(label.as("reason"))
        .groupBy("reason").agg(count(lit(1)).as("_n")),
        Seq("reason"), "left")
      .select(col("rule_idx"), col("reason"),
        coalesce(col("_n"), lit(0L)).as("n_rows"))
      .withColumn("_total", sum(col("n_rows")).over(wAll))
      .select(col("rule_idx"), col("reason"), col("n_rows"),
        expr("CASE WHEN _total > 0 THEN (1000000 * n_rows) div _total " +
          "ELSE 0 END").as("share_ppm"))
  }

  /** Cramér's V² association strength from [[chiSquareSummary]] — the
    * normalized (0..1) version of the chi-square statistic, comparable
    * ACROSS tables of different size and shape, which the raw statistic
    * is not: V² = χ² / (N·min(r−1, c−1)). Emitted as exact-integer ppm
    * (v2_ppm = chi2_ppm div (N·min(r−1,c−1))) — V itself needs a sqrt,
    * which the caller takes offline; V² preserves the ordering and the
    * 0/1 endpoints, so it is the drift-dashboard column. Inherits the
    * one-aggregate + category-sized-grid shape of [[chiSquareCells]].
    */
  def cramersV2(df: DataFrame, rowCol: Column, colCol: Column): DataFrame =
    chiSquareSummary(df, rowCol, colCol)
      .select(col("n"), col("n_rows"), col("n_cols"), col("dof"),
        col("chi2_ppm"),
        expr("CASE WHEN n > 0 AND least(n_rows - 1, n_cols - 1) > 0 THEN " +
          "chi2_ppm div (n * least(n_rows - 1, n_cols - 1)) END")
          .as("v2_ppm"))
}
