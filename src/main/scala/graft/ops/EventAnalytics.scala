package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavioral event analytics over an event stream table — ordered funnels
  * and cohort retention, the two canonical "sequence over user timelines"
  * aggregations.
  *
  * Scale shape: everything is keyed by user. The funnel is a chain of
  * per-user min-aggregates joined user-to-user (each step's state is one
  * row per surviving user, persisted until the result is materialized so
  * step k+1 and step k's count share one computation — never a re-walk of
  * the event scan chain); retention
  * is two aggregates and one keyed join. No windows over the full event
  * set, no collects.
  *
  * Internal working columns use a `_g_` prefix so an input table that
  * happens to carry a column named `u`/`t`/`c_day` can't make the
  * join/filter references ambiguous.
  */
object EventAnalytics {

  /** Ordered funnel with a per-step deadline: a user reaches step k+1 when
    * an event of that type occurs STRICTLY after their step-k time and
    * within `deadline` of it (classic conversion semantics — the same
    * event can't satisfy two steps). Step times are the earliest
    * qualifying occurrence.
    *
    * Output: (step 1-based INT, step_type, users_reached), one row per
    * step, unordered. Event-time column must already be a timestamp.
    */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String],
             deadline: String): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    val horizon = expr(s"interval $deadline")
    def reachedCount(reached: DataFrame, step: Int, st: String) =
      reached.agg(count(lit(1)).as("users_reached"))
        .select(lit(step).as("step"), lit(st).as("step_type"),
          col("users_reached"))
    // each stage stays persisted until the (|steps|-row) result is
    // materialized: step k+1 and step k's count share one computation
    def from(reached: DataFrame, step: Int, out: Option[DataFrame]): DataFrame =
      withPersisted(reached) { r =>
        val counted = reachedCount(r, step, steps(step - 1))
        val outNow = out.fold(counted)(_.unionAll(counted))
        if (step == steps.size) outNow.localCheckpoint(true)
        else from(events.filter(col(typeCol) === steps(step))
          .join(r, col(userCol) === col("_g_u"))
          .filter(col(tsCol) > col("_g_t") && col(tsCol) <= col("_g_t") + horizon)
          .groupBy(col("_g_u")).agg(min(col(tsCol)).as("_g_t")),
          step + 1, Some(outNow))
      }
    from(events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol).as("_g_u")).agg(min(col(tsCol)).as("_g_t")),
      1, None)
  }

  /** Cohort retention: users grouped by the day of their FIRST event; for
    * each requested day offset, how many of the cohort were active (any
    * event) exactly that many days later. Offset 0 is the cohort size
    * (every user is active on their first day by construction).
    *
    * Output: (cohort_day 'yyyy-MM-dd', offset_days BIGINT, active_users),
    * unordered. Event-time column must already be a timestamp.
    */
  /** First-order Markov transition matrix over per-user event sequences:
    * each user's timeline (ordered by event time, id-tiebroken) yields
    * consecutive (src → dst) type pairs; output is the global transition
    * count plus an exact integer transition probability in parts-per-
    * million (floor division — engine-portable, no float summation).
    *
    * Scale shape: ONE shuffle partitions timelines by user for the lead
    * window (each user's sequence is walked locally), then the pair
    * aggregate map-side combines to at most |types|² rows; the per-src
    * normalizing total is a window over THAT tiny relation, never over
    * the event set. No self-join of events to events.
    *
    * Output: (src, dst, n, p_ppm), unordered.
    */
  def transitionMatrix(events: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .select(col(userCol), col(tsCol), col(tieCol),
        col(typeCol).as("src"),
        lead(col(typeCol), 1).over(seq).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
    pairs.withColumn("p_ppm",
      expr("1000000L * n div sum(n) over (partition by src)"))
  }

  /** Per-key exponentially-weighted moving average in EXACT scaled-integer
    * arithmetic — the smoothed-baseline primitive (per-user spend level,
    * per-device rate) that pairs with `Anomaly`'s z-scores. The float
    * recurrence e' = (1−α)e + αx accumulates in timeline order, so naive
    * doubles are partition-order-dependent and never oracle-matchable;
    * here α = mix/den is rational, values are exact cents
    * (DECIMAL(18,2)·100), and the fold is
    * e' = ((den−mix)·e + mix·x) div den on BIGINTs — bit-identical in any
    * engine (values must be non-negative so trunc = floor agrees).
    *
    * Shape at 100 TB: ONE key-partitioned aggregate collects each key's
    * (ts, tie, cents) timeline; the sort + fold are row-local
    * (`array_sort` + `aggregate` HOF, codegen, no UDF). Per-key state is
    * the key's full timeline — the same bound as sessionization or any
    * ordered per-entity walk; for keys whose history exceeds executor
    * memory, the streaming stateful path (`StatefulTracking`) carries the
    * single running value instead.
    *
    * Output: (keyCol, n_events, last_cents, ewma_cents), unordered.
    */
  def ewmaCents(events: DataFrame, keyCol: String, tsCol: String,
                tieCol: String, valueCol: String,
                mix: Int = 1, den: Int = 4): DataFrame = {
    require(den >= 2 && mix >= 1 && mix < den,
      s"need 0 < mix/den < 1, got $mix/$den")
    val keep = den - mix
    val cents = (col(valueCol)
      .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
      .cast("long")
    // the documented non-negativity contract, actually ENFORCED (it was
    // doc-only): a negative accumulator makes Spark's truncate-toward-zero
    // `div` silently diverge from floor-dividing engines by one cent
    val checked = when(cents.isNull || cents < 0L,
      raise_error(concat(lit("ewmaCents: value must be non-null and >= 0, "),
        lit("got "), cents.cast("string")))).otherwise(cents)
    events
      .select(col(keyCol), col(tsCol).as("_t"), col(tieCol).as("_tb"),
        checked.as("_x"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        array_sort(collect_list(struct(col("_t"), col("_tb"), col("_x"))))
          .as("_s"))
      .select(col(keyCol), col("n_events"),
        expr("element_at(_s, size(_s))._x").as("last_cents"),
        expr("aggregate(slice(_s, 2, greatest(size(_s) - 1, 0))," +
          s" element_at(_s, 1)._x," +
          s" (acc, p) -> (${keep}L * acc + ${mix}L * p._x) div ${den}L)")
          .as("ewma_cents"))
  }

  /** Run-length collapse of per-key event streams: consecutive events with
    * the same `valCol` (in (ts, tie) timeline order) fold into one row —
    * the event-compression / CDC-style "only keep changes" primitive
    * (sensor streams and heartbeats shrink by orders of magnitude; the
    * reconstruction is lossless given run lengths and first ids).
    *
    * Shape at 100 TB: ONE key shuffle — the lag compare, the running-sum
    * run numbering, and the per-run aggregate all ride the same
    * key-partitioned window/groupBy.
    *
    * Output: (keyCol, valCol, run_seq 1-based per key, first_tie,
    * n_in_run), unordered.
    */
  def runLength(events: DataFrame, keyCol: String, tsCol: String,
                tieCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val run = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col(keyCol), col(tsCol), col(tieCol), col(valCol))
      // the opening row is ALWAYS a run start: lag's out-of-frame NULL
      // would otherwise satisfy `NULL <=> NULL` when the key's first
      // value is itself NULL, yielding a 0-based run_seq and a run with
      // no opening row (breaking first_tie and lossless reconstruction)
      .withColumn("_chg",
        when(row_number().over(seq) === 1, 1L)
          .otherwise(when(lag(col(valCol), 1).over(seq) <=> col(valCol), 0L)
            .otherwise(1L)))
      .withColumn("run_seq", sum(col("_chg")).over(run))
      .groupBy(col(keyCol), col("run_seq"))
      // every run has exactly one run-opening row (_chg = 1); its tie id
      // is the run's temporal start even when tie ids aren't time-ordered
      .agg(first(col(valCol)).as(valCol),
        max(when(col("_chg") === 1L, col(tieCol))).as("first_tie"),
        count(lit(1)).as("n_in_run"))
      .select(col(keyCol), col(valCol), col("run_seq"), col("first_tie"),
        col("n_in_run"))
  }

  /** Session-level co-occurrence: of all gap-defined sessions, how many
    * contain an event of type A, of type B, and of BOTH — the
    * within-session association metric behind "do users who browse also
    * buy in the same sitting?" (the funnel asks ordered-within-deadline;
    * this asks unordered-within-session).
    *
    * Shape at 100 TB: [[Sessionize.assignSessions]]' ONE key shuffle
    * (lag + running sum), a per-session flag aggregate on the same key,
    * then a one-row global roll-up.
    *
    * Output: one row (n_sessions, n_with_a, n_with_b, n_with_both).
    */
  def sessionCooccurrence(events: DataFrame, keyCol: String, tsCol: String,
                          tieCol: String, typeCol: String, typeA: String,
                          typeB: String, gapMs: Long): DataFrame = {
    val sess = Sessionize.assignSessions(
      events.select(col(keyCol), col(tsCol), col(tieCol), col(typeCol)),
      keyCol, tsCol, tieCol, gapMs)
    sess.groupBy(col(keyCol), col("session_idx"))
      .agg(
        max(when(col(typeCol) === typeA, 1L).otherwise(0L)).as("_ha"),
        max(when(col(typeCol) === typeB, 1L).otherwise(0L)).as("_hb"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("_ha")).as("n_with_a"),
        sum(col("_hb")).as("n_with_b"),
        sum(col("_ha") * col("_hb")).as("n_with_both"))
  }

  def retention(events: DataFrame, userCol: String, tsCol: String,
                offsets: Seq[Int]): DataFrame = {
    require(offsets.nonEmpty, "offsets must be non-empty")
    val cohort = events.groupBy(col(userCol).as("_g_u"))
      .agg(date_trunc("day", min(col(tsCol))).as("_g_c_day"))
    events.join(cohort, col(userCol) === col("_g_u"))
      .select(col("_g_u"),
        date_format(col("_g_c_day"), "yyyy-MM-dd").as("cohort_day"),
        datediff(date_trunc("day", col(tsCol)), col("_g_c_day"))
          .cast("long").as("offset_days"))
      .filter(col("offset_days").isin(offsets.map(_.toLong): _*))
      .distinct()
      .groupBy("cohort_day", "offset_days")
      .agg(count(lit(1)).as("active_users"))
  }

  /** Per-key TIME-weighted average of an irregularly-sampled value — the
    * step-function integral ∫v(t)dt / span, where each event's value
    * holds until the next event (the correct mean for sensor/price
    * series; the plain average over-weights bursts). Exact integers
    * end-to-end: value fixes to cents via DECIMAL(18,2)·100 (the q150
    * idiom — engine-portable rounding), time in epoch micros, the
    * integral as a DECIMAL(38,0) sum of cents×Δt products (int64 would
    * overflow at ~2×10⁵ key-events of week-long gaps), one floor
    * division at the end (values nonneg per the require — a signed
    * numerator would hit floor-vs-truncate drift).
    *
    * Output: (keyCol, n_events, span_us, twa_cents); single-event keys
    * have span 0 and report their own value.
    *
    * Shape at 100 TB: ONE key exchange — the lead() window and the
    * aggregate share it; no collect, state bounded per key partition.
    */
  /** EXACT trailing-window distinct actives per day: for each day, the
    * number of DISTINCT `keyCol` values with at least one event in the
    * `windowDays`-day window ending that day (inclusive) — the rolling
    * DAU/WAU/MAU family, computed exactly.
    *
    * Why not a window function: distinct state is not
    * mergeable-subtractable, so no sliding frame can carry it; and
    * re-scanning the corpus once per window-end is windowDays× the IO.
    * The contribution trick instead: collapse the corpus to the
    * per-(key, day) DISTINCT relation FIRST (one map-side-combined
    * aggregate — this is where 100 TB becomes |distinct (key, day)|),
    * then each (key, day) row serves every window-end it can reach (a
    * bounded sequence explode of ≤ windowDays day offsets, capped at the
    * corpus's last day so no phantom future windows appear), and ONE
    * two-phase count-distinct keyed by window end finishes it. Every
    * shuffle is bounded by |distinct (key, day)| × windowDays, never by
    * rows.
    *
    * Output: (day_ms BIGINT window end, n_active BIGINT). A window end
    * appears iff SOME key was active in its trailing window; zero-active
    * calendar days are unobservable by construction — gap-fill with
    * [[Intervals]]' LOCF (q167) when a dense calendar is needed.
    *
    * Days are EPOCH days (UTC, FLOOR division — agrees with
    * `date_trunc('day', …)` in UTC on both sides of the epoch, where a
    * truncating division would shift pre-1970 timestamps up a day), NOT
    * session-timezone `date_trunc`: the fixed 86 400 000-ms window
    * stepping below must land exactly on other keys' day buckets, and a
    * DST timezone's 23 h/25 h local days would scatter contributions
    * onto phantom window ends.
    */
  def rollingDistinct(events: DataFrame, keyCol: String, tsCol: String,
                      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val dayMs = 86400000L
    val kd = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("_g_k"),
        (floor(unix_millis(col(tsCol).cast("timestamp")) / lit(dayMs))
          .cast("long") * dayMs).as("_g_day"))
      .distinct()
    val mx = kd.agg(max(col("_g_day")).as("_g_max"))
    kd.crossJoin(broadcast(mx))
      .select(col("_g_k"),
        explode(sequence(col("_g_day"),
          least(col("_g_day") + lit(dayMs * (windowDays - 1)),
            col("_g_max")),
          lit(dayMs))).as("day_ms"))
      .groupBy("day_ms")
      .agg(countDistinct(col("_g_k")).as("n_active"))
  }

  def timeWeightedAvg(events: DataFrame, keyCol: String, tsCol: String,
                      tieCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_us"), col("_tb"))
    val cents = (col(valueCol)
      .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
      .cast("long")
    // enforce the non-negativity the docstring already promised: DECIMAL
    // DIV truncates toward zero, so a negative integral would silently
    // drift one cent off a floor-dividing oracle
    val checked = when(cents.isNull || cents < 0L,
      raise_error(concat(
        lit("timeWeightedAvg: value must be non-null and >= 0, got "),
        cents.cast("string")))).otherwise(cents)
    events
      .select(col(keyCol), unix_micros(col(tsCol)).as("_us"),
        col(tieCol).as("_tb"), checked.as("_x"))
      .withColumn("_dt", lead(col("_us"), 1).over(w) - col("_us"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        (max(col("_us")) - min(col("_us"))).as("span_us"),
        sum((col("_x") * col("_dt")).cast(dec)).as("_integral"),
        // span-0 keys (single event, or all events on one timestamp —
        // step function undefined) pin deterministically to the min value
        min(col("_x")).as("_minx"))
      .select(col(keyCol), col("n_events"), col("span_us"),
        when(col("span_us") === 0, col("_minx"))
          .otherwise(expr("CAST(_integral DIV CAST(span_us AS DECIMAL(38,0))" +
            " AS BIGINT)"))
          .as("twa_cents"))
  }

  /** Token-bucket admission over a per-key event sequence — quota
    * enforcement / crawl politeness / API rate limiting as a BATCH
    * replay (audit yesterday's traffic against a policy before turning
    * it on): bucket of `capacity` tokens per key, refilled
    * `refillNum` tokens per elapsed `refillDenMs` ms (integer floor per
    * GAP — memoryless between events, a documented exact-integer
    * variant: fractional credit does not carry), one token per admitted
    * event, rejects when empty.
    *
    * Shape at 100 TB — the classic secondary-sort scan: ONE shuffle on
    * the key, partition-local (external, spillable) sort on (key, ts,
    * id), then a single mapPartitions pass with O(1) state per row —
    * per-key event counts never materialize in memory, hot keys cost
    * time not space. The recurrence (min/cap + conditional decrement)
    * is non-associative, so no window/aggregate expresses it; the
    * sorted scan is the honest primitive (same family as the streaming
    * twins' transformWithState, which replays this logic per key with
    * state-store persistence).
    *
    * Output: (key, ts_ms, id, admitted, tokens_after), one row per event.
    */
  def tokenBucketAdmit(events: DataFrame, keyCol: String,
                       tsMsCol: org.apache.spark.sql.Column, idCol: String,
                       capacity: Long, refillNum: Long,
                       refillDenMs: Long): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1: $capacity")
    require(refillNum >= 0, s"refillNum must be >= 0: $refillNum")
    require(refillDenMs >= 1, s"refillDenMs must be >= 1: $refillDenMs")
    val spark = events.sparkSession
    import spark.implicits._
    // the long casts are part of the scan-state contract (O(1) primitive
    // state per row); a key/id that does NOT cast (non-numeric string)
    // must fail loudly, not silently drop its rows from the policy audit
    // try_cast (not cast): under ANSI a malformed value would throw a
    // generic CAST_INVALID_INPUT before the guard runs; try_cast yields
    // NULL so the raise_error below owns the message in BOTH ANSI modes
    def checkedCast(c: org.apache.spark.sql.Column, what: String) =
      when(c.isNotNull && c.try_cast("long").isNull,
        raise_error(concat(
          lit(s"tokenBucketAdmit: $what must cast to long, got "),
          c.cast("string"))))
        .otherwise(c.try_cast("long"))
    // ts goes through the same checked cast: a NON-CASTABLE timestamp
    // raises (same loud-failure contract as key/id); a NULL timestamp
    // is intentionally excluded below — an event with no time cannot be
    // placed in the refill order, and dropping it is a documented
    // policy, not a silent cast artifact
    // same integrity posture as sessionizeCapped: a NULL id on a row
    // that SURVIVES the key/ts exclusion cannot be ordered and would die
    // as an opaque encoder error at the Dataset[(Long, Long, Long)]
    // boundary — raise with a name instead. Two-step select so the
    // exclusion filter provably evaluates first (see sessionizeCapped).
    def checkedId(c: org.apache.spark.sql.Column) =
      when(c.isNull,
        raise_error(lit(s"tokenBucketAdmit: $idCol (the tie column) " +
          "must be non-null")))
        .otherwise(checkedCast(c, idCol))
    val base = events
      .select(checkedCast(col(keyCol), keyCol).as("_k"),
        checkedCast(tsMsCol, "ts").as("_ts"),
        col(idCol).as("_rawid"))
      .filter(col("_k").isNotNull && col("_ts").isNotNull)
      .select(col("_k"), col("_ts"), checkedId(col("_rawid")).as("_id"))
      .repartition(col("_k"))
      .sortWithinPartitions(col("_k"), col("_ts"), col("_id"))
      .as[(Long, Long, Long)]
    base.mapPartitions { it =>
      var curKey = 0L
      var started = false
      var tokens = 0L
      var lastTs = 0L
      it.map { case (k, ts, id) =>
        if (!started || k != curKey) {
          curKey = k; started = true; tokens = capacity
        } else {
          tokens = math.min(capacity,
            tokens + (ts - lastTs) * refillNum / refillDenMs)
        }
        lastTs = ts
        val admitted = tokens >= 1L
        if (admitted) tokens -= 1L
        (k, ts, id, admitted, tokens)
      }
    }.toDF(keyCol, "ts_ms", idCol, "admitted", "tokens_after")
  }
}
