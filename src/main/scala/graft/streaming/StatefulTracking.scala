package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}

/** Custom per-key streaming state via `KeyValueGroupedDataset
  * .transformWithState` — the per-key state machine the reference keeps in
  * its Mongo ledger rows (SURVEY.md §1.2: "the record's null columns are a
  * state machine"), maintained incrementally across micro-batches instead
  * of re-scanned. Each operator is a [[StatefulProcessor]] with typed
  * ValueState/MapState and, where closure is event-time driven, timers;
  * all of them need the RocksDB state store (`StateStores.RocksDb`).
  */
object StatefulTracking {

  /** A closed gap-session, emitted exactly once when the event-time
    * watermark proves no future event can extend it. */
  final case class ClosedSession(device_id: String, start_ms: Long,
                                 end_ms: Long, n_events: Long)

  private[streaming] final case class SessState(startMs: Long, lastMs: Long,
                                                n: Long)

  /** Gap-only session closure — [[CappedSessionProcessor]] with an
    * infinite cap (one processor, one copy of the fold/timer/guard
    * logic; `t - start <= Long.MaxValue` is vacuously true for real
    * timestamps). `records` must already be watermarked on its
    * timestamp column. */
  def closedSessionsTws(spark: SparkSession,
                        records: Dataset[(String, Timestamp)],
                        gapMs: Long): Dataset[ClosedSession] =
    cappedSessionsTws(spark, records, gapMs, capMs = Long.MaxValue)

  /** Session CLOSURE via `transformWithState` event-time TIMERS (Spark 4's
    * successor to the GroupState API): each key keeps one open-session
    * ValueState and one timer at `last + gap`; when the watermark passes
    * the timer, the session emits and the state clears — push-based
    * closure, where the windowed form (`IncrementalIngest.sessionCounts`)
    * re-aggregates. Batch-internal gaps close inline as rows arrive.
    *
    * The HARD CAP (q254's rule, streamed): a session ALSO closes when a
    * new event would stretch it past `capMs` from its START — that
    * closure is inline (the closing event is what proves the cap is
    * exceeded), and the start re-anchors to the closing event, the same
    * non-associative recurrence as the batch twin. The gap timer still
    * owns FINAL-session closure: a session that simply stops receiving
    * events can only close by gap — the cap needs a next event to
    * measure against, exactly as in `Sessionize.sessionizeCapped` (where
    * the last session's duration is simply ≤ capMs). The gap-only form
    * ([[closedSessionsTws]]) is this processor with capMs = ∞ — ONE copy
    * of the fold/timer/guard logic.
    *
    * Requirements (Spark's, not ours): the input must carry a watermark
    * BEFORE groupByKey, and the query must run on the RocksDB state
    * store provider (`StateStores.rocksdb`).
    *
    * Input rows: (key, event time). Output: [[ClosedSession]], append.
    */
  private class CappedSessionProcessor(gapMs: Long, capMs: Long)
      extends StatefulProcessor[String, (String, Timestamp), ClosedSession] {
    @transient private var st: ValueState[SessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("csess", Encoders.product[SessState],
        TTLConfig.NONE)

    override def handleInputRows(key: String,
                                 rows: Iterator[(String, Timestamp)],
                                 tv: TimerValues): Iterator[ClosedSession] = {
      // Spark does NOT guarantee event-time order within a group's
      // micro-batch iterator, and the cap recurrence is non-associative
      // — sort the batch's timestamps before folding. The residual
      // assumption is CROSS-batch: a row later than the watermark but
      // earlier than state's lastMs (out-of-order ACROSS batch
      // boundaries, within the allowed lateness) folds where it lands,
      // not where a global sort would put it — the inherent limit of
      // any O(1)-state streaming recurrence; the batch twin
      // (Sessionize.sessionizeCapped) is the replayable ground truth.
      val times = rows.map(_._2.getTime).toArray.sorted
      val closed = scala.collection.mutable.ListBuffer.empty[ClosedSession]
      var cur: Option[SessState] = if (st.exists()) Some(st.get()) else None
      times.foreach { t =>
        cur match {
          case Some(s) if t - s.lastMs <= gapMs && t - s.startMs <= capMs =>
            cur = Some(SessState(s.startMs, math.max(s.lastMs, t), s.n + 1))
          case Some(s) =>
            closed += ClosedSession(key, s.startMs, s.lastMs, s.n)
            cur = Some(SessState(t, t, 1L))
          case None =>
            cur = Some(SessState(t, t, 1L))
        }
      }
      cur.foreach { s =>
        st.update(s)
        getHandle.listTimers().foreach(ts =>
          getHandle.deleteTimer(ts.asInstanceOf[Long]))
        getHandle.registerTimer(s.lastMs + gapMs)
      }
      closed.iterator
    }

    override def handleExpiredTimer(key: String, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[ClosedSession] = {
      if (st.exists()) {
        val s = st.get()
        if (info.getExpiryTimeInMs >= s.lastMs + gapMs) {
          st.clear()
          Iterator.single(ClosedSession(key, s.startMs, s.lastMs, s.n))
        } else Iterator.empty
      } else Iterator.empty
    }
  }

  /** See [[CappedSessionProcessor]]. `records` must already be
    * watermarked on its timestamp column. */
  def cappedSessionsTws(spark: SparkSession,
                        records: Dataset[(String, Timestamp)],
                        gapMs: Long, capMs: Long): Dataset[ClosedSession] = {
    import spark.implicits._
    records.groupByKey(_._1)
      .transformWithState(new CappedSessionProcessor(gapMs, capMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class Admission(user_id: String, event_id: Long,
                             admitted: Boolean)

  private[streaming] final case class BucketState(tokens: Long, lastTs: Long)

  /** Token-bucket admission as a LIVE stream — the enforcement twin of
    * `EventAnalytics.tokenBucketAdmit` (that one replays yesterday's
    * traffic; this one gates today's): per key one ValueState carries
    * (tokens, lastTs) across batches, refill floors per gap with the
    * SAME integer recurrence, so the stream's decisions are bit-equal to
    * the batch replay on identical input order (pinned by StreamingSpec).
    * Rows within a batch sort on (ts, id) before the scan — the same
    * total order the batch twin's secondary sort establishes.
    */
  private class TokenBucketProcessor(capacity: Long, refillNum: Long,
                                     refillDenMs: Long)
      extends StatefulProcessor[String, (String, Long, Long), Admission] {
    @transient private var st: ValueState[BucketState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("bucket", Encoders.product[BucketState],
        TTLConfig.NONE)

    override def handleInputRows(key: String,
                                 rows: Iterator[(String, Long, Long)],
                                 tv: TimerValues): Iterator[Admission] = {
      val sorted = rows.toArray.sortBy(r => (r._2, r._3))
      var (tokens, lastTs, started) =
        if (st.exists()) { val s = st.get(); (s.tokens, s.lastTs, true) }
        else (0L, 0L, false)
      val out = sorted.map { case (_, ts, id) =>
        if (!started) { tokens = capacity; started = true }
        else tokens = math.min(capacity,
          tokens + (ts - lastTs) * refillNum / refillDenMs)
        lastTs = ts
        val admitted = tokens >= 1L
        if (admitted) tokens -= 1L
        Admission(key, id, admitted)
      }
      st.update(BucketState(tokens, lastTs))
      out.iterator
    }
  }

  /** One closed day's drift verdict. `tvd` is the exact total-variation
    * distance between the day's categorical distribution and the reference
    * profile — integer arithmetic to one final IEEE division (q136's
    * rational-TVD law, applied incrementally). */
  final case class DayDrift(day_ms: Long, n_events: Long, n_types: Long,
                            tvd: Double)

  /** Streaming drift MONITOR — the production twin of the batch drift
    * census (`TextAnalysis.sourceDriftTvd`, q136): instead of re-scanning
    * yesterday's corpus, each day bucket accumulates a categorical count
    * MAP in state (the third transformWithState primitive after q166's
    * ValueState+timers and q235's ValueState recurrence: per-key
    * `MapState`, one entry per category — state is O(categories), never
    * O(rows)), and an EVENT-TIME TIMER at the day's end emits the day's
    * TVD against the broadcast reference profile exactly once, when the
    * watermark proves the day can no longer change. Push-based alerting —
    * the consumer sees a drift row the moment a day closes, not at the
    * next batch re-scan. Days the watermark never passes stay open
    * (unemitted), mirroring q129/q166's closure law; the q244 oracle
    * applies the same `day_end <= max(ts) - delay` predicate in SQL.
    *
    * The inner-join posture matches the oracle: categories absent from
    * the reference contribute to `n_events` but not to `a`/`cov`/`n_types`
    * (with a same-corpus reference the case is vacuous; with a stale
    * reference it drops unknown categories from the distance, as the SQL
    * `JOIN ... USING (event_type)` does).
    *
    * OVERFLOW BOUND: the TVD numerator/denominator accumulate in Long —
    * `|c_day·refTotal − c_ref·n_day|` terms and `2·n_day·refTotal` —
    * which is exact while `n_day · refTotal < 2⁶² (~4.6e18)`, i.e. a
    * per-day event count times the reference total below ~2e9 each
    * (balanced case). That is the same int64 envelope as the batch q136
    * law; past it, adopt the batch path's documented DECIMAL(38,0)
    * escape hatch (see `simpsonDiversity`): accumulate the per-category
    * sum in BigInt inside `handleExpiredTimer` before the single final
    * IEEE division — the loop is driver-free state-local Scala, so the
    * swap is mechanical.
    */
  private class DriftCloseProcessor(refCounts: Map[String, Long],
                                    refTotal: Long, dayLenMs: Long)
      extends StatefulProcessor[String, (String, Timestamp, String), DayDrift] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String,
                                 rows: Iterator[(String, Timestamp, String)],
                                 tv: TimerValues): Iterator[DayDrift] = {
      rows.foreach { case (_, _, cat) =>
        val cur = if (counts.containsKey(cat)) counts.getValue(cat) else 0L
        counts.updateValue(cat, cur + 1L)
      }
      // one closure timer per day bucket, at the day's end. Fail loudly
      // on a malformed key (the q233/q235 checked-cast posture): a
      // NumberFormatException here would surface as an opaque executor
      // stack with no operator attribution.
      val dayStart =
        try key.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"dayDriftTws: day key must be an epoch-ms long, got '$key'")
        }
      if (getHandle.listTimers().isEmpty)
        getHandle.registerTimer(dayStart + dayLenMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[DayDrift] = {
      val entries = counts.iterator().toArray
      if (entries.isEmpty) Iterator.empty
      else {
        val nD = entries.map(_._2).sum
        var aD = 0L; var cov = 0L; var nTypes = 0L
        entries.foreach { case (cat, cDt) =>
          refCounts.get(cat).foreach { cT =>
            aD += math.abs(cDt * refTotal - cT * nD)
            cov += cT
            nTypes += 1
          }
        }
        counts.clear()
        val tvd = (aD + (refTotal - cov) * nD).toDouble /
          (2L * nD * refTotal).toDouble
        Iterator.single(DayDrift(key.toLong, nD, nTypes, tvd))
      }
    }
  }

  /** See [[DriftCloseProcessor]]. Input rows: (dayStartMs-as-string key,
    * event time, category); `records` must already be watermarked on the
    * timestamp. `refCounts` is the reference category profile — bounded by
    * category cardinality (an enum, not data-sized), so shipping it inside
    * the processor is broadcast-shaped, not driver-state. */
  def dayDriftTws(spark: SparkSession,
                  records: Dataset[(String, Timestamp, String)],
                  refCounts: Map[String, Long],
                  dayLenMs: Long = 86400000L): Dataset[DayDrift] = {
    import spark.implicits._
    val refTotal = refCounts.values.sum
    require(refTotal > 0, "reference profile must be non-empty")
    records.groupByKey(_._1)
      .transformWithState(new DriftCloseProcessor(refCounts, refTotal,
        dayLenMs), TimeMode.EventTime(), OutputMode.Append())
  }

  /** See [[TokenBucketProcessor]]. Input rows: (key, ts_ms, event_id). */
  def tokenBucketTws(spark: SparkSession,
                     events: Dataset[(String, Long, Long)],
                     capacity: Long, refillNum: Long,
                     refillDenMs: Long): Dataset[Admission] = {
    import spark.implicits._
    require(capacity >= 1 && refillNum >= 0 && refillDenMs >= 1,
      s"bad bucket params: cap=$capacity num=$refillNum den=$refillDenMs")
    events.groupByKey(_._1)
      .transformWithState(new TokenBucketProcessor(capacity, refillNum,
        refillDenMs), TimeMode.None(), OutputMode.Append())
  }
}
