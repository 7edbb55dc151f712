package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.withPersisted
import graft.etl.Stages
import graft.functions.Etl

/** The flagship end-to-end pipeline query (SURVEY.md §7.2) plus incremental
  * upsert semantics, exercised through the real `graft.etl.Stages` library
  * over synthetic frames derived from the shared testdata (so the DuckDB
  * oracle can replay the whole chain as one CTE pipeline):
  *
  *   ingest-dedup (J1) → uid→serial (J2) → serial→device (J3) →
  *   wear-period first-match (J4) → day-bucket dmp_id (A1)
  */
object Pipeline {

  private val q18 = Q("q18_pipeline_e2e",
    "full reference chain over synthetic inputs derived from events/customer/part/orders",
    Some("""
      WITH recs AS (
        SELECT event_id AS record_id, CAST(event_id AS VARCHAR) AS ref,
               ts AS rs, ts + INTERVAL 2 HOUR AS re,
               'U' || CAST(user_id % 50 AS VARCHAR) AS uid
        FROM events),
      led AS (SELECT sha256('DRM' || ref) AS hash FROM recs WHERE record_id % 11 = 0),
      newr AS (SELECT r.*, sha256('DRM' || ref) AS hash FROM recs r
               WHERE sha256('DRM' || ref) NOT IN (SELECT hash FROM led)),
      us AS (SELECT 'U' || CAST(c_custkey AS VARCHAR) AS uid,
                    'S' || CAST(c_custkey * 7 % 100 AS VARCHAR) AS serial
             FROM customer WHERE c_custkey < 50 AND c_custkey % 9 <> 0),
      si AS (SELECT 'S' || CAST(p_partkey AS VARCHAR) AS serial,
                    'DEV-' || CAST(p_partkey % 25 AS VARCHAR) AS device_id
             FROM part WHERE p_partkey < 100 AND p_partkey % 8 <> 0),
      r1 AS (SELECT n.*, us.serial AS device_serial FROM newr n
             LEFT JOIN us ON n.uid = us.uid),
      r2 AS (SELECT r1.*, si.device_id FROM r1
             LEFT JOIN si ON r1.device_serial = si.serial),
      asg AS (SELECT DISTINCT
                'DEV-' || CAST(o_custkey % 25 AS VARCHAR) AS a_device,
                CASE WHEN o_orderkey % 13 = 0 THEN NULL
                     ELSE 'P-' || CAST(o_custkey AS VARCHAR) END AS a_patient,
                DATE '2024-01-01' + CAST(o_orderkey % 25 AS INT) AS start_wear,
                CASE WHEN o_orderkey % 7 = 0 THEN NULL
                     ELSE DATE '2024-01-01' + CAST(o_orderkey % 25 AS INT) + 3
                END AS end_wear
              FROM orders),
      j AS (SELECT r2.*, a.a_patient, a.start_wear,
                   ROW_NUMBER() OVER (PARTITION BY r2.record_id
                     ORDER BY a.start_wear NULLS LAST, a.a_patient NULLS LAST) AS rn
            FROM r2 LEFT JOIN asg a
              ON r2.device_id = a.a_device
             AND CAST(r2.rs AS DATE) BETWEEN a.start_wear
                   AND coalesce(a.end_wear, DATE '2024-02-15')
             AND CAST(r2.re AS DATE) BETWEEN a.start_wear
                   AND coalesce(a.end_wear, DATE '2024-02-15')),
      r3 AS (SELECT *, a_patient AS patient_id FROM j WHERE rn = 1),
      r4 AS (SELECT *,
               CASE WHEN device_id IS NOT NULL AND patient_id IS NOT NULL THEN
                 regexp_replace(device_id, '-', '', 'g') || '-' ||
                 regexp_replace(patient_id, '-', '', 'g') || '-' ||
                 strftime(bs, '%Y%m%d') || '-' || strftime(bs + 1, '%Y%m%d')
               END AS dmp_id
             FROM (SELECT *,
                     CASE WHEN strftime(rs, '%H:%M:%S') < '12:00:00'
                          THEN CAST(rs AS DATE) - 1 ELSE CAST(rs AS DATE)
                     END AS bs
                   FROM r3))
      SELECT record_id, hash, uid, device_serial, device_id, patient_id, dmp_id
      FROM r4 ORDER BY record_id"""),
    (s, dir) => {
      def t(n: String) = Tables.table(s, dir, n)
      val recs = t("events").select(
        col("event_id").as("record_id"),
        col("event_id").cast("string").as("manufacturer_ref"),
        lit("DRM").as("device_type"),
        col("ts").as("start"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("end"),
        map(lit("dreem_uid"),
          concat(lit("U"), pmod(col("user_id"), lit(50)).cast("string"))).as("meta"),
        lit(null).cast("string").as("device_serial"),
        lit(null).cast("string").as("device_id"),
        lit(null).cast("string").as("patient_id"),
        lit(null).cast("string").as("dmp_id"))
      val ledger0 = recs.filter(pmod(col("record_id"), lit(11)) === 0)
        .select(sha2(concat(lit("DRM"), col("manufacturer_ref")), 256).as("hash"))
      val uidSerial = t("customer")
        .filter(col("c_custkey") < 50 && pmod(col("c_custkey"), lit(9)) =!= 0)
        .select(concat(lit("U"), col("c_custkey").cast("string")).as("uid"),
          concat(lit("S"), pmod(col("c_custkey") * 7, lit(100)).cast("string")).as("serial"))
      val serialToId = t("part")
        .filter(col("p_partkey") < 100 && pmod(col("p_partkey"), lit(8)) =!= 0)
        .select(concat(lit("S"), col("p_partkey").cast("string")).as("serial"),
          concat(lit("DEV-"), pmod(col("p_partkey"), lit(25)).cast("string")).as("device_id"))
      val aStart = date_add(to_date(lit("2024-01-01")),
        pmod(col("o_orderkey"), lit(25)).cast("int"))
      // o_orderkey%13 null patients: pins the null-patient-wins-first-match
      // contract (a null-patient earliest assignment blocks later ones)
      val assignments = t("orders").select(
        concat(lit("DEV-"), pmod(col("o_custkey"), lit(25)).cast("string")).as("device_id"),
        when(pmod(col("o_orderkey"), lit(13)) === 0, lit(null))
          .otherwise(concat(lit("P-"), col("o_custkey").cast("string")))
          .as("patient_id"),
        aStart.cast("timestamp").as("start_wear"),
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit(null))
          .otherwise(date_add(aStart, 3)).cast("timestamp").as("end_wear"))
        .distinct()
      val fresh = Stages.ingestDedup(recs, ledger0)
      val r1 = Stages.resolveSerials(fresh, uidSerial)
      val r2 = Stages.resolveDeviceIds(r1, serialToId)
      val r3 = Stages.resolvePatients(r2, assignments, today = "2024-02-15")
      val r4 = Stages.groupRecords(r3, cutOff = "12:00:00")
      r4.select(col("record_id"), col("hash"),
        element_at(col("meta"), "dreem_uid").as("uid"),
        col("device_serial"), col("device_id"), col("patient_id"), col("dmp_id"))
        .orderBy("record_id")
    })

  private val q19 = Q("q19_incremental_upsert",
    "ledger upsert semantics: insert new keys, fill null fields on matched " +
      "keys, never override set fields (S7 + §4 MERGE)",
    Some("""
      WITH ledger AS (
        SELECT event_id AS key,
               CASE WHEN event_id % 4 = 0 THEN NULL
                    ELSE 'X' || CAST(event_id % 97 AS VARCHAR) END AS serial
        FROM events WHERE event_id % 2 = 0),
      updates AS (
        SELECT event_id AS key, 'B' || CAST(event_id % 97 AS VARCHAR) AS serial_new
        FROM events WHERE event_id % 3 = 0)
      SELECT coalesce(l.key, u.key) AS key,
             l.serial AS serial_old, u.serial_new,
             coalesce(l.serial, u.serial_new) AS serial_final,
             CASE WHEN l.key IS NULL THEN 'insert'
                  WHEN l.serial IS NULL AND u.serial_new IS NOT NULL THEN 'update'
                  ELSE 'keep' END AS action
      FROM ledger l FULL JOIN updates u ON l.key = u.key
      ORDER BY key"""),
    (s, dir) => {
      val ev = Tables.table(s, dir, "events")
      val ledger = ev.filter(pmod(col("event_id"), lit(2)) === 0).select(
        col("event_id").as("key"),
        when(pmod(col("event_id"), lit(4)) === 0, lit(null))
          .otherwise(concat(lit("X"), pmod(col("event_id"), lit(97)).cast("string")))
          .as("serial"))
      val updates = ev.filter(pmod(col("event_id"), lit(3)) === 0).select(
        col("event_id").as("ukey"),
        concat(lit("B"), pmod(col("event_id"), lit(97)).cast("string")).as("serial_new"))
      ledger.join(updates, col("key") === col("ukey"), "full_outer")
        .select(
          coalesce(col("key"), col("ukey")).as("key"),
          col("serial").as("serial_old"),
          col("serial_new"),
          coalesce(col("serial"), col("serial_new")).as("serial_final"),
          when(col("key").isNull, "insert")
            .when(col("serial").isNull && col("serial_new").isNotNull, "update")
            .otherwise("keep").as("action"))
        .orderBy("key")
    })

  /** A streaming gate's query, written once: the gate drains it over its
    * table for the oracle, and StreamBench drains it cold and warm over a
    * staged copy it redelivers. `name` is StreamBench's key for it and
    * `gates` the gates built from it.
    */
  sealed trait Shape {
    def name: String
    def table: String
    def gates: Seq[String]
  }

  /** A stream query over `table`, drained in `mode`. `query(s, dir, source)`
    * builds it from a source factory (each call a new stream: q174 reads
    * its source twice) and the static tables under `dir`. `rocksDb` marks
    * the transformWithState shapes, which need that state store.
    */
  final case class StreamShape(name: String, table: String, gates: Seq[String],
      mode: String, rocksDb: Boolean = false)(
      val query: (SparkSession, String, () => DataFrame) => DataFrame)
      extends Shape

  /** An admission filter against a frozen index: `rows` derives the keyed
    * rows from `table`, `index(evens, use)` builds the index over the
    * even-`key` rows and hands `use` its per-batch verdict, releasing the
    * index when `use` returns, and the odd-`key` rows stream through that
    * verdict.
    */
  final case class AdmissionShape(name: String, table: String,
      gates: Seq[String], key: String)(
      val rows: DataFrame => DataFrame,
      val index: (DataFrame, (DataFrame => DataFrame) => Unit) => Unit)
      extends Shape {

    /** Build the index over `t`'s even-`key` rows, stage its odd-`key` rows
      * in `stage` as 4 files, and run `body` with the drain that streams
      * `stage` one file per micro-batch through the verdict into the
      * parquet dir `out`, under a state-store provider if one is given.
      * The index lives while `body` runs.
      */
    def withDrain(t: DataFrame, stage: String, cp: String, out: String)(
        body: (Option[String] => Long) => Unit): Unit = {
      val r = rows(t)
      index(r.filter(col(key) % 2 === 0), verdict => {
        r.filter(col(key) % 2 === 1).repartitionByRange(4, col(key))
          .write.mode("overwrite").parquet(stage)
        body(provider => graft.streaming.Drain.eachBatch(
          Tables.stream(t.sparkSession, stage, oneFilePerBatch = true), cp,
          provider) { batch =>
          verdict(batch).write.mode("append").parquet(out)
        })
      })
    }
  }

  /** `rows` of `table` drained into a ledger by
    * [[graft.streaming.IncrementalIngest.runIntoLedger]]. */
  final case class LedgerShape(name: String, table: String,
      gates: Seq[String])(val rows: DataFrame => DataFrame) extends Shape {

    /** Stage `t`'s ledger records in `src` as one parquet file; returns the
      * drain of `src` into `ledger` through the checkpoint `cp`. */
    def prepare(t: DataFrame, src: String, cp: String,
                ledger: graft.ledger.Ledger): () => Long = {
      rows(t).coalesce(1).write.parquet(src)
      () => graft.streaming.IncrementalIngest.runIntoLedger(
        t.sparkSession, src, cp, ledger)
    }
  }

  /** Copy every parquet file in `dir` once more under a new name: an
    * at-least-once redelivery, which the file source sees as new input. */
  def redeliver(dir: String): Unit = {
    val d = java.nio.file.Paths.get(dir)
    val ls = java.nio.file.Files.list(d)
    val files =
      try ls.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally ls.close()
    files.foreach(f =>
      java.nio.file.Files.copy(f, d.resolve("re-" + f.getFileName)))
  }

  private def scratch(gate: String, what: String): String =
    graft.TempDirs.create(s"graft-${gate.takeWhile(_ != '_')}-$what").toString

  /** A gate that drains `shape` over its table into memory, then `finish`es
    * the drained rows. */
  private def streamGate(shape: StreamShape, doc: String, oracle: String)(
      finish: DataFrame => DataFrame): Q =
    Q(shape.gates.head, doc, Some(oracle), (s, dir) => {
      val stream = shape.query(s, dir,
        () => Tables.stream(s, s"$dir/${shape.table}.parquet"))
      finish(graft.streaming.Drain.toMemory(stream,
        scratch(shape.gates.head, "cp"), shape.mode,
        if (shape.rocksDb) Some("rocksdb") else None)._1)
    })

  /** A gate that streams the odd-`key` rows of `shape` as 4 files, one per
    * micro-batch, through the index built over the even-`key` rows, and
    * returns the verdicts. */
  private def admissionGate(shape: AdmissionShape, doc: String,
                            oracle: Option[String]): Q = {
    val gate = shape.gates.head
    Q(gate, doc, oracle, (s, dir) => {
      val out = scratch(gate, "out")
      shape.withDrain(Tables.table(s, dir, shape.table),
        scratch(gate, "stage"), scratch(gate, "cp"), out)(drain => drain(None))
      s.read.parquet(out).orderBy(shape.key)
    })
  }

  val ingestDedup: StreamShape = StreamShape("ingest_dedup", "events",
    Seq("q33_streaming_ingest"), "complete") { (_, _, source) =>
    source()
      .withColumn("hash",
        Etl.recordHash(lit("DRM"), col("event_id").cast("string")))
      .dropDuplicates("hash")
      .groupBy("event_type").agg(count(lit(1)).as("n_records"))
  }

  private val q33 = streamGate(ingestDedup,
    "§2.9: Structured Streaming AvailableNow drain — sha256 dedup state + " +
      "aggregation; result equals the batch query (exactly-once semantics)",
    """
      SELECT event_type, count(*) AS n_records
      FROM events GROUP BY event_type ORDER BY event_type""")(
    _.orderBy("event_type"))

  val dayWindow: StreamShape = StreamShape("day_window", "events",
    Seq("q56_streaming_day_window"), "complete") { (_, _, source) =>
    graft.streaming.IncrementalIngest.dayBucketCounts(
      source().select(col("event_type").as("device_id"), col("ts").as("start")),
      "12:00:00")
  }

  private val q56 = streamGate(dayWindow,
    "§2.9: streaming 1-day tumbling event-time window anchored at the " +
      "12:00 cut-off (IncrementalIngest.dayBucketCounts) — the A1 day " +
      "bucket as a streaming aggregation; oracle computes the identical " +
      "windows in plain SQL",
    """
      SELECT event_type AS device_id,
             strftime(date_trunc('day', ts - INTERVAL 12 HOUR) + INTERVAL 12 HOUR,
                      '%Y-%m-%d %H:%M:%S') AS bucket_start,
             strftime(date_trunc('day', ts - INTERVAL 12 HOUR) + INTERVAL 36 HOUR,
                      '%Y-%m-%d %H:%M:%S') AS bucket_end,
             count(*) AS n_records
      FROM events GROUP BY 1, 2, 3 ORDER BY device_id, bucket_start""")(
    _.orderBy("device_id", "bucket_start"))

  private val q34 = Q("q34_approx_distinct",
    "distinct-count rollup whose exact columns are oracle-gated; the " +
      "HLL-sketch estimate itself is engine-specific, so its <5% error " +
      "bound is asserted in PipelineSpec (approxDistinct), not here",
    Some("""
      SELECT event_type,
             count(DISTINCT user_id) AS exact_users,
             count(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type"""),
    (s, dir) => {
      val ev = Tables.table(s, dir, "events")
      ev.groupBy("event_type").agg(
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
        .orderBy("event_type")
    })

  /** Sketch variant of q34: HLL approx counts next to the exact ones.
    * Engine-specific estimates → spec-tested (±5%), not oracle-gated. */
  def approxDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.table(s, dir, "events")
    ev.groupBy("event_type").agg(
      approx_count_distinct(col("user_id")).as("approx_users"),
      countDistinct(col("user_id")).as("exact_users"),
      approx_count_distinct(col("event_id"), rsd = 0.02).as("approx_events"),
      count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  private val q35 = Q("q35_topk_aggregator",
    "§2.10: typed bounded-heap Aggregator — per-group top-3 with " +
      "deterministic tiebreak, equal to the window-function formulation",
    Some("""
      SELECT event_type, rank, value, event_id FROM (
        SELECT event_type, value, event_id,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id) AS rank
        FROM events)
      WHERE rank <= 3
      ORDER BY event_type, rank"""),
    (s, dir) => {
      import s.implicits._
      val ev = Tables.table(s, dir, "events")
        .select(col("event_type"), col("value"), col("event_id"))
        .as[(String, Double, Long)]
      val top = ev.groupByKey(_._1).mapValues(t => (t._2, t._3))
        .agg(graft.ops.TopK.TopKAgg(3).toColumn.name("top"))
      top.toDF("event_type", "top")
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
          col("col._1").as("value"), col("col._2").as("event_id"))
        .orderBy("event_type", "rank")
    })

  /** Shared q70/q84 fixture (the q05 shape + null patients) and oracle. */
  private val intervalOracle = """
      WITH recs AS (
        SELECT event_id AS record_id,
               'DEV-' || CAST(user_id % 25 AS VARCHAR) AS device_id,
               ts AS rs, ts + INTERVAL 2 HOUR AS re
        FROM events),
      asg AS (SELECT DISTINCT
                'DEV-' || CAST(o_custkey % 25 AS VARCHAR) AS a_device,
                CASE WHEN o_orderkey % 13 = 0 THEN NULL
                     ELSE 'P-' || CAST(o_custkey AS VARCHAR) END AS a_patient,
                DATE '2024-01-01' + CAST(o_orderkey % 25 AS INT) AS start_wear,
                CASE WHEN o_orderkey % 7 = 0 THEN NULL
                     ELSE DATE '2024-01-01' + CAST(o_orderkey % 25 AS INT) + 3
                END AS end_wear
              FROM orders),
      j AS (SELECT r.record_id, a.a_patient,
                   ROW_NUMBER() OVER (PARTITION BY r.record_id
                     ORDER BY a.start_wear NULLS LAST, a.a_patient NULLS LAST) AS rn
            FROM recs r LEFT JOIN asg a
              ON r.device_id = a.a_device
             AND CAST(r.rs AS DATE) BETWEEN a.start_wear
                   AND coalesce(a.end_wear, DATE '2024-02-15')
             AND CAST(r.re AS DATE) BETWEEN a.start_wear
                   AND coalesce(a.end_wear, DATE '2024-02-15'))
      SELECT record_id, a_patient AS patient_id FROM j WHERE rn = 1
      ORDER BY record_id"""

  private def intervalJoinQuery(s: SparkSession, dir: String,
                                broadcastAssignments: Boolean): DataFrame = {
    val recs = Tables.table(s, dir, "events").select(
      col("event_id").as("record_id"),
      col("event_id").cast("string").as("hash"),
      concat(lit("DEV-"), pmod(col("user_id"), lit(25)).cast("string")).as("device_id"),
      col("ts").as("start"),
      (col("ts") + expr("INTERVAL 2 HOURS")).as("end"),
      lit(null).cast("string").as("patient_id"))
    val aStart = date_add(to_date(lit("2024-01-01")),
      pmod(col("o_orderkey"), lit(25)).cast("int"))
    val assignments = Tables.table(s, dir, "orders").select(
      concat(lit("DEV-"), pmod(col("o_custkey"), lit(25)).cast("string")).as("device_id"),
      when(pmod(col("o_orderkey"), lit(13)) === 0, lit(null))
        .otherwise(concat(lit("P-"), col("o_custkey").cast("string")))
        .as("patient_id"),
      aStart.cast("timestamp").as("start_wear"),
      when(pmod(col("o_orderkey"), lit(7)) === 0, lit(null))
        .otherwise(date_add(aStart, 3)).cast("timestamp").as("end_wear"))
      .distinct()
    Stages.resolvePatients(recs, assignments, today = "2024-02-15",
        broadcastAssignments = broadcastAssignments)
      .select(col("record_id"), col("patient_id"))
      .orderBy("record_id")
  }

  private val q70 = Q("q70_interval_join_production",
    "J4 production path, standalone: Stages.resolvePatients (day-bucket " +
      "equi-join + suffix-min interval index probed once per record) over the " +
      "q05 fixture shape — gates the optimized interval join outside q18's " +
      "composite (ucam.py:119-136). q05 keeps the deliberately-naive " +
      "row_number form for contrast; this is the one the pipeline runs.",
    Some(intervalOracle),
    (s, dir) => intervalJoinQuery(s, dir, broadcastAssignments = true))

  private val q84 = Q("q84_interval_join_no_broadcast",
    "the interval join's huge-assignment-table fallback: " +
      "broadcastAssignments=false degrades the suffix-min index probe to a " +
      "shuffled join on the (device, day) bucket key — PLANS.md's one " +
      "deliberate exception to broadcast-the-small-side, gated equal to " +
      "q70's broadcast plan",
    Some(intervalOracle),
    (s, dir) => intervalJoinQuery(s, dir, broadcastAssignments = false))

  val curation: StreamShape = StreamShape("curation", "documents",
    Seq("q75_streaming_curation"), "complete") { (_, _, source) =>
    graft.streaming.IncrementalIngest.curateDocuments(source(),
      minChars = 150, langs = Seq("de", "en", "fr"))
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
  }

  private val q75 = streamGate(curation,
    "incremental corpus curation: AvailableNow drain through the quality " +
      "filter + (lang, content-hash) dedup state (IncrementalIngest." +
      "curateDocuments) — the streaming twin of q62's batch chain; result " +
      "equals the batch distinct count (exactly-once curation)",
    """
      SELECT lang, count(DISTINCT text) AS n_docs
      FROM documents
      WHERE n_chars >= 150 AND lang IN ('de', 'en', 'fr')
      GROUP BY lang ORDER BY lang""")(
    _.orderBy("lang"))

  val streamJoin: StreamShape = StreamShape("stream_join", "events",
    Seq("q113_streaming_stream_join"), "append") { (_, _, source) =>
    val ev = source()
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    graft.streaming.IncrementalIngest.attributionJoin(
      clicks, purchases, "c_user", "p_user", "c_ts", "p_ts", "1 hour")
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        unix_millis(col("c_ts")).as("click_ms"),
        unix_millis(col("p_ts")).as("purchase_ms"))
  }

  private val q113 = streamGate(streamJoin,
    "§2.9: watermarked stream-stream inner join (IncrementalIngest." +
      "attributionJoin) — purchases attributed to same-user clicks within " +
      "a 1-hour horizon; both sides watermarked so join state expires; " +
      "AvailableNow drain equals the batch join, which the oracle replays",
    """
      WITH a AS (SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
                 FROM events WHERE event_type = 'click'),
           b AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
                 FROM events WHERE event_type = 'purchase')
      SELECT click_id, purchase_id, c_user AS user_id,
             epoch_ms(c_ts) AS click_ms, epoch_ms(p_ts) AS purchase_ms
      FROM a JOIN b ON c_user = p_user
        AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR
      ORDER BY click_id, purchase_id""")(
    _.orderBy("click_id", "purchase_id"))

  /** Append-mode emission law, pinned empirically: the AvailableNow drain's
    * final no-data batch advances the watermark to max(ts) - delay, and a
    * watermarked window aggregate then emits exactly the windows whose END
    * the watermark has passed — open windows stay in state for the next
    * run. That incremental contract (emit-once, only-closed) is what a
    * production pipeline sinks downstream; q56's complete-mode twin instead
    * re-emits the whole result every drain. The oracle applies the same
    * closure predicate in SQL: bucket_end <= max(ts) - 1 hour.
    */
  val appendWindow: StreamShape = StreamShape("append_window", "events",
    Seq("q129_streaming_append_window"), "append") { (_, _, source) =>
    graft.streaming.IncrementalIngest.dayBucketCounts(
      source().select(col("event_type").as("device_id"), col("ts").as("start")),
      "12:00:00", watermark = "1 hour")
  }

  private val q129 = streamGate(appendWindow,
    "§2.9: append-mode day-bucket window + 1-hour watermark — only " +
      "watermark-closed buckets are emitted (the incremental production " +
      "posture vs q56's complete-mode re-emit); oracle filters the same " +
      "closed windows in SQL",
    """
      WITH b AS (SELECT event_type AS device_id,
                   date_trunc('day', ts - INTERVAL 12 HOUR) + INTERVAL 12 HOUR AS bs,
                   count(*) AS n_records
                 FROM events GROUP BY 1, 2),
      wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
      SELECT device_id,
             strftime(bs, '%Y-%m-%d %H:%M:%S') AS bucket_start,
             strftime(bs + INTERVAL 24 HOUR, '%Y-%m-%d %H:%M:%S') AS bucket_end,
             n_records
      FROM b, wm WHERE bs + INTERVAL 24 HOUR <= w
      ORDER BY device_id, bucket_start""")(
    _.orderBy("device_id", "bucket_start"))

  /** Session windows share the law: a session closes when the watermark
    * passes its end (last event + gap), so the emitted set is exactly the
    * sessions a later event can no longer extend. The SQL oracle rebuilds
    * the identical sessions with the lag-gap chain (q65's formulation —
    * session_window's merge semantics equal chained <=gap steps) and applies
    * the closure predicate max(ts_in_session) + gap <= max(ts) - delay.
    */
  val closedSessions: StreamShape = StreamShape("closed_sessions", "events",
    Seq("q130_streaming_closed_sessions"), "append") { (_, _, source) =>
    graft.streaming.IncrementalIngest.sessionCounts(
      source().select(col("user_id").as("device_id"), col("ts").as("start")),
      gap = "30 minutes", watermark = "1 hour")
  }

  private val q130 = streamGate(closedSessions,
    "§2.9: streaming session windows (30-min gap, 1-hour watermark) in " +
      "append mode — only sessions no future event can extend are emitted; " +
      "oracle rebuilds the sessions via the q65 lag-gap chain and filters " +
      "to the closed ones",
    """
      WITH e AS (SELECT user_id, event_id, ts FROM events),
      l AS (SELECT user_id, event_id, ts,
            CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts)) OVER
                   (PARTITION BY user_id
                    ORDER BY ts NULLS LAST, event_id NULLS LAST) <= 1800000000000
                 THEN 0 ELSE 1 END AS new_s
            FROM e),
      s AS (SELECT user_id, ts,
            CAST(SUM(new_s) OVER (PARTITION BY user_id
                 ORDER BY ts NULLS LAST, event_id NULLS LAST
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
            FROM l),
      g AS (SELECT user_id, min(ts) AS s_start,
                   max(ts) + INTERVAL 30 MINUTE AS s_end,
                   count(*) AS n_records
            FROM s GROUP BY user_id, session_idx),
      wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
      SELECT user_id AS device_id,
             strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
             strftime(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
             n_records
      FROM g, wm WHERE s_end <= w
      ORDER BY device_id, session_start""")(
    _.orderBy("device_id", "session_start"))

  /** The reference's whole incremental contract in one gate: at-least-once
    * delivery (the SAME file arrives twice, under two names, across two
    * AvailableNow drains sharing a checkpoint) composing to exactly-once
    * ledger state through the foreachBatch sink's `Ledger.append` (one
    * survivor per hash within the batch, then the anti-join). The oracle
    * sees none of the redelivery machinery — just the per-type counts the
    * ledger must equal if and only if every record landed exactly once. StreamingSpec covers the same sink against
    * synthetic data; this gate proves it end-to-end on the driver's events
    * table with a DuckDB oracle.
    */
  val ledgerSink: LedgerShape = LedgerShape("ledger_sink", "events",
    Seq("q134_streaming_ledger_sink")) { ev =>
    ev.select(col("event_type").as("device_type"),
      col("event_id").cast("string").as("manufacturer_ref"))
  }

  private val q134 = Q(ledgerSink.gates.head,
    "§2.9: foreachBatch → Ledger exactly-once sink, end-to-end — same file " +
      "delivered twice across two checkpointed drains; ledger contents " +
      "equal the batch counts (redelivery invisible)",
    Some("""
      SELECT event_type AS device_type, count(*) AS n_records
      FROM events GROUP BY 1 ORDER BY 1"""),
    (s, dir) => {
      val work = graft.TempDirs.create("graft-q134")
      val src = work.resolve("src").toString
      val ledger = new graft.ledger.Ledger(s, work.resolve("ledger").toString)
      val drain = ledgerSink.prepare(Tables.table(s, dir, ledgerSink.table),
        src, work.resolve("cp").toString, ledger)
      drain()
      redeliver(src) // at-least-once: the identical payload lands again
      drain()
      ledger.read()
        .groupBy("device_type").agg(count(lit(1)).as("n_records"))
        .orderBy("device_type")
    })

  val enrich: StreamShape = StreamShape("enrich", "events",
    Seq("q157_streaming_enrich"), "complete") { (s, dir, source) =>
    val dim = Tables.table(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    source()
      .select(col("user_id"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
  }

  private val q157 = streamGate(enrich,
    "§2.9 stream-static enrichment: the event stream joins the STATIC " +
      "customer dimension (re-read and broadcast per micro-batch — the " +
      "slowly-changing-lookup posture; no state store involved for the " +
      "join side) and aggregates exact cents per market segment; " +
      "AvailableNow drain ≡ the batch join the oracle runs",
    """
      SELECT c.c_mktsegment, count(*) AS n_events,
             CAST(sum(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS sum_cents
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1 ORDER BY c_mktsegment""")(
    _.orderBy("c_mktsegment"))

  /** Events keyed by user as (k, ts), null key/ts rows excluded before
    * keying and watermarking — the batch twins' policy and the oracles'
    * WHERE (r13 advice); without it a null-bearing corpus would push a
    * "null" string key through the processor. */
  private def userSessions(s: SparkSession, ev: DataFrame) = {
    import s.implicits._
    ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id").cast("string").as("k"), col("ts"))
      .withWatermark("ts", "1 hour")
      .as[(String, java.sql.Timestamp)]
  }

  val twsSessions: StreamShape = StreamShape("tws_sessions", "events",
    Seq("q166_tws_closed_sessions"), "append", rocksDb = true) {
    (s, _, source) =>
      graft.streaming.StatefulTracking
        .closedSessionsTws(s, userSessions(s, source()), gapMs = 1800000L).toDF()
  }

  private val q166 = streamGate(twsSessions,
    "§2.9: session closure via transformWithState EVENT-TIME TIMERS " +
      "(StatefulProcessor + ValueState + registerTimer, RocksDB " +
      "provider) — push-based emission the built-in session_window " +
      "(q130) can't do: a user's NON-FINAL sessions close inline as the " +
      "closing event arrives, final sessions close when the watermark " +
      "(max ts - 1h) passes last+gap; oracle rebuilds both rules in SQL",
    """
      WITH l AS (SELECT user_id, event_id, ts,
            CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) <= 1800000
                 THEN 0 ELSE 1 END AS new_s
            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      s AS (SELECT user_id, ts,
            SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
            FROM l),
      g AS (SELECT user_id, sid,
              CAST(epoch_ms(min(ts)) AS BIGINT) AS start_ms,
              CAST(epoch_ms(max(ts)) AS BIGINT) AS last_ms,
              count(*) AS n_events
            FROM s GROUP BY 1, 2),
      m AS (SELECT user_id, max(sid) AS max_sid FROM g GROUP BY 1),
      wm AS (SELECT CAST(epoch_ms(max(ts)) AS BIGINT) - 3600000 AS w
             FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
      SELECT g.user_id AS user_id, start_ms, last_ms, n_events
      FROM g JOIN m ON g.user_id = m.user_id CROSS JOIN wm
      WHERE g.sid < m.max_sid OR g.last_ms + 1800000 <= wm.w
      ORDER BY g.user_id, start_ms""")(
    _.select(col("device_id").cast("long").as("user_id"),
      col("start_ms"), col("end_ms").as("last_ms"), col("n_events"))
      .orderBy("user_id", "start_ms"))

  val dedupWatermark: StreamShape = StreamShape("dedup_watermark", "events",
    Seq("q174_streaming_dedup_watermark"), "append") { (_, _, source) =>
    source().unionByName(source())
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("event_type"))
  }

  private val q174 = streamGate(dedupWatermark,
    "§2.9: dropDuplicatesWithinWatermark over a deliberately DOUBLED " +
      "stream (two independent file-source reads of the same table, " +
      "unioned) — the at-least-once-redelivery dedup posture: state for " +
      "each key lives only until the watermark passes it, unlike " +
      "dropDuplicates' forever-state; append mode, result equals the " +
      "batch distinct",
    """
      SELECT event_type, count(*) AS n_records
      FROM events GROUP BY 1 ORDER BY 1""")(
    _.groupBy("event_type").agg(count(lit(1)).as("n_records"))
      .orderBy("event_type"))

  val tokenBucket: StreamShape = StreamShape("token_bucket", "events",
    Seq("q235_streaming_token_bucket"), "append", rocksDb = true) {
    (s, _, source) =>
      import s.implicits._
      val ev = source()
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id").cast("string").as("k"),
          unix_millis(col("ts")).as("ts_ms"), col("event_id"))
        .as[(String, Long, Long)]
      graft.streaming.StatefulTracking.tokenBucketTws(s, ev, capacity = 5L,
        refillNum = 1L, refillDenMs = 43200000L).toDF()
  }

  private val q235 = streamGate(tokenBucket,
    "§2.9: token-bucket rate limiting as a LIVE stream — " +
      "transformWithState ValueState carries (tokens, lastTs) per user " +
      "across batches with the SAME integer recurrence as the batch " +
      "replay (q233), so enforcement and audit are bit-equal on the " +
      "same input order (StreamingSpec pins stream == batch row for " +
      "row); RocksDB provider, AvailableNow drain, per-user admission " +
      "census",
    """
      WITH RECURSIVE ev AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
          row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_ms(ts), event_id) AS rn
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      scan AS (
        SELECT user_id, rn, ts_ms, CAST(4 AS BIGINT) AS tokens,
               TRUE AS admitted
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn, e.ts_ms,
          least(5, s.tokens + (e.ts_ms - s.ts_ms) // 43200000)
            - CASE WHEN least(5, s.tokens +
                (e.ts_ms - s.ts_ms) // 43200000) >= 1 THEN 1 ELSE 0 END,
          least(5, s.tokens + (e.ts_ms - s.ts_ms) // 43200000) >= 1
        FROM scan s JOIN ev e
          ON e.user_id = s.user_id AND e.rn = s.rn + 1)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
          AS n_admitted
      FROM scan GROUP BY 1 ORDER BY user_id""")(
    _.groupBy(col("user_id").cast("long").as("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"))
      .orderBy("user_id"))

  val driftMonitor: StreamShape = StreamShape("drift_monitor", "events",
    Seq("q244_streaming_drift_monitor"), "append", rocksDb = true) {
    (s, dir, source) =>
      import s.implicits._
      // Reference profile: the category census — bounded by event_type
      // cardinality (an enum), not by data size; broadcast-shaped.
      val ref = Tables.table(s, dir, "events")
        .groupBy("event_type").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val ev = source()
        .withColumn("day_key",
          unix_millis(date_trunc("DAY", col("ts"))).cast("string"))
        .select(col("day_key"), col("ts"), col("event_type"))
        .withWatermark("ts", "1 hour")
        .as[(String, java.sql.Timestamp, String)]
      graft.streaming.StatefulTracking.dayDriftTws(s, ev, ref).toDF()
  }

  private val q244 = streamGate(driftMonitor,
    "§2.9: streaming drift MONITOR — per-day categorical TVD vs a " +
      "reference profile, emitted push-based by an event-time timer the " +
      "moment the watermark closes the day (transformWithState MapState: " +
      "state is O(categories) per open day, never O(rows)); the streaming " +
      "twin of the batch drift census (q136), sharing its exact " +
      "rational-TVD law; oracle rebuilds closed days + TVD in SQL",
    """
      WITH g AS (SELECT event_type, count(*) AS c_t FROM events GROUP BY 1),
      n AS (SELECT count(*) AS n_total FROM events),
      d AS (SELECT CAST(epoch_ms(date_trunc('day', ts)) AS BIGINT) AS day_ms,
                   event_type, count(*) AS c_dt
            FROM events GROUP BY 1, 2),
      t AS (SELECT day_ms, sum(c_dt) AS n_d FROM d GROUP BY 1),
      wm AS (SELECT CAST(epoch_ms(max(ts)) AS BIGINT) - 3600000 AS w
             FROM events),
      j AS (SELECT d.day_ms, t.n_d, n.n_total, count(*) AS n_types,
                   sum(abs(d.c_dt * n.n_total - g.c_t * t.n_d)) AS a_d,
                   sum(g.c_t) AS cov
            FROM d JOIN g USING (event_type) JOIN t USING (day_ms)
                 CROSS JOIN n
            GROUP BY 1, 2, 3)
      SELECT day_ms, CAST(n_d AS BIGINT) AS n_events,
             CAST(n_types AS BIGINT) AS n_types,
             CAST(a_d + (n_total - cov) * n_d AS DOUBLE)
               / CAST(2 * n_d * n_total AS DOUBLE) AS tvd
      FROM j CROSS JOIN wm WHERE day_ms + 86400000 <= wm.w
      ORDER BY day_ms""")(
    _.orderBy("day_ms"))

  /** `body` over `df` persisted and materialized ONCE, before the first
    * micro-batch would otherwise charge the build to itself. */
  private def frozen[T](df: DataFrame)(body: DataFrame => T): T =
    withPersisted(df) { p => p.count(); body(p) }

  val indexAdmission: AdmissionShape = AdmissionShape("index_admission",
    "documents", Seq("q248_streaming_index_admission"), "doc_id")(
    identity, { (evens, use) =>
      // persisted PRE-PARTITIONED by the join key — the bucketed-index
      // shape dedupAgainstBands' scaladoc prescribes: the per-batch join
      // reads index partitions in place (batch bands broadcast), and the
      // cached layout is the one the join wants (r14: warm batch
      // 0.54 -> 0.37 s)
      frozen(graft.ops.Dedup.lshBands(
        graft.ops.Dedup.minHashSignatures(evens, "doc_id", "text",
          numHashes = 16, shingleSize = 3),
        "doc_id", rowsPerBand = 2)
        .repartition(col("band"), col("band_sig"))) { bands =>
        use(graft.ops.Dedup.dedupAgainstBands(_, bands,
          "doc_id", "text", numHashes = 16, rowsPerBand = 2))
      }
    })

  private val q248 = admissionGate(indexAdmission,
    "§2.9 × near-dup: q138's incremental admission run the way a standing " +
      "pipeline runs it — the corpus index (even-id docs) is signed ONCE " +
      "and persisted as its lshBands relation; odd-id docs arrive as a " +
      "4-file stream (maxFilesPerTrigger=1, AvailableNow) and every " +
      "micro-batch pays one signature pass + one bucket-sized keyed join " +
      "via foreachBatch(dedupAgainstBands), never a corpus re-signature; " +
      "a doc's annotation never reads other incoming docs, so the drained " +
      "result is batch-boundary invariant and equals the batch gate " +
      "bit-for-bit (the foreachBatch parquet append is at-least-once on " +
      "retry — a production sink pairs it with the q134 ledger discipline; " +
      "the single AvailableNow drain here has no retry window)",
    Some(Extensions.minHashAdmissionOracle))

  val cappedSessions: StreamShape = StreamShape("capped_sessions", "events",
    Seq("q257_tws_capped_sessions"), "append", rocksDb = true) {
    (s, _, source) =>
      graft.streaming.StatefulTracking.cappedSessionsTws(s,
        userSessions(s, source()), gapMs = 1800000L, capMs = 900000L).toDF()
  }

  private val q257 = streamGate(cappedSessions,
    "§2.9: q254's hard-cap sessionization as a LIVE stream — " +
      "CappedSessionProcessor extends the q166 timer machinery with the " +
      "cap rule: a session closes inline when the arriving event sits " +
      "past the 30-min gap OR would stretch it past 15 min from its " +
      "START (the closing event re-anchors the start — the same " +
      "non-associative recurrence as the batch twin); final sessions " +
      "close when the watermark (max ts − 1 h) passes last + gap; the " +
      "oracle replays the capped recurrence as a recursive CTE and " +
      "applies the q166 closure predicate",
    """
      WITH RECURSIVE ev AS (
        SELECT user_id AS k, epoch_ms(ts) AS ts_ms,
          row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_ms(ts), event_id) AS rn
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      scan AS (
        SELECT k, rn, ts_ms, CAST(1 AS BIGINT) AS sid, ts_ms AS start_ms
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.k, e.rn, e.ts_ms,
          CASE WHEN e.ts_ms - s.ts_ms > 1800000
                 OR e.ts_ms - s.start_ms > 900000
               THEN s.sid + 1 ELSE s.sid END,
          CASE WHEN e.ts_ms - s.ts_ms > 1800000
                 OR e.ts_ms - s.start_ms > 900000
               THEN e.ts_ms ELSE s.start_ms END
        FROM ev e JOIN scan s ON e.k = s.k AND e.rn = s.rn + 1),
      g AS (SELECT k, sid, CAST(min(ts_ms) AS BIGINT) AS start_ms,
              CAST(max(ts_ms) AS BIGINT) AS end_ms, count(*) AS n_events
            FROM scan GROUP BY 1, 2),
      m AS (SELECT k, max(sid) AS max_sid FROM g GROUP BY 1),
      wm AS (SELECT CAST(epoch_ms(max(ts)) AS BIGINT) - 3600000 AS w
             FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
      SELECT g.k AS user_id, start_ms, end_ms, n_events
      FROM g JOIN m ON g.k = m.k CROSS JOIN wm
      WHERE g.sid < m.max_sid OR g.end_ms + 1800000 <= wm.w
      ORDER BY user_id, start_ms""")(
    _.select(col("device_id").cast("long").as("user_id"),
      col("start_ms"), col("end_ms"), col("n_events"))
      .orderBy("user_id", "start_ms"))

  /** `docs`' unigram census over `text`, pre-partitioned by its join key
    * `w` (the q248 bucketed-index discipline). */
  private def censusOf(docs: DataFrame, text: String = "text"): DataFrame =
    graft.ops.TextAnalysis.unigramCensus(docs, text).repartition(col("w"))

  private def scoreCensus(census: DataFrame)(batch: DataFrame): DataFrame =
    graft.ops.TextAnalysis.scoreAgainstCensus(batch, census, "doc_id", "text",
      keepLoPpm = 4010000L, keepHiPpm = 10000000L)

  val censusAdmission: AdmissionShape = AdmissionShape("census_admission",
    "documents", Seq("q267_streaming_census_admission",
      "q271_streaming_census_growth"), "doc_id")(
    identity, { (evens, use) =>
      frozen(censusOf(evens))(census => use(scoreCensus(census)))
    })

  private val q267 = admissionGate(censusAdmission,
    "§2.9 × quality: q266's frozen-census scoring run the way a standing " +
      "pipeline runs it — the census (even-id docs' unigram counts) is " +
      "built ONCE and persisted pre-partitioned by its join key `w` (the " +
      "q248 bucketed-index discipline); odd-id docs arrive as a 4-file " +
      "stream (maxFilesPerTrigger=1, AvailableNow) and every micro-batch " +
      "pays one tokenize + one word-keyed join against the in-place " +
      "census via foreachBatch(scoreAgainstCensus) — never a census " +
      "rebuild; scoring is row-local per doc GIVEN the census, so the " +
      "drained result is batch-boundary invariant and equals the q266 " +
      "batch gate bit-for-bit",
    Some(Extensions.censusScoringOracle))

  private val q271 = Q("q271_streaming_census_growth",
    "§2.9 × quality: q270's census maintenance run the way a standing " +
      "pipeline actually runs it — ONE checkpoint, one AvailableNow " +
      "drain PER BATCH ARRIVAL (the restart-per-arrival operational " +
      "pattern; q248 is the single-drain frozen-index cousin): drain 1 " +
      "scores staged batch 1 against the persisted C0 and appends " +
      "verdicts; BETWEEN drains the driver merges the admitted docs' " +
      "counts into C1 (census-sized union+sum, never a corpus re-read) " +
      "and checkpoints it; batch 2 then lands in " +
      "the stage dir and drain 2 — same checkpoint, so the source " +
      "offset log skips batch 1's already-processed file — scores only " +
      "it against C1; equals the q270 batch gate bit-for-bit",
    Some(Extensions.censusGrowthOracle),
    (s, dir) => {
      val gate = "q271_streaming_census_growth"
      val docs = Tables.table(s, dir, "documents")
      val stage = scratch(gate, "stage")
      val out = scratch(gate, "out")
      val cp = scratch(gate, "cp")
      docs.filter(col("doc_id") % 4 === 1).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      def drain(census: DataFrame, batchNo: Long): Unit =
        graft.streaming.Drain.eachBatch(
          Tables.stream(s, stage, oneFilePerBatch = true), cp) { batch =>
          scoreCensus(census)(batch).withColumn("batch", lit(batchNo))
            .write.mode("append").parquet(out)
        }
      val grown = frozen(censusOf(docs.filter(col("doc_id") % 4 === 0))) { c0 =>
        drain(c0, 1L)
        val admitted = docs.filter(col("doc_id") % 4 === 1)
          .join(s.read.parquet(out).filter(col("keep")).select("doc_id"),
            Seq("doc_id"), "left_semi")
        // eager localCheckpoint, NOT persist: grown's lineage reads the
        // `out` parquet dir, which drain 2 appends to — a persisted
        // partition evicted and recomputed after that append would
        // silently fold batch-2 admissions into the batch-2 scoring
        // census. Checkpointing truncates the lineage, so the relation is
        // durable against recompute (and local-mode partitions can't be
        // lost, only evicted).
        graft.ops.TextAnalysis.mergeCensus(c0,
            graft.ops.TextAnalysis.unigramCensus(admitted, "text"))
          .localCheckpoint(true)
      }
      docs.filter(col("doc_id") % 4 === 2).coalesce(1)
        .write.mode("append").parquet(stage)
      drain(grown, 2L)
      s.read.parquet(out).orderBy("doc_id")
    })

  private val SemMaxDist2 = 1200000000000L

  /** `body` over the frozen codebook (k = ceil(sqrt(n)) centroids, n the
    * vectors of the widest dimension) and the per-cell keep-set index over
    * `evens`, the index persisted while `body` runs; None when no vector
    * has a size. ONE action for the dimensionality probe + k sizing (the
    * q277 batched-collect shape). */
  private def semIndex[T](evens: DataFrame)(
      body: Option[(DataFrame, DataFrame)] => T): T = {
    val sz = evens.groupBy(size(col("embedding")).as("_d"))
      .agg(countDistinct(col("vec_id")).as("_n"))
      .collect().filter(!_.isNullAt(0)).map(r => (r.getInt(0), r.getLong(1)))
    if (sz.isEmpty) body(None)
    else {
      val k = math.ceil(math.sqrt(sz.maxBy(_._1)._2.toDouble)).toInt
      val cents = graft.ops.Similarity.kmeansCentroids(evens, "vec_id",
        "embedding", k = k, iters = 2)
      frozen(graft.ops.Similarity.semDedup(evens, "vec_id",
        "embedding", k = k, iters = 2, maxDist2 = SemMaxDist2,
        centsOpt = Some(cents)) // reuse the frozen codebook — no refit
        .filter(col("keep"))
        .select(col("vec_id"), col("cluster"), col("dist2"))
        .join(graft.ops.Similarity.scaledVectors(evens, "vec_id",
          "embedding"), Seq("vec_id"))
        .repartition(col("cluster")))(index => body(Some((cents, index))))
    }
  }

  private def semAdmit(cents: DataFrame, index: DataFrame)(
      batch: DataFrame): DataFrame =
    graft.ops.Similarity.semDedupAdmit(batch, index, cents,
      "vec_id", "embedding", maxDist2 = SemMaxDist2)

  val semAdmission: AdmissionShape = AdmissionShape("sem_admission",
    "embeddings", Seq("q278_streaming_semdedup_admission"), "vec_id")(
    identity, { (evens, use) =>
      semIndex(evens) { built =>
        val (cents, index) = built.getOrElse(
          throw new IllegalArgumentException(
            "sem_admission: no even-id embedding to fit a codebook on"))
        use(semAdmit(cents, index))
      }
    })

  private val q278 = Q("q278_streaming_semdedup_admission",
    "§2.9 × similarity: q277's SemDeDup admission run the way a " +
      "standing pipeline runs it — the frozen codebook and the per-cell " +
      "keep-set index are built ONCE and persisted pre-partitioned by " +
      "cluster (the q248 bucketed-index discipline); odd-id vectors " +
      "arrive as 2 staged files drained one per AvailableNow restart " +
      "(q271's restart-per-arrival pattern: ONE checkpoint, so drain " +
      "2's offset log skips batch 1's file); each micro-batch pays one " +
      "broadcast codebook assignment + one cluster-keyed join against " +
      "the in-place index via foreachBatch(semDedupAdmit); BETWEEN " +
      "drains the admitted vectors union into the index (q270's growth " +
      "pattern, eagerly localCheckpointed — its lineage reads the out " +
      "dir drain 2 appends to); equals the q277 batch gate bit-for-bit",
    Some(Extensions.semAdmissionOracle),
    (s, dir) => {
      val e = Tables.table(s, dir, "embeddings")
      semIndex(e.filter(col("vec_id") % 2 === 0)) {
        case None =>
          e.select(col("vec_id"), lit(1L).as("batch"), lit(0L).as("cluster"),
            lit(0L).as("dist2"), lit(true).as("keep"),
            lit(null).cast("long").as("dup_of")).limit(0)
        case Some((cents, index0)) =>
          val gate = "q278_streaming_semdedup_admission"
          val stage = scratch(gate, "stage")
          val out = scratch(gate, "out")
          val cp = scratch(gate, "cp")
          e.filter(col("vec_id") % 4 === 1).coalesce(1)
            .write.mode("overwrite").parquet(stage)
          def drain(idx: DataFrame, batchNo: Long): Unit =
            graft.streaming.Drain.eachBatch(
              Tables.stream(s, stage, oneFilePerBatch = true), cp) { batch =>
              semAdmit(cents, idx)(batch).withColumn("batch", lit(batchNo))
                .write.mode("append").parquet(out)
            }
          drain(index0, 1L)
          // grow the index from the drained verdicts (svec rides along in
          // semDedupAdmit's output precisely so this union needs no
          // re-scaling); eager localCheckpoint, NOT persist — the lineage
          // reads `out`, which drain 2 appends to (the q271 hazard)
          val grown = index0.unionByName(
            s.read.parquet(out).filter(col("keep"))
              .select(col("vec_id"), col("cluster"), col("dist2"),
                col("svec")))
            .localCheckpoint(true)
          e.filter(col("vec_id") % 4 === 3).coalesce(1)
            .write.mode("append").parquet(stage)
          drain(grown, 2L)
          s.read.parquet(out)
            .select(col("vec_id"), col("batch"), col("cluster"),
              col("dist2"), col("keep"), col("dup_of"))
            .orderBy("vec_id")
      }
    })

  val dsirAdmission: AdmissionShape = AdmissionShape("dsir_admission",
    "documents", Seq("q283_streaming_dsir_admission"), "doc_id")(
    _.select(col("doc_id"),
      concat(col("text"), when(col("doc_id") % 3 === 0,
        lit(" flux quill sable umbra vex jade nimb ochre"))
        .otherwise(lit(""))).as("t")),
    { (evens, use) =>
      frozen(censusOf(evens.filter(col("doc_id") % 3 === 0), "t")) { target =>
        frozen(censusOf(evens, "t")) { source =>
          use(batch => graft.ops.TextAnalysis.dsirGain(batch, target,
            source, "doc_id", "t")
            .withColumn("admitted", col("gain_ppm") >= -400000L))
        }
      }
    })

  private val q283 = admissionGate(dsirAdmission,
    "§2.9 × selection: q280's DSIR scoring run as a standing admission " +
      "filter — both frozen censuses (target = the fixture-marked " +
      "domain slice of even-id docs, source = all even-id docs) are " +
      "built ONCE and persisted pre-partitioned by `w` (the q267 " +
      "frozen-artifact discipline, two references); odd-id docs arrive " +
      "as a 4-file stream (maxFilesPerTrigger=1, AvailableNow) and " +
      "every micro-batch pays one tokenize + two word-keyed joins, " +
      "admitting gain_ppm >= -400000 (a pinned CUT replaces q280's " +
      "global top-quantile — a standing filter can't see the corpus " +
      "order statistic; the q269 staged-admission rationale; the " +
      "constant sits between the measured marked/unmarked medians at " +
      "both test scales, q266's pinned-off-the-distribution precedent). " +
      "The corpus's single shared 31-word vocabulary makes lang a " +
      "lexically empty target label, so the target DOMAIN is " +
      "manufactured (the q282 fixture discipline): an 8-word domain " +
      "phrase appended to every doc_id % 3 = 0 doc — marked docs score " +
      "structurally higher gain because the phrase is dense in the " +
      "target census and diluted in the source. Scoring is row-local " +
      "per doc GIVEN the censuses, so the drained result is batch-" +
      "boundary invariant",
    Some("""
      WITH h AS (SELECT doc_id, text || (CASE WHEN doc_id % 3 = 0
               THEN ' flux quill sable umbra vex jade nimb ochre'
               ELSE '' END) AS t FROM documents),
      tc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
             (SELECT unnest(string_split(t, ' ')) AS w FROM h
              WHERE doc_id % 2 = 0 AND doc_id % 3 = 0) GROUP BY 1),
      sc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
             (SELECT unnest(string_split(t, ' ')) AS w FROM h
              WHERE doc_id % 2 = 0) GROUP BY 1),
      nvt AS (SELECT CAST(sum(c) AS BIGINT) AS nt, count(*) AS vt FROM tc),
      nvs AS (SELECT CAST(sum(c) AS BIGINT) AS ns, count(*) AS vs FROM sc),
      dw AS (SELECT doc_id, w, count(*) AS k FROM
             (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM h
              WHERE doc_id % 2 = 1) GROUP BY 1, 2),
      g AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_words,
            CAST(sum(k * CAST(floor(log2(
              (nt + vt) // (coalesce(tc.c, 0) + 1))) AS BIGINT))
              AS BIGINT) AS target_bits,
            CAST(sum(k * CAST(floor(log2(
              (ns + vs) // (coalesce(sc.c, 0) + 1))) AS BIGINT))
              AS BIGINT) AS source_bits
            FROM dw CROSS JOIN nvt CROSS JOIN nvs
            LEFT JOIN tc USING (w) LEFT JOIN sc USING (w) GROUP BY 1),
      gg AS (SELECT doc_id, n_words, target_bits, source_bits,
             source_bits - target_bits AS gain_bits,
             CAST((1000000 * source_bits) // n_words
               - (1000000 * target_bits) // n_words AS BIGINT) AS gain_ppm
             FROM g)
      SELECT doc_id, n_words, target_bits, source_bits, gain_bits,
             gain_ppm, gain_ppm >= -400000 AS admitted
      FROM gg ORDER BY doc_id"""))

  val substringScreen: AdmissionShape = AdmissionShape("substring_screen",
    "documents", Seq("q285_streaming_substring_screen"), "doc_id")(
    _.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 4 === 0 || col("doc_id") % 3 === 0,
          lit(" quark glint moss fjord ember dune crag veld tarn wisp onyx rill"))
          .otherwise(lit(""))).as("t")),
    { (evens, use) =>
      frozen(graft.ops.TextAnalysis.strideGramSpans(evens,
          "doc_id", "t", n = 10)
        .select(graft.functions.TextFns.hash64(col("g")).as("_gh"))
        .distinct()
        .repartition(col("_gh"))) { index =>
        use(graft.ops.TextAnalysis.substringScreen(_, index,
          "doc_id", "t", n = 10, maxPpm = 25000L))
      }
    })

  private val q285 = admissionGate(substringScreen,
    "§2.9 × dedup: q282's exact-substring detection as an INGEST screen " +
      "— the frozen index is the DISTINCT 60-bit hashes of the even-id " +
      "corpus's stride-1 10-word grams (word-volume sized, persisted " +
      "pre-partitioned by hash: the q248 bucketed-index posture at gram " +
      "granularity — what a benchmark-contamination screen actually " +
      "keeps hot); odd-id docs arrive as a 4-file stream (AvailableNow) " +
      "and each micro-batch pays one gram synthesis + one hash-keyed " +
      "SEMI-join, matched spans union exactly (q282's identity), admit " +
      "iff covered_ppm <= 25000. The fixture marks doc % 4 = 0 OR doc % " +
      "3 = 0 pages with the shared 12-word phrase, so odd multiples of " +
      "3 carry grams the even-side index knows — matched docs split " +
      "from clean at both scales. Verdicts are row-local per doc GIVEN " +
      "the index => batch-boundary invariant",
    Some("""
      WITH p AS (SELECT 'quark glint moss fjord ember dune crag veld tarn wisp onyx rill' AS p12),
      h AS (SELECT doc_id,
              text || (CASE WHEN doc_id % 4 = 0 OR doc_id % 3 = 0
                THEN ' ' || p12 ELSE '' END) AS t
            FROM documents CROSS JOIN p),
      w AS (SELECT doc_id, t, string_split(t, ' ') AS ws,
              greatest(len(string_split(t, ' ')) - 9, 0) AS n_grams
            FROM h),
      ev AS (SELECT DISTINCT array_to_string(ws[i:i+9], ' ') AS g FROM
             (SELECT ws, unnest(generate_series(1,
                greatest(len(ws) - 9, 0))) AS i
              FROM w WHERE doc_id % 2 = 0)),
      og AS (SELECT doc_id, array_to_string(ws[i:i+9], ' ') AS g,
               CASE WHEN i = 1 THEN 0
                    ELSE length(array_to_string(ws[1:i-1], ' ')) + 1
               END AS st
             FROM (SELECT doc_id, ws, unnest(generate_series(1,
                     greatest(len(ws) - 9, 0))) AS i
                   FROM w WHERE doc_id % 2 = 1)),
      mt AS (SELECT og.doc_id, og.st, og.st + length(og.g) AS en
             FROM og JOIN ev ON og.g = ev.g),
      mg AS (SELECT doc_id, count(*) AS matched_grams FROM mt GROUP BY 1),
      pe AS (SELECT doc_id, st, en,
               max(en) OVER (PARTITION BY doc_id ORDER BY st, en
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
             FROM mt),
      gr AS (SELECT doc_id, st, en,
               sum(CASE WHEN st > coalesce(pe, -1) THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY st, en) AS grp
             FROM pe),
      m AS (SELECT doc_id, grp, min(st) AS st, max(en) AS en
            FROM gr GROUP BY 1, 2),
      st AS (SELECT doc_id, count(*) AS matched_spans,
               CAST(sum(en - st) AS BIGINT) AS covered_chars
             FROM m GROUP BY 1)
      SELECT w.doc_id, CAST(w.n_grams AS BIGINT) AS n_grams,
             CAST(coalesce(mg.matched_grams, 0) AS BIGINT)
               AS matched_grams,
             CAST(coalesce(st.matched_spans, 0) AS BIGINT)
               AS matched_spans,
             coalesce(st.covered_chars, 0) AS covered_chars,
             CAST((1000000 * coalesce(st.covered_chars, 0))
               // length(w.t) AS BIGINT) AS covered_ppm,
             (1000000 * coalesce(st.covered_chars, 0)) // length(w.t)
               <= 25000 AS admit
      FROM w LEFT JOIN mg ON w.doc_id = mg.doc_id
      LEFT JOIN st ON w.doc_id = st.doc_id
      WHERE w.doc_id % 2 = 1
      ORDER BY w.doc_id"""))

  /** Every streaming shape, in StreamBench's order. */
  val shapes: Seq[Shape] = Seq(ingestDedup, dayWindow, curation, appendWindow,
    closedSessions, streamJoin, ledgerSink, enrich, dedupWatermark,
    twsSessions, cappedSessions, tokenBucket, driftMonitor, indexAdmission,
    censusAdmission, semAdmission, dsirAdmission, substringScreen)

  def all: Seq[Q] = Seq(q18, q19, q33, q34, q35, q56, q70, q75, q84, q113,
    q129, q130, q134, q157, q166, q174, q235, q244, q248, q257, q267, q271,
    q278, q283, q285)
}
