package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Etl

/** The reference pipeline's five dataflow stages as `DataFrame => DataFrame`
  * transformations (SURVEY.md §2/§3; each mirrors one Airflow task of
  * dags/dreem.py:297-307).
  *
  * State machine: each stage only advances rows whose target column is still
  * null (the reference's no-override guards, db.py:99,105-106,115,120-121) —
  * realized as left join + coalesce, so re-running a stage is idempotent.
  *
  * Scale notes: lookup sides are broadcast (they are the reference's
  * lru_cached CSV dicts, ucam.py:138-153); the ledger side of the dedup
  * anti-join stays distributed and shuffles on the uniform sha256 key; the
  * interval join is an equi-join on (device_id, start day) plus a range
  * predicate that meets at most one index entry per record, so each record
  * reads its first match straight off that entry — no driver collection
  * anywhere.
  */
object Stages {

  /** J1+L1+S7 prep — compute the sha256 identity and drop records whose hash
    * already exists in the ledger (dags/dreem.py:44-67, db.py:49-55,228-231).
    */
  def ingestDedup(incoming: DataFrame, ledger: DataFrame): DataFrame =
    incoming.withColumn("hash",
      Etl.recordHash(col("device_type"), col("manufacturer_ref")))
      .join(ledger.select("hash"), Seq("hash"), "left_anti")

  /** J1 at 100 TB (SURVEY.md §7.5.5): the reference materializes every
    * ledger hash in driver memory (db.py:228-231) — at scale the ledger side
    * of the anti-join is enormous. A Bloom filter built over the ledger
    * hashes splits incoming records BEFORE the shuffle:
    *   - `mightContain == false` → definitely new, no join needed;
    *   - `mightContain == true` → possible duplicate (fpp false-positives),
    *     exact anti-join on just that sliver.
    * With a mostly-new incoming stream this removes almost all anti-join
    * input. The filter itself is a distributed aggregation (~MBs on the
    * driver, broadcast back) — hashes never materialize row-by-row.
    */
  def ingestDedupBloom(incoming: DataFrame, ledger: DataFrame,
                       expectedLedgerItems: Long, fpp: Double = 0.01): DataFrame = {
    val bf = ledger.stat.bloomFilter("hash", expectedLedgerItems, fpp)
    val spark = incoming.sparkSession
    val bfBc = spark.sparkContext.broadcast(bf)
    // native codegen probe (expressions.BloomMightContain) — a scalar UDF
    // here would break whole-stage codegen on the filter EVERY ingest row
    // passes through; null hashes probe false → definitely-new branch
    val mightContain = graft.expressions.BloomMightContain(col("hash"), bfBc)
    val hashed = incoming.withColumn("hash",
      Etl.recordHash(col("device_type"), col("manufacturer_ref")))
    val definitelyNew = hashed.filter(!mightContain)
    val suspects = hashed.filter(mightContain)
      .join(ledger.select("hash"), Seq("hash"), "left_anti")
    definitelyNew.unionByName(suspects)
  }

  /** J2 — uid→serial broadcast lookup; only rows with a dreem uid and a null
    * serial advance (db.py:97-109,158-170; dags/dreem.py:75-115).
    *
    * `stringNullIsMissing` replicates a reference quirk: its Mongo query
    * compares `meta.dreem_uid` against the STRING "null" (db.py:164,
    * flagged in SURVEY.md §7.5.3) — uids that are literally the text "null"
    * are treated as absent. Off by default (the sane semantics); on to
    * reproduce the reference bit-for-bit.
    */
  def resolveSerials(records: DataFrame, uidSerial: DataFrame,
                     stringNullIsMissing: Boolean = false): DataFrame = {
    val lk = broadcast(uidSerial.select(col("uid").as("_lk_uid"),
      col("serial").as("_lk_serial")))
    val uid = element_at(col("meta"), "dreem_uid")
    val uidKey = if (stringNullIsMissing) nullif(uid, lit("null")) else uid
    records
      .join(lk, uidKey === col("_lk_uid"), "left")
      .withColumn("device_serial",
        coalesce(col("device_serial"), col("_lk_serial")))
      .drop("_lk_uid", "_lk_serial")
  }

  /** Destination-dataset assignment: the DAG overrides every record's
    * dmp_dataset from the `dmp_dataset_mappings` Variable — note the
    * reference reads `records[0].dmp_dataset` is commented OUT and the
    * config key has a `mappings`/`mapping` spelling drift
    * (dags/dreem.py:169,186-187; SURVEY.md §7.5.3). Engine: explicit
    * config map + explicit key, no drift.
    */
  def assignDataset(records: DataFrame, mapping: Map[String, String],
                    key: String): DataFrame = {
    val dataset = mapping.getOrElse(key,
      throw new NoSuchElementException(s"dmp_dataset_mappings has no key '$key'"))
    records.withColumn("dmp_dataset",
      when(col("dmp_id").isNotNull, lit(dataset)).otherwise(col("dmp_dataset")))
  }

  /** J3 — serial→device-id broadcast lookup (operators/ucam.py:12-68,
    * db.py:111-125); same no-override shape.
    */
  def resolveDeviceIds(records: DataFrame, serialToId: DataFrame): DataFrame = {
    val lk = broadcast(serialToId.select(col("serial").as("_lk_serial"),
      col("device_id").as("_lk_device_id")))
    records
      .join(lk, col("device_serial") === col("_lk_serial"), "left")
      .withColumn("device_id", coalesce(col("device_id"), col("_lk_device_id")))
      .drop("_lk_serial", "_lk_device_id")
  }

  /** J4 — wear-period interval join (ucam.py:95-136): assignment bounds are
    * always day-normalised and open-ended `end_wear` defaults to `today`
    * (pinned as a parameter, not `current_date()`, so runs reproduce); a
    * patient matches when BOTH record endpoints fall inside the wear period.
    * `today` folds into a timestamp literal that codegen inlines, so the
    * assignment-side stage compiles anew for each distinct `today`.
    *
    * `normaliseRecordDays=true` mirrors the pipeline entry
    * `resolve_patient_id` (ucam.py:95-105), which truncates the record
    * endpoints too; `false` mirrors the raw-time semantics of the inner
    * `get_patient_by_wear_period`, which the reference's unit tests pin
    * (tests/hooks/test_ucam_hook.py:81-110).
    *
    * First-match: the reference takes the first patient in payload order
    * (flagged nondeterministic, SURVEY.md §7.5.4); here the winner is the
    * minimum `firstMatchOrder` assignment column (timestamp/date/numeric,
    * non-null), ties broken by min patient_id — pass an explicit ordinal
    * column to replay payload order exactly.
    *
    * Scale design — the naive `join ON device && between` degenerates:
    * device_id is low-cardinality, so the equi-key fans out to
    * |records/device| × |assignments/device| pairs, which would then crawl
    * through a row_number sort. Two rewrites keep it fast:
    *  1. range bucketing: assignment intervals are exploded into covered
    *     DAYS and the join key becomes (device, record-start-day) —
    *     containment implies the start day is covered (no match lost) and a
    *     record meets an assignment on exactly one day (no duplicates);
    *  2. a suffix-min index probed once: each (device, day, end) entry
    *     carries the first match among the assignments ending at or after
    *     its end, and owns the end range down to the next entry's, so a
    *     record meets at most one entry and reads its patient off it.
    *
    * `broadcastAssignments`: the assignment table is the reference's small
    * per-device UCAM payload — broadcast by default (the exploded day form
    * exceeds Spark's 10MB auto-threshold long before it stops fitting in
    * executor memory, which would force a duplicate-key-heavy sort-merge
    * join); disable for genuinely huge assignment tables.
    */
  def resolvePatients(records: DataFrame, assignments: DataFrame,
                      today: String,
                      normaliseRecordDays: Boolean = true,
                      firstMatchOrder: String = "start_wear",
                      broadcastAssignments: Boolean = true): DataFrame = {
    val asg = assignments.select(
      col("device_id").as("_a_device"),
      col("patient_id").as("_a_patient"),
      to_date(col("start_wear")).cast("timestamp").as("_a_start"),
      to_date(coalesce(col("end_wear"), lit(today).cast("timestamp")))
        .cast("timestamp").as("_a_end"),
      (assignments.schema(firstMatchOrder).dataType match {
        case _: org.apache.spark.sql.types.TimestampType |
             _: org.apache.spark.sql.types.DateType =>
          unix_timestamp(col(firstMatchOrder).cast("timestamp"))
        case _ => col(firstMatchOrder).cast("long")
      }).as("_a_ord"))
      .filter(col("_a_start") <= col("_a_end"))
    val asgDaysRaw = asg.withColumn("_a_day",
      explode(sequence(to_date(col("_a_start")), to_date(col("_a_end")))))
    def bound(c: Column) =
      if (normaliseRecordDays) to_date(c).cast("timestamp") else c
    // Given _a_day == start-day, full containment collapses to ONE predicate:
    //   _a_start ≤ _a_day·00:00 ≤ bound(start) ≤ bound(end)  (automatic), so
    //   contained ⟺ _a_end >= bound(end).
    // That single threshold admits a SUFFIX-MIN index: per (device, day,
    // a_end) keep the best assignment over all ending at-or-after a_end.
    // `_a_lo` is the next smaller a_end of the same (device, day), so the
    // entries own disjoint ranges (_a_lo, _a_end] and a record matches only
    // the entry with the smallest a_end >= bound(end): the best over the
    // assignments containing it, with no aggregate after the probe.
    //
    // The index entry is min(struct(ord, patient)) — a lexicographic min,
    // so ONE aggregate yields both the first-match order value AND its
    // patient with the min-patient tiebreak.
    //
    // Null handling in the index, pinned to the oracle's
    // `ORDER BY ord NULLS LAST, patient NULLS LAST … rn = 1`:
    //  - null-ORDER rows are dropped (NULLS LAST ⇒ they can never be the
    //    first match while any real-order assignment covers the record;
    //    `firstMatchOrder` defaults to start_wear, which is never null
    //    past the `_a_start <= _a_end` filter, so the residual
    //    only-null-ord-match case cannot arise from the default entry);
    //  - null-PATIENT rows STAY in the index: the earliest assignment
    //    wins even when its patient is null (the record then gets NULL
    //    enrichment — attributing it to a LATER assignment's patient
    //    would be a wrong-patient bug). A boolean null-flag between ord
    //    and patient makes the struct-min safe: struct-min sorts a null
    //    field first, so without the flag a null patient would also
    //    steal equal-ord ties that the oracle (patient NULLS LAST)
    //    gives to the real patient.
    // a_end is unique per (device, day) after the groupBy, so the default
    // RANGE frame of `w` is the running suffix over a_end descending
    val w = Window.partitionBy(col("_a_device"), col("_a_day"))
      .orderBy(col("_a_end").desc)
    val sfxRaw = asgDaysRaw
      .filter(col("_a_ord").isNotNull)
      .groupBy(col("_a_device"), col("_a_day"), col("_a_end"))
      .agg(min(struct(col("_a_ord"), col("_a_patient").isNull.as("_a_pnull"),
        col("_a_patient"))).as("_m"))
      .select(col("_a_device"), col("_a_day"), col("_a_end"),
        lead(col("_a_end"), 1).over(w).as("_a_lo"),
        min(col("_m")).over(w).getField("_a_patient").as("_a_patient"))
    val sfx = if (broadcastAssignments) broadcast(sfxRaw) else sfxRaw
    val end = bound(col("end"))
    records
      .join(sfx, col("device_id") === col("_a_device") &&
        to_date(col("start")) === col("_a_day") && col("_a_end") >= end &&
        (col("_a_lo").isNull || col("_a_lo") < end), "left")
      .withColumn("patient_id", coalesce(col("patient_id"), col("_a_patient")))
      .drop("_a_device", "_a_day", "_a_end", "_a_lo", "_a_patient")
  }

  /** A1 — day-cut-off bucketing + composite dmp_id for fully-enriched rows
    * (operators/ucam.py:71-134). Unlimited by design ("avoid data gaps").
    */
  def groupRecords(records: DataFrame, cutOff: String): DataFrame = {
    val ready = col("device_id").isNotNull && col("patient_id").isNotNull
    records.withColumn("dmp_id",
      coalesce(col("dmp_id"),
        when(ready, Etl.dmpId(col("device_id"), col("patient_id"),
          Etl.bucketStart(col("start"), cutOff),
          Etl.bucketEnd(col("start"), cutOff)))))
  }

  /** P6+J5+A4+A5 — per-group upload manifest of the groups not fully uploaded
    * (dags/dreem.py:153-234): member refs, size, partial-upload flag.
    *
    * `skipPartial=true` replicates the reference exactly: a group that is
    * PARTIALLY uploaded hits the `NotImplementedError` update path and is
    * skipped for the run (dags/dreem.py:202-204; SURVEY.md §7.5.3). The
    * default keeps partial groups in the manifest (the caller decides).
    */
  def uploadManifest(records: DataFrame,
                     skipPartial: Boolean = false): DataFrame = {
    val m = records
      .filter(col("dmp_id").isNotNull)
      .groupBy("dmp_id")
      .agg(
        count(lit(1)).as("n_records"),
        sort_array(collect_list(col("manufacturer_ref"))).as("member_refs"),
        expr("bool_or(is_uploaded)").as("any_uploaded"),
        expr("bool_and(is_uploaded)").as("all_uploaded"))
      .filter(!col("all_uploaded"))
      .drop("all_uploaded")
    if (skipPartial) m.filter(!col("any_uploaded")) else m
  }
}
