package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Etl

/** Structured-streaming re-expression of the reference's incremental
  * poll-and-process architecture (SURVEY.md §2.9):
  *
  *  - the unscheduled DAG that "polls the data … and acts when new data is
  *    found" (README.md:124-128) becomes a file-arrival source + an
  *    AvailableNow [[Drain]] — one run drains exactly what is new;
  *  - the ledger hash set (db.py:228-231) stays the ledger's: each
  *    micro-batch goes through [[graft.ledger.Ledger.append]], whose hash
  *    anti-join drops what the ledger already holds — unbounded, as the
  *    reference never expires hashes either;
  *  - at-least-once redelivery of unready files (drm.py:62-66 → retry next
  *    run) is the source's replay + that idempotent anti-join.
  */
object IncrementalIngest {

  /** Drain all currently-available files from `srcDir` straight INTO the
    * ledger. A drain reads every new file as one micro-batch, so `append`
    * picks one survivor among copies in different files; each micro-batch
    * appends through [[graft.ledger.Ledger.append]] (the first one creates
    * the ledger), which keeps `EtlJob`'s survivor per hash and whose
    * anti-join makes redelivered batches idempotent — so the at-least-once
    * `foreachBatch` sink composes to exactly-once ledger state (the
    * streaming twin of the reference's poll→dedup→insert loop,
    * dags/dreem.py:44-67 + db.py:76-86). The schema comes from a file
    * already in `srcDir` ([[graft.Tables.stream]]). Returns the rows the
    * drain read.
    */
  def runIntoLedger(spark: SparkSession, srcDir: String, checkpointDir: String,
                    ledger: graft.ledger.Ledger): Long =
    Drain.eachBatch(graft.Tables.stream(spark, srcDir)
      .withColumn("hash",
        Etl.recordHash(col("device_type"), col("manufacturer_ref"))),
      checkpointDir)(ledger.append(_))

  /** Streaming corpus curation — the incremental form of the batch
    * curation chain (quality gate + content dedup): keep documents passing
    * the length/language filter, then emit each (lang, sha256(text))
    * identity at most once across all runs sharing a checkpoint. The lang
    * in the dedup key makes the survivors DETERMINISTIC (a same-text doc
    * in two languages keeps one per language — plain text-hash dedup would
    * keep whichever language arrived first, varying run to run). Compose
    * with `dropDuplicatesWithinWatermark` upstream state bounds and the
    * RocksDB provider (StateStores) for unbounded corpora.
    */
  def curateDocuments(stream: DataFrame, minChars: Long,
                      langs: Seq[String]): DataFrame = {
    require(langs.nonEmpty, "langs must be non-empty")
    // internal dedup key, dropped from the output: the input schema passes
    // through unchanged (and an existing `hash` column — the ledger-ingest
    // convention — is never clobbered)
    stream
      .filter(col("n_chars") >= minChars && col("lang").isin(langs: _*))
      .withColumn("__curate_hash", sha2(col("text"), 256))
      .dropDuplicates("lang", "__curate_hash")
      .drop("__curate_hash")
  }

  /** Session windows per device: gap-based grouping of recording activity —
    * absent from the reference (§2.9 notes only the day bucket exists) but a
    * natural engine extension for wear-session analytics.
    */
  def sessionCounts(stream: DataFrame, gap: String,
                    watermark: String = "1 day"): DataFrame =
    stream
      .withWatermark("start", watermark)
      .groupBy(session_window(col("start"), gap), col("device_id"))
      .agg(count(lit(1)).as("n_records"))
      .select(
        col("device_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_records"))

  /** Watermarked stream-stream attribution join: each left event (e.g. a
    * click) is paired with every right event (e.g. a purchase) sharing its
    * key whose event time falls in `[leftTs, leftTs + horizon]`.
    *
    * Scale contract: BOTH sides carry watermarks and the join condition
    * bounds right-time against left-time from both directions, so Spark can
    * expire join state — left rows leave state `watermark + horizon` after
    * their event time, right rows after `watermark`. Without the upper
    * bound the state store grows with the whole stream. Inner join emits in
    * append mode without waiting for the watermark, so an AvailableNow
    * drain equals the batch join (the gate pins that). Key columns must be
    * pre-aliased to distinct names on the two sides.
    */
  def attributionJoin(left: DataFrame, right: DataFrame,
                      leftKey: String, rightKey: String,
                      leftTs: String, rightTs: String,
                      horizon: String, watermark: String = "1 day"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        expr(s"$leftKey = $rightKey AND $rightTs >= $leftTs" +
          s" AND $rightTs <= $leftTs + interval $horizon"))

  /** A1 as a *streaming* window: the non-midnight day bucket is a 1-day
    * tumbling event-time window anchored at the cut-off time
    * (operators/ucam.py:115-119 ≡ window(start, 1d, 1d, startTime=cutOff)).
    * Returns the aggregated frame for the caller to sink.
    */
  def dayBucketCounts(stream: DataFrame, cutOff: String,
                      watermark: String = "1 day"): DataFrame = {
    val t = Etl.validateCutOff(cutOff)
    val offset = s"${t.getHour} hours ${t.getMinute} minutes ${t.getSecond} seconds"
    stream
      .withWatermark("start", watermark)
      .groupBy(window(col("start"), "1 day", "1 day", offset), col("device_id"))
      .agg(count(lit(1)).as("n_records"))
      .select(
        col("device_id"),
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("bucket_end"),
        col("n_records"))
  }
}
