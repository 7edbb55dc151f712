package graft.ledger

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** The ledger contract every storage strategy implements — the reference's
  * MongoDB collection operations (db.py:66-231) as a storage-neutral
  * interface:
  *
  *  - [[append]]: insert-only ingest, deduped by hash ([[init]] seeds a
  *    store wholesale);
  *  - [[mergeNoOverride]]: enrich matched rows, existing values win
  *    (db.py:99,105-106,115,120-121 / tests/hooks/test_db.py:16-47);
  *  - [[markUploaded]]: the one terminal flag flip (db.py:189-196);
  *  - no delete: quarantined in the reference (db.py:127-133), absent here.
  *
  * Strategies: [[Ledger]] (hash-prefix-partitioned Parquet, the deployed
  * default) and [[MongoLedger]] (the reference's actual store, usable when
  * the Mongo Spark connector jar is on the classpath).
  */
trait LedgerStore {
  def exists: Boolean
  def read(): DataFrame
  def init(records: DataFrame): Unit
  /** Insert the records whose hash is not stored yet, creating the store
    * on first use; returns the rows written. */
  def append(records: DataFrame): Long
  def mergeNoOverride(updates: DataFrame,
                      fields: Seq[String] = LedgerStore.enrichable): Unit
  def markUploaded(dmpIds: DataFrame): Unit
}

object LedgerStore {
  /** The columns a merge may fill — everything else is identity or terminal
    * state (is_uploaded goes through markUploaded only).
    */
  val enrichable: Seq[String] =
    Seq("device_serial", "device_id", "patient_id", "dmp_dataset", "dmp_id")

  /** Run `write` over `df`; return the rows it wrote, counted by an
    * observation on the write itself, not by a second pass. The first
    * query `write` runs must stream `df` (a broadcast side reports none). */
  private[ledger] def countWritten(df: DataFrame)(
      write: DataFrame => Unit): Long = {
    val written = Observation()
    write(df.observe(written, count(lit(1)).as("rows")))
    written.get("rows").asInstanceOf[Long]
  }
}
