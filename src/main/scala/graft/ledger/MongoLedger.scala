package graft.ledger

import org.apache.spark.sql.{DataFrame, DataFrameReader, DataFrameWriter,
  Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Ledger strategy on the reference's ACTUAL store — a MongoDB collection
  * (ideafast_etl/hooks/db.py:11) — through the MongoDB Spark connector's
  * public `mongodb` source. This closes the drop-in-replacement gap: a
  * reference deployment keeps its Mongo records collection and swaps only
  * the compute.
  *
  * The ledger LOGIC (anti-join dedup, no-override enrichment, flag
  * flip) is written against [[MongoLedger.DocTransport]] — the four
  * primitive collection operations the reference's hook performs
  * (db.py:66-231: find/insert_many(ordered=False)/replace-upsert/drop-
  * and-load). The default transport wires the connector; tests run the
  * SAME logic against a filesystem-backed fake implementing Mongo's
  * keyed-write semantics, so the round trip is exercised offline — the
  * reference's own posture (tests/hooks/test_db.py mocks MongoHook), but
  * with real write semantics instead of call-recording mocks.
  *
  * The connector jar is NOT in the offline sandbox, so construction is
  * cheap and nothing touches the format until an operation runs; the
  * live-Mongo spec gates on `GRAFT_MONGO_URI` and cancels when absent.
  * Option names are the connector's documented v10 surface
  * (`connection.uri` / `database` / `collection`, and for writes
  * `idFieldList` + `operationType` + `upsertDocument`).
  *
  * Semantics map 1:1 onto db.py:
  *  - [[append]]: the batch's survivors, anti-joined, then insert (db.py:76-86);
  *  - [[enrich]]: run the resolution and the no-override coalesce IN
  *    SPARK over the collection, then replace-upsert keyed on `hash` only
  *    the documents whose field went from null to set — the
  *    whole-document update db.py does per record, batched;
  *  - [[markUploaded]]: same replace-upsert for the flag flip, of the
  *    documents whose dmp_id is among the given ids.
  *
  * Scale note: Mongo is the reference's operational metadata store, not a
  * 100 TB analytics substrate — the connector pushes filters/projections
  * down and partitions reads by `_id` ranges, which is the right shape for
  * the ledger's metadata volume; the bulk data itself lives in object
  * storage either way.
  */
final class MongoLedger private (spark: SparkSession,
                                 t: MongoLedger.DocTransport)
    extends LedgerStore {

  def this(spark: SparkSession, uri: String,
           database: String, collection: String) =
    this(spark, new MongoLedger.ConnectorTransport(
      spark, uri, database, collection))

  /** An absent collection reads as an empty frame; any connector/transport
    * failure surfaces as non-existence only for the `exists` probe.
    */
  def exists: Boolean =
    try !t.load().isEmpty
    catch { case _: Exception => false }

  def read(): DataFrame = t.load().drop("_id")

  def init(records: DataFrame): Unit = t.overwrite(records)

  def append(records: DataFrame): Long = LedgerStore.countObserved(
    LedgerStore.unseen(records, if (exists) Some(read()) else None))(t.insert)

  def enrich(field: String)(resolve: DataFrame => DataFrame): Long = {
    val fill = LedgerStore.fillNulls(field)(resolve) // checks field
    if (!exists) 0L
    else LedgerStore.countObserved(fill(read()), col(field)) { df =>
      t.replaceUpsert(df.filter(col(LedgerStore.prior).isNull &&
        col(field).isNotNull).drop(LedgerStore.prior))
    }
  }

  def markUploaded(dmpIds: Seq[String]): Unit =
    t.replaceUpsert(read().filter(LedgerStore.inGroups(dmpIds))
      .withColumn("is_uploaded", lit(true)))
}

object MongoLedger {

  /** The four primitive collection operations the ledger logic needs —
    * the seam between Spark-side semantics (tested offline against
    * [[graft.FakeDocTransport]] in the spec sources) and the connector
    * wiring (live-Mongo spec, gated on `GRAFT_MONGO_URI`). Contract
    * mirrors db.py: `insert` is insert_many(ordered=False) — duplicate
    * keys fail AFTER the non-duplicates land; `replaceUpsert` is a
    * whole-document replace keyed on `hash`, inserting when absent.
    */
  trait DocTransport {
    def load(): DataFrame
    def overwrite(records: DataFrame): Unit
    def insert(records: DataFrame): Unit
    def replaceUpsert(records: DataFrame): Unit
  }

  /** Production transport: the MongoDB Spark connector (v10 option
    * surface). */
  final class ConnectorTransport(spark: SparkSession, uri: String,
                                 database: String, collection: String)
      extends DocTransport {

    private def reader: DataFrameReader =
      spark.read.format("mongodb")
        .option("connection.uri", uri)
        .option("database", database)
        .option("collection", collection)

    private def writer(df: DataFrame): DataFrameWriter[Row] =
      df.write.format("mongodb")
        .option("connection.uri", uri)
        .option("database", database)
        .option("collection", collection)
        .option("idFieldList", "hash")

    def load(): DataFrame = reader.load()

    def overwrite(records: DataFrame): Unit =
      writer(records).mode(SaveMode.Overwrite).save()

    def insert(records: DataFrame): Unit =
      writer(records).option("operationType", "insert")
        .mode(SaveMode.Append).save()

    def replaceUpsert(records: DataFrame): Unit =
      writer(records).option("operationType", "replace")
        .option("upsertDocument", "true")
        .mode(SaveMode.Append).save()
  }

  /** Test seam: build a ledger over any transport. */
  private[graft] def forTransport(spark: SparkSession,
                                  t: DocTransport): MongoLedger =
    new MongoLedger(spark, t)
}
