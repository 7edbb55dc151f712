package graft.ledger

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{coalesce, col, count, lit, row_number,
  to_json}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The ledger contract every storage strategy implements — the reference's
  * MongoDB collection operations (db.py:66-231) as a storage-neutral
  * interface:
  *
  *  - [[append]]: insert-only ingest, one record per hash ([[init]] seeds
  *    a store wholesale);
  *  - [[enrich]]: one resolution step over the stored rows, filling a field
  *    only where it is still null (db.py:96-125, no-override guards at
  *    db.py:99,105-106,115,120-121 / tests/hooks/test_db.py:16-47);
  *  - [[markUploaded]]: the one terminal flag flip, over a list of
  *    dmp_ids (db.py:189-196);
  *  - no delete: quarantined in the reference (db.py:127-133), absent here.
  *
  * Strategies: [[Ledger]] (Parquet on HDFS or a local/NFS mount, split into
  * open and settled rows; the deployed default) and [[MongoLedger]] (the
  * reference's actual store, usable when the Mongo Spark connector jar is
  * on the classpath).
  * Both are single-writer: schedule one chain per store.
  */
trait LedgerStore {
  def exists: Boolean
  def read(): DataFrame
  def init(records: DataFrame): Unit
  /** Insert the records whose hash is not stored yet, creating the store
    * on first use; returns the rows written. Of a hash the batch holds
    * twice, the copy with the earliest `start`, then `end`, then `meta`,
    * then the rest of its columns in the batch's order lands; every
    * null-hash record lands ([[LedgerStore.unseen]]). */
  def append(records: DataFrame): Long
  /** Fill `field` where null with what `resolve` computes from the stored
    * rows (one row out per row in, same columns); existing values win.
    * `resolve` must be row-local: a store may pass it only the rows that
    * can still change. Returns the rows carrying `field` afterwards, over
    * the whole store, 0 on an absent store. */
  def enrich(field: String)(resolve: DataFrame => DataFrame): Long
  /** Flag every record of the given groups uploaded (db.py:189-196). The
    * ids are the groups a run transferred, collected and bounded by the
    * caller's upload limit. */
  def markUploaded(dmpIds: Seq[String]): Unit
}

object LedgerStore {
  /** The columns an enrichment may fill — everything else is identity or
    * terminal state (is_uploaded goes through markUploaded only;
    * dmp_dataset is the upload's `--dmp-dataset`, never resolved per row).
    */
  val enrichable: Seq[String] =
    Seq("device_serial", "device_id", "patient_id", "dmp_id")

  /** `field`'s value before an enrichment, kept beside the filled rows. */
  private[ledger] val prior = "_prior"

  /** The no-override step of both stores: `resolve` runs with `field`
    * copied to [[prior]], which wins where set. Checks `field` when called.
    */
  private[ledger] def fillNulls(field: String)(
      resolve: DataFrame => DataFrame): DataFrame => DataFrame = {
    require(enrichable.contains(field),
      s"only $enrichable are enrichable; is_uploaded goes via markUploaded")
    rows => resolve(rows.withColumn(prior, col(field))).select(rows.columns
      .map(c => if (c == field) coalesce(col(prior), col(c)).as(c) else col(c))
      :+ col(prior): _*)
  }

  /** The records of the groups `dmpIds`: false, never null, where dmp_id
    * is null, so or-ing it into is_uploaded keeps ungrouped rows false. */
  private[ledger] def inGroups(dmpIds: Seq[String]): Column =
    col("dmp_id").isNotNull && col("dmp_id").isInCollection(dmpIds)

  /** The rows [[LedgerStore.append]] inserts: the batch's survivors whose
    * hash `stored` (the store, `None` when absent) lacks. The order among
    * copies is total: `start`, `end` and `meta` first, then every other
    * column of the batch, each a sort key by itself (a column holding a
    * map, which does not sort, by its JSON), so only identical copies tie
    * and a batch lands the same rows whatever its partitioning;
    * `dropDuplicates` keeps whichever copy its partition saw first. A null
    * hash (recordHash is null-intolerant) is no identity: pooled, its
    * records would keep one. All copies of a hash go together, so the
    * dedup and the anti-join commute. */
  private[ledger] def unseen(records: DataFrame, stored: Option[DataFrame]): DataFrame = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val first = Seq("start", "end", "meta")
    val order = (first.filter(records.columns.contains) ++
      records.columns.filterNot(c => c == "hash" || first.contains(c)))
      .map(c => if (hasMap(records.schema(c).dataType)) to_json(col(c)) else col(c))
    val batch = records
      .withColumn("__rn", row_number().over(Window.partitionBy("hash").orderBy(order: _*)))
      .filter(col("hash").isNull || col("__rn") === 1).drop("__rn")
    stored.fold(batch)(s => batch.join(s.select("hash"), Seq("hash"), "left_anti"))
  }

  /** Run `write` over `df`; return the count of non-null `counted` over
    * the rows of `df`, observed on the write itself, not by a second pass.
    * The first query `write` runs must stream `df` (a broadcast side
    * reports none). */
  private[ledger] def countObserved(df: DataFrame, counted: Column = lit(1))(
      write: DataFrame => Unit): Long = {
    val observed = Observation()
    write(df.observe(observed, count(counted).as("rows")))
    observed.get("rows").asInstanceOf[Long]
  }
}
