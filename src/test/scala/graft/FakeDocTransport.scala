package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ledger.MongoLedger.DocTransport

/** Filesystem-backed Mongo stand-in for the offline round-trip: not a
  * call-recording mock but a tiny document store with Mongo's KEYED WRITE
  * SEMANTICS (key = `hash`, the connector's `idFieldList` ≙ `_id`):
  *
  *  - `insert` ≙ insert_many(ordered=False) (db.py:76-86): every
  *    non-duplicate lands, and the first copy of a key the batch repeats,
  *    then a duplicate-key error raises if any input key already existed
  *    or came twice — so a caller that forgets its dedup fails here
  *    exactly as it would against real Mongo;
  *  - `replaceUpsert` ≙ replace_one(upsert=True) per document
  *    (db.py:96-125): whole-document replace by key, insert when absent;
  *  - an absent collection throws on `load` (the ledger's `exists` probe
  *    treats any transport failure as non-existence, matching the
  *    connector's offline behavior).
  *
  * Writes are versioned parquet dirs (write-new-then-advance-pointer) so
  * a write never clobbers the directory a concurrent plan is reading —
  * the same append-only posture as the parquet [[graft.ledger.Ledger]].
  */
final class FakeDocTransport(spark: SparkSession, root: java.nio.file.Path)
    extends DocTransport {

  final class DuplicateKeyException(n: Long) extends RuntimeException(
    s"E11000 duplicate key: $n document(s) already present or repeated (the first copies were inserted)")

  private var version = 0
  private def dir(v: Int) = root.resolve(s"v$v").toString

  def load(): DataFrame = {
    if (version == 0)
      throw new IllegalStateException(s"collection absent: $root")
    spark.read.parquet(dir(version))
  }

  private def write(df: DataFrame): Unit = {
    df.write.parquet(dir(version + 1))
    version += 1
  }

  def overwrite(records: DataFrame): Unit = write(records)

  def insert(records: DataFrame): Unit = {
    val existing = if (version == 0) None else Some(load())
    val fresh = existing.fold(records)(e =>
      records.join(e.select("hash"), Seq("hash"), "left_anti"))
    // one document per key: a batch's repeated key fails after its first
    // copy (a null key is left alone, as the ledger leaves it)
    val landed = fresh.filter(col("hash").isNull)
      .unionByName(fresh.filter(col("hash").isNotNull).dropDuplicates("hash"))
    write(existing.fold(landed)(_.unionByName(landed)))
    // ordered=False: the error raises AFTER the fresh documents landed
    // (`existing` still reads the previous version)
    val dups = records.count() - landed.count()
    if (dups > 0) throw new DuplicateKeyException(dups)
  }

  def replaceUpsert(records: DataFrame): Unit = {
    val base =
      if (version == 0) records.limit(0)
      else load()
    write(base.join(records.select("hash"), Seq("hash"), "left_anti")
      .unionByName(records))
  }
}
