package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store provider selection for the streaming operators (§2.9).
  *
  * The reference's "state" is its MongoDB hash set — effectively unbounded
  * and disk-backed (db.py:228-231). The Spark twin has two providers:
  *
  *  - HDFS-backed (default): every store's working set lives on the
  *    executor HEAP, snapshotted to the checkpoint dir. Right for the
  *    oracle-gated local runs; at 100 TB an unbounded dedup set
  *    (q33-style `dropDuplicates`) eventually evicts to OOM, not disk.
  *  - RocksDB: state lives OFF-HEAP in a per-partition RocksDB instance
  *    with its own block cache + WAL, checkpointed incrementally
  *    (changelog). This is the 100 TB posture for unbounded keyed state —
  *    memory stays bounded by the block cache while the key set grows on
  *    local SSD.
  *
  * Orthogonal to the provider, `dropDuplicatesWithinWatermark` (run by
  * q174's `Pipeline.dedupWatermark` shape, pinned in StreamingSpec) is
  * the semantic bound: keys older than the watermark are dropped from
  * state entirely, which caps growth regardless of where state lives.
  * At 100 TB use BOTH: RocksDB so the store scales past heap, and a
  * watermark wherever the dedup horizon is genuinely finite.
  *
  * Selection: `spark-submit --conf
  * spark.sql.streaming.stateStore.providerClass=<class>` sets it for a
  * whole job; [[withProvider]] scopes a provider to queries started
  * inside a block (the conf is snapshotted per query
  * at start, so existing checkpoints keep the provider they started with —
  * Spark refuses a provider switch on a live checkpoint).
  */
object StateStores {

  val HdfsBacked: String =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  val RocksDb: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val ConfKey = "spark.sql.streaming.stateStore.providerClass"

  /** Resolve a short name ("rocksdb" | "hdfs") or a full class name. */
  def resolve(name: String): String = name.toLowerCase match {
    case "rocksdb" => RocksDb
    case "hdfs"    => HdfsBacked
    case full if full.contains(".") => name
    case other =>
      throw new IllegalArgumentException(
        s"unknown state store '$other' — use rocksdb, hdfs, or a provider class name")
  }

  /** Run `f` with the given provider set on the session, restoring the
    * previous value after. Streaming queries STARTED inside `f` keep the
    * provider for their lifetime (per-query conf snapshot).
    */
  def withProvider[A](spark: SparkSession, name: String)(f: => A): A = {
    val previous = spark.conf.getOption(ConfKey)
    spark.conf.set(ConfKey, resolve(name))
    try f
    finally previous match {
      case Some(v) => spark.conf.set(ConfKey, v)
      case None    => spark.conf.unset(ConfKey)
    }
  }
}
