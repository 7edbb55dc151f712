package graft.ledger

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed mutable ledger with append + conditional no-override merge
  * — the reference's MongoDB collection semantics (db.py:66-231) on
  * immutable columnar storage, with no external table format available
  * offline (SURVEY.md §7.5.1).
  *
  * Layout: hash-prefix bucketed partitions (`bucket=<first k hex chars>` of
  * the sha256 key → 16^k buckets, `bucketWidth` = k). A merge:
  *   1. bucketizes the updates,
  *   2. reads ONLY the affected buckets (partition pruning),
  *   3. join-rewrites them (coalesce per enrichable column — existing value
  *      wins, so updates can never override, matching
  *      tests/hooks/test_db.py:16-47),
  *   4. publishes just those partitions ([[rewrite]]).
  *
  * At 100 TB: pick bucketWidth=3 → 4096 buckets of ~25 GB each; a merge
  * touching m buckets rewrites m/4096 of the table, and the join inside a
  * bucket is co-partitioned on the uniform hash key (no skew). The width is
  * fixed at table creation (it is the physical layout); widening is a
  * one-off re-init, and a width mismatch against the on-disk layout
  * fail-fasts rather than silently missing every bucket in the prune
  * filter. Deletes stay quarantined, as in the reference (db.py:127-133):
  * append + update only.
  */
final class Ledger(spark: SparkSession, path: String, bucketWidth: Int = 1)
    extends LedgerStore {
  require(bucketWidth >= 1 && bucketWidth <= 4,
    s"bucketWidth must be 1..4 (16..65536 buckets), got $bucketWidth")

  private val enrichable = LedgerStore.enrichable

  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn("bucket", substring(col("hash"), 1, bucketWidth))

  def exists: Boolean = new java.io.File(path).exists()

  /** The prune filters compare `bucket` partition values against prefixes of
    * the configured width — opening a table written at a different width
    * would make every filter miss (a silently-dropped merge). Check the
    * on-disk dir names once per mutating entry point.
    */
  private def validateWidth(): Unit = {
    val dirs = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    dirs.headOption.foreach { d =>
      val w = d.getName.stripPrefix("bucket=").length
      require(w == bucketWidth,
        s"ledger at $path is bucketed at width $w but Ledger was opened " +
          s"with bucketWidth=$bucketWidth — widths must match the layout")
    }
  }

  /** Startup/entry recovery for a crash inside a previous publish: a kill
    * between "old bucket -> trash" and "staged bucket -> live" leaves that
    * bucket absent from the live table, with its old copy in a
    * `_trash_<runId>` dir and its new copy in `_staging_<runId>`. Restore
    * any trashed bucket whose live dir is missing (per-bucket old state —
    * consistent with the publish contract), then drop the orphan dirs
    * (unique names: they can never belong to the current call). The ledger
    * is single-writer by design, as its Mongo counterpart was.
    */
  private def recoverOrphans(): Unit = {
    val self = new java.io.File(path)
    val parent = self.getParentFile
    if (parent == null || !parent.exists()) return
    val base = self.getName
    Option(parent.listFiles()).getOrElse(Array.empty).foreach { d =>
      if (d.getName.startsWith(base + "_trash_")) {
        Option(d.listFiles()).getOrElse(Array.empty).foreach { old =>
          val target = new java.io.File(path, old.getName)
          if (!target.exists()) {
            java.nio.file.Files.move(old.toPath, target.toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
        }
        deleteRecursively(d)
        spark.catalog.refreshByPath(path)
      } else if (d.getName.startsWith(base + "_staging_")) {
        deleteRecursively(d) // never published; safe to drop
      }
    }
  }

  def read(): DataFrame = {
    recoverOrphans()
    validateWidth()
    spark.read.parquet(path).drop("bucket")
  }

  /** The ledger is SINGLE-writer (as its Mongo counterpart was via document
    * atomicity): two concurrent merges could interleave per-bucket renames
    * and publish a mix of both runs. Every mutating entry point takes this
    * exclusive lock — an atomic O_EXCL create of `<path>_lock` — so the
    * second writer fails FAST (before any staging work) instead of
    * corrupting buckets. The lock carries pid/time/op for the error
    * message. A writer that crashed while holding it leaves the file
    * behind: recovery is (1) confirm no writer process is alive, (2)
    * [[forceReleaseLock]], (3) rerun — recoverOrphans then restores any
    * half-published bucket.
    */
  private def withWriterLock[T](op: String)(body: => T): T = {
    val lock = new java.io.File(s"${path}_lock")
    Option(lock.getParentFile).foreach(_.mkdirs())
    if (!lock.createNewFile()) {
      val held = try java.nio.file.Files.readString(lock.toPath)
        catch { case _: Exception => "<unreadable>" }
      throw new java.util.ConcurrentModificationException(
        s"ledger at $path is locked by another writer [$held]; the ledger " +
          "is single-writer — if that writer crashed, verify it is gone " +
          "and call forceReleaseLock()")
    }
    try {
      java.nio.file.Files.writeString(lock.toPath,
        s"pid=${ProcessHandle.current().pid()} " +
          s"at=${java.time.Instant.now()} op=$op")
      body
    } finally {
      lock.delete()
      ()
    }
  }

  /** Break a stale writer lock after a crash — ONLY when the holding
    * process is confirmed dead (see [[withWriterLock]]).
    */
  def forceReleaseLock(): Boolean = new java.io.File(s"${path}_lock").delete()

  /** Initialize (overwrite-all) with a first batch. */
  def init(records: DataFrame): Unit = withWriterLock("init") {
    withBucket(records).write
      .partitionBy("bucket").mode(SaveMode.Overwrite).parquet(path)
    spark.catalog.refreshByPath(path)
  }

  /** S7 — [[LedgerStore.append]] as one hash anti-join (insert-only dedup,
    * db.py:76-86 + the J1 anti-join); the first append creates the ledger.
    */
  def append(records: DataFrame): Long = withWriterLock("append") {
    val fresh = if (!exists) records
      else records.join(read().select("hash"), Seq("hash"), "left_anti") // read() validates width
    LedgerStore.countWritten(withBucket(fresh)) { df =>
      df.write.partitionBy("bucket").mode(SaveMode.Append).parquet(path)
      spark.catalog.refreshByPath(path)
    }
  }

  /** No-override merge: for rows matched by hash, fill each `fields` column
    * only where the ledger value is still null. Only affected buckets are
    * read and rewritten.
    */
  def mergeNoOverride(updates: DataFrame,
                      fields: Seq[String] = enrichable): Unit = {
    // lazy: the check runs inside the writer lock, first thing in rewrite
    lazy val upd = {
      require(fields.forall(enrichable.contains),
        s"only $enrichable are enrichable; is_uploaded goes via markUploaded")
      withBucket(updates
        .select(col("hash") +: fields.map(f => col(f).as(s"_u_$f")): _*))
    }
    rewrite("mergeNoOverride", upd) { current =>
      val merged = current.join(upd.drop("bucket"), Seq("hash"), "left")
      fields.foldLeft(merged) { (df, f) =>
        df.withColumn(f, coalesce(col(f), col(s"_u_$f")))
      }.drop(fields.map(f => s"_u_$f"): _*)
    }
  }

  /** Terminal flag for whole upload groups (db.py:189-196): set
    * is_uploaded=true for every record of the given dmp_ids.
    *
    * Bucket-pruned like mergeNoOverride: a cheap semi-join scan (dmp_id +
    * bucket columns only) finds which hash-prefix buckets actually contain
    * the groups, and only those are rewritten — flagging one upload group
    * at 100 TB touches k/|buckets| of the table, not all of it.
    */
  def markUploaded(dmpIds: DataFrame): Unit = {
    val ids = broadcast(dmpIds.select(col("dmp_id").as("_u_dmp_id")).distinct())
    rewrite("markUploaded", spark.read.parquet(path)
        .join(ids, col("dmp_id") === col("_u_dmp_id"), "left_semi")) { current =>
      current
        .join(ids, col("dmp_id") === col("_u_dmp_id"), "left")
        .withColumn("is_uploaded",
          col("is_uploaded") || col("_u_dmp_id").isNotNull)
        .drop("_u_dmp_id")
    }
  }

  /** The one rewrite path: under the writer lock, recover and validate the
    * layout, collect the buckets `touched` (a frame with a `bucket` column)
    * reaches, read just those and publish `f` of them. `touched` is
    * evaluated inside the lock, after recovery.
    */
  private def rewrite(op: String, touched: => DataFrame)(
      f: DataFrame => DataFrame): Unit = withWriterLock(op) {
    recoverOrphans()
    validateWidth()
    val buckets = touched.select("bucket").distinct()
      .collect().map(_.getString(0)) // bounded: ≤16^k bucket ids, not data
    if (buckets.nonEmpty)
      writeBuckets(f(spark.read.parquet(path)
        .filter(col("bucket").isin(buckets.toSeq: _*))))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** Overwrite the buckets present in `df` via stage-then-rename:
    *
    *  1. write the merged buckets to a UNIQUE staging dir (a crashed
    *     previous run can never leave stale partitions that a later call
    *     silently republishes — the failure mode of a fixed staging path);
    *  2. require Spark's `_SUCCESS` marker before publishing (a partial
    *     staging write is abandoned, never swapped in);
    *  3. publish each bucket with an atomic directory rename (old bucket
    *     moved to a trash dir first, so a crash mid-publish leaves every
    *     bucket fully old or fully new — never half-written).
    *
    * The parquet source cannot overwrite partitions it is concurrently
    * reading, so the staging materialization is also what makes the merge
    * read-its-own-input safe; at scale it is the standard copy-on-write
    * cost (Delta/Iceberg rewrite the same files under the hood — this is
    * the no-table-format-offline stand-in, with the atomicity window
    * narrowed to per-bucket renames instead of a whole second Spark write).
    */
  private def writeBuckets(df: DataFrame): Unit = {
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val staging = new java.io.File(s"${path}_staging_$runId")
    df.write.partitionBy("bucket").mode(SaveMode.Overwrite)
      .parquet(staging.getPath)
    require(new java.io.File(staging, "_SUCCESS").exists(),
      s"staging write incomplete (no _SUCCESS): ${staging.getPath} — not publishing")
    val trash = new java.io.File(s"${path}_trash_$runId")
    trash.mkdirs()
    try {
      staging.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .foreach { stagedBucket =>
          val target = new java.io.File(path, stagedBucket.getName)
          if (target.exists()) {
            java.nio.file.Files.move(target.toPath,
              new java.io.File(trash, stagedBucket.getName).toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
          java.nio.file.Files.move(stagedBucket.toPath, target.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
      // cleanup ONLY after every bucket published — a failed rename must
      // never reach a path that deletes the surviving copies of a bucket
      // (the old one in trash, the new one in staging)
      deleteRecursively(trash)
      deleteRecursively(staging)
    } catch {
      case e: Throwable =>
        // best-effort rollback: restore any bucket whose old copy was
        // already trashed; leave trash/staging on disk for inspection if
        // even the restore fails (their unique names cannot corrupt a
        // later run)
        Option(trash.listFiles()).getOrElse(Array.empty).foreach { old =>
          val target = new java.io.File(path, old.getName)
          if (!target.exists()) {
            try java.nio.file.Files.move(old.toPath, target.toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            catch { case _: Exception => () }
          }
        }
        if (Option(trash.listFiles()).forall(_.isEmpty)) deleteRecursively(trash)
        throw e
    } finally {
      // the rewrite invalidates any file listing cached for this path
      spark.catalog.refreshByPath(path)
    }
  }
}
