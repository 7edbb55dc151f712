package graft.ledger

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed mutable ledger with append, no-override enrichment and
  * the upload flag — the reference's MongoDB collection semantics
  * (db.py:66-231) on immutable columnar storage, with no external table
  * format available offline (SURVEY.md §7.5.1).
  *
  * Layout: hash-prefix bucketed partitions (`bucket=<first k hex chars>` of
  * the sha256 key → 16^k buckets, `bucketWidth` = k). Every rewrite takes
  * the writer lock, recovers a crashed publish and checks the width, then:
  *   1. [[enrich]] maps the live table in one pass — the resolution runs
  *      over the stored rows, existing values win (coalesce against a copy
  *      of the field taken before the resolution, matching
  *      tests/hooks/test_db.py:16-47), and the rows carrying the field are
  *      counted by an observation on that write;
  *   2. [[markUploaded]] finds the buckets holding the flagged groups and
  *      rewrites only those (partition pruning);
  *   3. both publish the rewritten buckets through [[writeBuckets]]
  *      (stage, check `_SUCCESS`, rename per bucket).
  *
  * At 100 TB: pick bucketWidth=3 → 4096 buckets of ~25 GB each; flagging
  * groups that touch m buckets rewrites m/4096 of the table. An enrichment
  * rewrites every bucket, as a resolution step can reach any row. The width
  * is fixed at table creation (it is the physical layout); widening is a
  * one-off re-init, and a width mismatch against the on-disk layout
  * fail-fasts rather than silently missing every bucket in the prune
  * filter. Deletes stay quarantined, as in the reference (db.py:127-133):
  * append + update only.
  */
final class Ledger(spark: SparkSession, path: String, bucketWidth: Int = 1)
    extends LedgerStore {
  require(bucketWidth >= 1 && bucketWidth <= 4,
    s"bucketWidth must be 1..4 (16..65536 buckets), got $bucketWidth")

  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn("bucket", substring(col("hash"), 1, bucketWidth))

  private def bucketDirs(): Array[java.io.File] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))

  /** A bucket dir holds the rows: a zero-row first append leaves a bare
    * `_SUCCESS`, which Spark cannot infer a schema from. */
  def exists: Boolean = bucketDirs().nonEmpty

  /** The prune filters compare `bucket` partition values against prefixes of
    * the configured width — opening a table written at a different width
    * would make every filter miss (a silently-dropped rewrite). Check the
    * on-disk dir names once per mutating entry point.
    */
  private def validateWidth(): Unit = {
    bucketDirs().headOption.foreach { d =>
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
    * atomicity): two concurrent rewrites could interleave per-bucket renames
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
  def append(records: DataFrame): Long = locked("append") {
    val fresh = if (!exists) records
      else records.join(live().select("hash"), Seq("hash"), "left_anti")
    LedgerStore.countObserved(withBucket(fresh)) { df =>
      df.write.partitionBy("bucket").mode(SaveMode.Append).parquet(path)
      spark.catalog.refreshByPath(path)
    }
  }

  /** [[LedgerStore.enrich]] as one mapped rewrite of every bucket: no join
    * against the ledger itself, and the returned count is observed on the
    * staging write.
    */
  def enrich(field: String)(resolve: DataFrame => DataFrame): Long =
    locked("enrich") {
      val fill = LedgerStore.fillNulls(field)(resolve) // checks field
      if (!exists) 0L
      else LedgerStore.countObserved(fill(live().drop("bucket")), col(field)) {
        df => writeBuckets(withBucket(df.drop(LedgerStore.prior)))
      }
    }

  /** Terminal flag for whole upload groups (db.py:189-196): set
    * is_uploaded=true for every record of the given dmp_ids.
    *
    * Bucket-pruned: a cheap semi-join scan (dmp_id + bucket columns only)
    * finds which hash-prefix buckets actually contain the groups, and only
    * those are rewritten — flagging one upload group at 100 TB touches
    * k/|buckets| of the table, not all of it. No touched bucket, no publish.
    */
  def markUploaded(dmpIds: DataFrame): Unit = locked("markUploaded") {
    val ids = broadcast(dmpIds.select(col("dmp_id").as("_flag_id")).distinct())
    val hit = col("dmp_id") === col("_flag_id")
    val buckets = live().join(ids, hit, "left_semi").select("bucket")
      .distinct().collect().map(_.getString(0)) // bounded: ≤16^k bucket ids
    if (buckets.nonEmpty)
      writeBuckets(live().filter(col("bucket").isin(buckets.toSeq: _*))
        .join(ids, hit, "left")
        .withColumn("is_uploaded",
          col("is_uploaded") || col("_flag_id").isNotNull)
        .drop("_flag_id"))
  }

  /** The live table, with its `bucket` partition column. */
  private def live(): DataFrame = spark.read.parquet(path)

  /** Every mutation: under the writer lock, recover a crashed publish and
    * validate the layout before `body` looks at the table. */
  private def locked[T](op: String)(body: => T): T = withWriterLock(op) {
    recoverOrphans()
    validateWidth()
    body
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** Overwrite the buckets present in `df` via stage-then-rename:
    *
    *  1. write the rewritten buckets to a UNIQUE staging dir (a crashed
    *     previous run can never leave stale partitions that a later call
    *     silently republishes — the failure mode of a fixed staging path);
    *  2. require Spark's `_SUCCESS` marker before publishing (a partial
    *     staging write is abandoned, never swapped in);
    *  3. publish each bucket with an atomic directory rename (old bucket
    *     moved to a trash dir first, so a crash mid-publish leaves every
    *     bucket fully old or fully new — never half-written).
    *
    * The parquet source cannot overwrite partitions it is concurrently
    * reading, so the staging materialization is also what makes the rewrite
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
