package graft.ledger

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, Path}
import org.apache.hadoop.hdfs.DistributedFileSystem
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.NioLocalFileSystem

/** Parquet-backed mutable ledger with append, no-override enrichment and
  * the upload flag — the reference's MongoDB collection semantics
  * (db.py:66-231) on immutable columnar storage, with no external table
  * format available offline (SURVEY.md §7.5.1).
  *
  * Layout: one flat parquet directory at `path`. Every file operation goes
  * through the path's Hadoop `FileSystem`, which must be one where a
  * directory `rename` is atomic and `create(…, overwrite = false)` is
  * exclusive; the constructor refuses any other. Every entry point but
  * [[exists]] takes the writer lock and recovers a crashed publish first:
  *   1. [[append]] writes the unseen records into the live directory;
  *   2. [[enrich]] maps the live table in one pass — the resolution runs
  *      over the stored rows, existing values win (coalesce against a copy
  *      of the field taken before the resolution, matching
  *      tests/hooks/test_db.py:16-47), and the rows carrying the field are
  *      counted by an observation on that write;
  *   3. [[markUploaded]] flags whole groups, named by a list of ids, in
  *      one mapped pass;
  *   4. enrich and markUploaded publish the rewritten table through
  *      [[publish]] (stage, check `_SUCCESS`, swap by two renames).
  *
  * Each rewrite copies the whole table, the copy-on-write cost a table
  * format would pay per touched file. Deletes stay quarantined, as in the
  * reference (db.py:127-133): append + update only.
  */
final class Ledger(spark: SparkSession, path: String) extends LedgerStore {
  private val liveDir = new Path(path)
  private val fs = Ledger.checked(liveDir,
    liveDir.getFileSystem(spark.sparkContext.hadoopConfiguration))

  private def sibling(suffix: String): Path =
    new Path(liveDir.getParent, liveDir.getName + suffix)

  private val lock = sibling("_lock")

  /** The live directory's entries. A `bucket=` directory is the layout of
    * earlier versions, which no entry point reads or rewrites. */
  private def entries(): Array[FileStatus] = {
    val all = if (fs.exists(liveDir)) fs.listStatus(liveDir) else Array.empty[FileStatus]
    if (all.exists(s => s.isDirectory && s.getPath.getName.startsWith("bucket=")))
      throw new IllegalStateException(s"ledger at $path has the retired " +
        "bucket=<hash prefix> layout; rewrite it once to a new path — " +
        s"`new Ledger(spark, <new path>).init(spark.read.parquet(\"$path\")" +
        ".drop(\"bucket\"))` — and point --ledger there")
    all
  }

  /** A part file holds the rows: a bare `_SUCCESS` holds no schema. */
  def exists: Boolean = entries().exists(_.getPath.getName.startsWith("part-"))

  /** Recovery for a crash inside a previous publish: a kill between
    * "live -> trash" and "staging -> live" leaves no live table, with its
    * old copy in a `_trash_<runId>` dir. Restore that copy, then drop the
    * orphan dirs (unique names: they can never belong to the current call).
    * Runs only under the writer lock, so it never touches a running writer's
    * staging or trash.
    */
  private def recoverOrphans(): Unit = {
    val (trash, staging) = (liveDir.getName + "_trash_", liveDir.getName + "_staging_")
    // the parent exists: it holds the lock
    val orphans = fs.listStatus(liveDir.getParent, (p: Path) =>
      p.getName.startsWith(trash) || p.getName.startsWith(staging))
    val trashed = orphans.filter(_.getPath.getName.startsWith(trash))
    if (trashed.nonEmpty && !fs.exists(liveDir)) {
      val newest = trashed.maxBy(_.getModificationTime).getPath
      if (!fs.rename(newest, liveDir))
        throw new java.io.IOException(s"could not restore $newest to $liveDir")
      spark.catalog.refreshByPath(path)
    }
    orphans.map(_.getPath).filter(fs.exists).foreach(fs.delete(_, true))
  }

  /** Recovers under the writer lock first, so it fails fast while another
    * writer holds it. */
  def read(): DataFrame = {
    locked("read")(())
    spark.read.parquet(path)
  }

  /** The ledger is SINGLE-writer (as its Mongo counterpart was via document
    * atomicity): two concurrent rewrites could interleave their renames and
    * publish a mix of both runs. Every entry point takes this exclusive
    * lock — `create(<path>_lock, overwrite = false)` — so a second writer
    * fails FAST (before any staging work) instead of corrupting the table.
    * The lock carries pid/time/op for the error message. A writer that
    * crashed while holding it leaves the file behind: recovery is (1)
    * confirm no writer process is alive, (2) [[forceReleaseLock]], (3)
    * rerun — recoverOrphans then restores a half-published table.
    */
  private def withWriterLock[T](op: String)(body: => T): T = {
    val out = try fs.create(lock, false) catch {
      case _: FileAlreadyExistsException =>
        val held = try {
          val in = fs.open(lock)
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        } catch { case _: Exception => "<unreadable>" }
        throw new java.util.ConcurrentModificationException(
          s"ledger at $path is locked by another writer [$held]; the ledger " +
            "is single-writer — if that writer crashed, verify it is gone " +
            "and call forceReleaseLock()")
    }
    try {
      try out.write((s"pid=${ProcessHandle.current().pid()} " +
        s"at=${java.time.Instant.now()} op=$op").getBytes("UTF-8"))
      finally out.close()
      body
    } finally {
      fs.delete(lock, false)
      ()
    }
  }

  /** Break a stale writer lock after a crash — ONLY when the holding
    * process is confirmed dead (see [[withWriterLock]]).
    */
  def forceReleaseLock(): Boolean = fs.delete(lock, false)

  /** Initialize (overwrite-all) with a first batch. */
  def init(records: DataFrame): Unit = locked("init") {
    records.write.mode(SaveMode.Overwrite).parquet(path)
    spark.catalog.refreshByPath(path)
  }

  /** S7 — [[LedgerStore.append]] as one hash anti-join (insert-only dedup,
    * db.py:76-86 + the J1 anti-join); the first append creates the ledger.
    */
  def append(records: DataFrame): Long = locked("append") {
    val fresh = if (!exists) records
      else records.join(live().select("hash"), Seq("hash"), "left_anti")
    LedgerStore.countObserved(fresh) { df =>
      df.write.mode(SaveMode.Append).parquet(path)
      spark.catalog.refreshByPath(path)
    }
  }

  /** [[LedgerStore.enrich]] as one mapped rewrite of the table: no join
    * against the ledger itself, and the returned count is observed on the
    * staging write.
    */
  def enrich(field: String)(resolve: DataFrame => DataFrame): Long =
    locked("enrich") {
      val fill = LedgerStore.fillNulls(field)(resolve) // checks field
      if (!exists) 0L
      else LedgerStore.countObserved(fill(live()), col(field)) {
        df => publish(df.drop(LedgerStore.prior))
      }
    }

  /** [[LedgerStore.markUploaded]] as one mapped rewrite of the table. No
    * ids, no publish.
    */
  def markUploaded(dmpIds: Seq[String]): Unit = locked("markUploaded") {
    if (dmpIds.nonEmpty) publish(live().withColumn("is_uploaded",
      col("is_uploaded") || LedgerStore.inGroups(dmpIds)))
  }

  private def live(): DataFrame = spark.read.parquet(path)

  /** Every entry point: under the writer lock, check the layout and
    * recover a crashed publish before `body` looks at the table. */
  private def locked[T](op: String)(body: => T): T = withWriterLock(op) {
    entries()
    recoverOrphans()
    body
  }

  /** Replace the table with `df` via stage-then-rename:
    *
    *  1. write `df` to a UNIQUE staging dir (a crashed previous run can
    *     never leave stale files that a later call silently republishes —
    *     the failure mode of a fixed staging path);
    *  2. require Spark's `_SUCCESS` marker before publishing (a partial
    *     staging write is abandoned, never swapped in);
    *  3. move live to a unique trash dir, then staging to live — in that
    *     order, because a directory rename onto an existing directory
    *     nests the source inside it instead of failing. A crash between
    *     the two leaves the old table in trash, which recoverOrphans puts
    *     back.
    *
    * The parquet source cannot overwrite files it is concurrently reading,
    * so the staging materialization is also what makes the rewrite
    * read-its-own-input safe.
    */
  private def publish(df: DataFrame): Unit = {
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val staging = sibling(s"_staging_$runId")
    val trash = sibling(s"_trash_$runId")
    df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    require(fs.exists(new Path(staging, "_SUCCESS")),
      s"staging write incomplete (no _SUCCESS): $staging — not publishing")
    try {
      if (!fs.rename(liveDir, trash))
        throw new java.io.IOException(s"could not move $liveDir to $trash")
      if (!fs.rename(staging, liveDir))
        throw new java.io.IOException(s"could not publish $staging to $liveDir")
      fs.delete(trash, true)
    } finally {
      // the rewrite invalidates any file listing cached for this path
      spark.catalog.refreshByPath(path)
    }
  }
}

object Ledger {
  /** `fs` when the ledger can be made safe on it: the lock needs an
    * exclusive `create(…, overwrite = false)` and the publish an atomic
    * directory `rename`. HDFS gives both, and so does a local or NFS mount
    * through [[NioLocalFileSystem]], the `file:` filesystem
    * `Tables.session` installs. Anything else (S3A among them) is refused
    * before any write.
    */
  private def checked(path: Path, fs: FileSystem): FileSystem = {
    require(fs.isInstanceOf[NioLocalFileSystem] ||
      fs.isInstanceOf[DistributedFileSystem],
      s"ledger at $path is on ${fs.getClass.getName}, which gives no " +
        "exclusive create for the writer lock and no atomic directory " +
        "rename for the publish; put the ledger on HDFS (hdfs://), on a " +
        "local or NFS mount in a Tables.session session, or use " +
        "--ledger-format mongodb")
    fs
  }
}
