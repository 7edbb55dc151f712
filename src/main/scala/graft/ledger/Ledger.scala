package graft.ledger

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, Path}
import org.apache.hadoop.hdfs.DistributedFileSystem
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.NioLocalFileSystem
import graft.sources.ParquetFooters

/** Parquet-backed mutable ledger with append, no-override enrichment and
  * the upload flag — the reference's MongoDB collection semantics
  * (db.py:66-231) on immutable columnar storage, with no external table
  * format available offline (SURVEY.md §7.5.1).
  *
  * Layout: two flat parquet directories under `path`, the two parts of the
  * table. `settled/` holds the rows no task changes again (uploaded, every
  * enrichable field set: [[Ledger.settled]]), `open/` every other row, so
  * a task reads and rewrites the rows that can still change, not the
  * history. Each row is in exactly one data file under `path`; read the
  * table through [[read]]. Every file operation goes through the path's
  * Hadoop `FileSystem`, which must be one where a directory `rename` is
  * atomic and `create(…, overwrite = false)` is exclusive; the constructor
  * refuses any other. Every entry point but [[exists]] takes the writer
  * lock and recovers a crashed publish first:
  *   1. [[append]] writes the unseen records into the open part, in the
  *      stored column order;
  *   2. [[enrich]] maps the open part in one pass — the resolution runs
  *      over the rows that can still change, existing values win
  *      (coalesce against a copy of the field taken before the resolution,
  *      matching tests/hooks/test_db.py:16-47), and the rows carrying the
  *      field are counted by an observation on that write, plus the
  *      settled rows, counted from their footers;
  *   3. [[markUploaded]] flags whole groups, named by a list of ids, in
  *      one mapped pass over the open part;
  *   4. enrich and markUploaded publish the rewritten open part through
  *      [[publish]], which moves the rows that became settled into the
  *      settled part (stage, check `_SUCCESS`, move, swap by two renames).
  *
  * Each rewrite copies the open part, the copy-on-write cost a table
  * format would pay per touched file; the settled part grows by one file
  * per publish that settles rows. Deletes stay quarantined, as in the
  * reference (db.py:127-133): append + update only.
  */
final class Ledger(spark: SparkSession, path: String) extends LedgerStore {
  private val liveDir = new Path(path)
  private val fs = Ledger.checked(liveDir,
    liveDir.getFileSystem(spark.sparkContext.hadoopConfiguration))
  private val openDir = new Path(liveDir, "open")
  private val settledDir = new Path(liveDir, "settled")

  private def sibling(suffix: String): Path =
    new Path(liveDir.getParent, liveDir.getName + suffix)

  private val lock = sibling("_lock")

  /** Checks the layout. A `bucket=` directory, or part files directly
    * under `path`, is the layout of earlier versions, which no entry point
    * reads or rewrites. */
  private def checkLayout(): Unit = {
    val all = if (fs.exists(liveDir)) fs.listStatus(liveDir) else Array.empty[FileStatus]
    def rewrite(read: String) = "rewrite it once to a new path — " +
      s"`new Ledger(spark, <new path>).init($read)` — and point --ledger there"
    if (all.exists(s => s.isDirectory && s.getPath.getName.startsWith("bucket=")))
      throw new IllegalStateException(s"ledger at $path has the retired " +
        "bucket=<hash prefix> layout; " +
        rewrite(s"spark.read.parquet(\"$path\").drop(\"bucket\")"))
    if (all.exists(s => s.isFile && ParquetFooters.isData(s.getPath.getName)))
      throw new IllegalStateException(s"ledger at $path has the retired " +
        "single-directory layout (part files directly under it); " +
        rewrite(s"spark.read.parquet(\"$path\")"))
  }

  private def dataFiles(dir: Path): Array[FileStatus] =
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(s => s.isFile && ParquetFooters.isData(s.getPath.getName))

  /** A data file holds the rows: a bare `_SUCCESS` holds no schema. */
  def exists: Boolean = {
    checkLayout()
    dataFiles(openDir).nonEmpty || dataFiles(settledDir).nonEmpty
  }

  /** Recovery for a crash inside a previous publish, in two steps:
    *  1. a kill between "open -> trash" and "staging -> open" leaves no
    *     open part, with its old copy in a `_trash_<runId>` dir: put back
    *     each part the newest trash holds and the ledger lacks;
    *  2. a publish moves its settled rows before it swaps the open part,
    *     so while its staging still holds the new open part those rows are
    *     in the open part too: drop that run's settled files.
    * Then drop the orphan dirs (unique names: they can never belong to the
    * current call). Runs only under the writer lock, so it never touches a
    * running writer's staging or trash.
    */
  private def recoverOrphans(): Unit = {
    val (trash, staging) = (liveDir.getName + "_trash_", liveDir.getName + "_staging_")
    // the parent exists: it holds the lock
    val orphans = fs.listStatus(liveDir.getParent, (p: Path) =>
      p.getName.startsWith(trash) || p.getName.startsWith(staging)).map(_.getPath)
    val trashed = orphans.filter(_.getName.startsWith(trash))
    if (trashed.nonEmpty && !fs.exists(openDir)) {
      val newest = trashed.maxBy(fs.getFileStatus(_).getModificationTime)
      fs.mkdirs(liveDir)
      for (part <- Seq(openDir, settledDir)
           if fs.exists(new Path(newest, part.getName)) && !fs.exists(part))
        rename(new Path(newest, part.getName), part)
    }
    for (p <- orphans if p.getName.startsWith(staging) &&
         fs.exists(new Path(p, Ledger.stagedOpen))) {
      val runId = p.getName.stripPrefix(staging)
      dataFiles(settledDir).map(_.getPath)
        .filter(_.getName.startsWith(s"part-$runId-")).foreach(fs.delete(_, false))
    }
    orphans.filter(fs.exists).foreach(fs.delete(_, true))
    if (orphans.nonEmpty) spark.catalog.refreshByPath(path)
  }

  /** Recovers under the writer lock first, so it fails fast while another
    * writer holds it. */
  def read(): DataFrame = {
    locked("read")(())
    scan(parts())
  }

  private def parts(): Seq[Path] = Seq(openDir, settledDir).filter(fs.exists)

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

  /** Initialize (overwrite-all) with a first batch, split between the two
    * parts. The old table is deleted once the new one is staged, so a
    * crash inside `init` can leave a partial table: rerun it. A zero-row
    * batch leaves no data file, and the ledger reads as absent until the
    * first append. */
  def init(records: DataFrame): Unit = locked("init") {
    publish(records, replace = true)
  }

  /** S7 — [[LedgerStore.append]] as one written query: the batch's
    * survivors anti-joined against both parts in one scan (db.py:76-86 +
    * the J1 anti-join), written in the stored column order, so every file
    * lists one order whichever footer the read opens. The first append
    * creates the ledger. */
  def append(records: DataFrame): Long = locked("append") {
    val stored = if (exists) Some(scan(parts())) else None
    val fresh = LedgerStore.unseen(records, stored)
    val ordered = stored.fold(fresh)(s => fresh.select(s.columns.map(col): _*))
    LedgerStore.countObserved(ordered) { df =>
      df.write.mode(SaveMode.Append).parquet(openDir.toString)
      spark.catalog.refreshByPath(path)
    }
  }

  /** [[LedgerStore.enrich]] as one mapped rewrite of the open part: no
    * join against the ledger itself. `resolve` sees only the rows that can
    * still change; a settled row carries every enrichable field, so the
    * count is the one observed on the staging write plus the settled rows.
    */
  def enrich(field: String)(resolve: DataFrame => DataFrame): Long =
    locked("enrich") {
      val fill = LedgerStore.fillNulls(field)(resolve) // checks field
      val settled = ParquetFooters.rows(spark, settledDir)
      if (dataFiles(openDir).isEmpty) settled
      else settled + LedgerStore.countObserved(fill(open()), col(field)) {
        df => publish(df.drop(LedgerStore.prior))
      }
    }

  /** [[LedgerStore.markUploaded]] as one mapped rewrite of the open part.
    * No ids, no publish.
    */
  def markUploaded(dmpIds: Seq[String]): Unit = locked("markUploaded") {
    if (dmpIds.nonEmpty && dataFiles(openDir).nonEmpty) publish(open()
      .withColumn("is_uploaded", col("is_uploaded") || LedgerStore.inGroups(dmpIds)))
  }

  private def open(): DataFrame = scan(Seq(openDir))

  /** The parts in `dirs`, or the ledger path when none exists (Spark then
    * names the missing path). */
  private def scan(dirs: Seq[Path]): DataFrame =
    ParquetFooters.read(spark, (if (dirs.isEmpty) Seq(liveDir) else dirs)
      .map(_.toString): _*)

  /** Every entry point: under the writer lock, check the layout and
    * recover a crashed publish before `body` looks at the table. */
  private def locked[T](op: String)(body: => T): T = withWriterLock(op) {
    checkLayout()
    recoverOrphans()
    body
  }

  private def rename(from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"could not move $from to $to")

  /** Replace the open part with the open rows of `df` and add its settled
    * rows to the settled part (with `replace`, replace the whole table):
    *
    *  1. write `df` to a UNIQUE staging dir, split by [[Ledger.settled]]
    *     (a crashed previous run can never leave stale files that a later
    *     call silently republishes — the failure mode of a fixed staging
    *     path);
    *  2. require Spark's `_SUCCESS` marker before publishing (a partial
    *     staging write is abandoned, never swapped in);
    *  3. move the staged settled files into the settled part, named
    *     `part-<runId>-…`; until step 4 completes those rows are in the old
    *     open part too, and recoverOrphans drops them again;
    *  4. move the open part to a unique trash dir, then the staged open
    *     rows to the open part — in that order, because a directory rename
    *     onto an existing directory nests the source inside it instead of
    *     failing. A crash between the two leaves the old open part in
    *     trash, which recoverOrphans puts back.
    *
    * The parquet source cannot overwrite files it is concurrently reading,
    * so the staging materialization is also what makes the rewrite
    * read-its-own-input safe.
    */
  private def publish(df: DataFrame, replace: Boolean = false): Unit = {
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val staging = sibling(s"_staging_$runId")
    val trash = sibling(s"_trash_$runId")
    df.withColumn(Ledger.split, Ledger.settled).write.partitionBy(Ledger.split)
      .mode(SaveMode.Overwrite).parquet(staging.toString)
    require(fs.exists(new Path(staging, "_SUCCESS")),
      s"staging write incomplete (no _SUCCESS): $staging — not publishing")
    val fresh = new Path(staging, Ledger.stagedOpen)
    try {
      // before any move: while it exists, recoverOrphans undoes this run's
      // moves (and with no open rows left it becomes an empty open part)
      fs.mkdirs(fresh)
      if (replace) fs.delete(liveDir, true)
      fs.mkdirs(liveDir)
      val moved = dataFiles(new Path(staging, s"${Ledger.split}=true"))
      if (moved.nonEmpty) fs.mkdirs(settledDir)
      moved.map(_.getPath).foreach(f => rename(f,
        new Path(settledDir, s"part-$runId-${f.getName.stripPrefix("part-")}")))
      if (fs.exists(openDir)) {
        fs.mkdirs(trash)
        rename(openDir, new Path(trash, openDir.getName))
      }
      rename(fresh, openDir)
      fs.delete(staging, true)
      fs.delete(trash, true)
    } finally {
      // the rewrite invalidates any file listing cached for this path
      spark.catalog.refreshByPath(path)
    }
  }
}

object Ledger {
  /** A row no task changes again: uploaded, and every field an enrichment
    * fills is set. */
  private val settled: Column = coalesce(LedgerStore.enrichable.map(col(_).isNotNull)
    .foldLeft(col("is_uploaded"))(_ && _), lit(false))

  /** The staging column that splits a publish between the two parts. */
  private val split = "_settled"

  /** The staged open rows, until the publish moves them to the open part. */
  private val stagedOpen = s"$split=false"

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
