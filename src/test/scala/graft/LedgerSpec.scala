package graft

import java.net.URI
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ledger.Ledger
import graft.sources.ParquetFooters

/** Ledger semantics: append-dedup, no-override enrichment (idempotent),
  * group upload flags — the reference's Mongo collection contract
  * (db.py:66-231, tests/hooks/test_db.py) on one parquet directory — plus
  * the single-writer lock and crash recovery of its publish. Each subclass
  * runs the contract with every ledger path under one URI prefix.
  */
abstract class LedgerContract(prefix: String) extends SparkSpec {
  import spark.implicits._

  protected def localTmp(): String =
    Files.createTempDirectory("graft-ledger").toString

  private def tmp(): String = prefix + localTmp() + "/ledger"

  protected def fs(path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  protected def rec(ref: String, serial: Option[String] = None,
                  dmpId: Option[String] = None): (String, String, String, Timestamp, Timestamp, Map[String, String], Option[String], Option[String], Option[String], Option[String], Option[String], Boolean) = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(("DRM" + ref).getBytes("UTF-8")).map("%02x".format(_)).mkString
    (h, ref, "DRM", Timestamp.valueOf("2021-11-29 10:00:00"),
      Timestamp.valueOf("2021-11-29 12:00:00"), Map("dreem_uid" -> "U1"),
      serial, None, None, None, dmpId, false)
  }

  private val cols = Seq("hash", "manufacturer_ref", "device_type", "start",
    "end", "meta", "device_serial", "device_id", "patient_id", "dmp_dataset",
    "dmp_id", "is_uploaded")

  protected def df(rows: Seq[(String, String, String, Timestamp, Timestamp, Map[String, String], Option[String], Option[String], Option[String], Option[String], Option[String], Boolean)]): DataFrame =
    rows.toDF(cols: _*)

  /** A resolver that overwrites `device_serial` unconditionally — the given
    * refs get their serial, every other row gets null — so any value that
    * survives an existing one is the store's no-override guard at work. */
  protected def setSerials(serials: (String, String)*)(rows: DataFrame): DataFrame =
    rows.withColumn("device_serial", serials.foldLeft(lit(null).cast("string")) {
      case (v, (ref, serial)) => when($"manufacturer_ref" === ref, serial).otherwise(v)
    })

  private def serials(led: Ledger): Map[String, Option[String]] =
    led.read().select($"manufacturer_ref", $"device_serial")
      .as[(String, Option[String])].collect().toMap

  /** A row every enrichment has filled, in group `dmpId`. */
  protected def done(ref: String, dmpId: String, uploaded: Boolean = false) =
    rec(ref, serial = Some("S-" + ref), dmpId = Some(dmpId))
      .copy(_8 = Some("DEV-1"), _9 = Some("P-1"), _12 = uploaded)

  /** The refs in each part's data files, read past the ledger. */
  protected def partRefs(path: String): Map[String, Seq[String]] =
    Seq("open", "settled").map(part => part -> {
      val dir = new Path(path, part)
      if (!fs(path).exists(dir) || !fs(path).listStatus(dir)
          .exists(f => ParquetFooters.isData(f.getPath.getName))) Seq.empty
      else spark.read.parquet(dir.toString).select("manufacturer_ref")
        .as[String].collect().toSeq.sorted
    }).toMap

  /** The `_staging_`/`_trash_` dirs beside the ledger. */
  protected def orphanDirs(path: String): Seq[String] = {
    val live = new Path(path)
    fs(path).listStatus(live.getParent).map(_.getPath.getName).toSeq.filter(n =>
      n.startsWith(live.getName + "_staging_") || n.startsWith(live.getName + "_trash_"))
  }

  /** The names of the live table's files. */
  private def liveFiles(path: String): Set[String] =
    fs(path).listStatus(new Path(path)).map(_.getPath.getName).toSet

  private def holdLock(path: String): Unit = {
    val out = fs(path).create(new Path(path + "_lock"), false)
    try out.write("pid=999999 op=test".getBytes("UTF-8")) finally out.close()
  }

  test("append deduplicates by hash") {
    val path = tmp()
    val led = new Ledger(spark, path)
    led.init(df(Seq(rec("a"), rec("b"))))
    assert(led.append(df(Seq(rec("b"), rec("c")))) == 1)
    assert(led.read().count() == 3)
    assert(led.read().select("manufacturer_ref").as[String].collect().toSet
      == Set("a", "b", "c"))
  }

  test("append keeps one record per hash: the earliest start, then end, then meta; null-hash records bypass") {
    val led = new Ledger(spark, tmp())
    def at(ref: String, start: String, end: String = "2021-11-10 18:00:00",
           uid: String = "U1", hash: Boolean = true) = {
      val r = rec(ref)
      r.copy(_1 = if (hash) r._1 else null, _4 = Timestamp.valueOf(start),
        _5 = Timestamp.valueOf(end), _6 = Map("dreem_uid" -> uid))
    }
    // each identity's losing copy comes first
    assert(led.append(df(Seq(
      // two true duplicates (sites disagree on start)
      at("r1", "2021-11-10 14:00:00"), at("r1", "2021-11-10 13:30:00"),
      // same start, different end; same start and end, different meta
      at("r2", "2021-11-10 09:00:00", "2021-11-10 12:00:00"),
      at("r2", "2021-11-10 09:00:00", "2021-11-10 11:00:00"),
      at("r3", "2021-11-10 09:00:00", uid = "U9"), at("r3", "2021-11-10 09:00:00"),
      // a null hash is NOT an identity: both must land
      at("r8", "2021-11-10 10:00:00", hash = false),
      at("r9", "2021-11-10 11:00:00", hash = false)))) == 5)
    assert(led.read().select($"manufacturer_ref", date_format($"start", "HH:mm:ss"),
        date_format($"end", "HH:mm:ss"), $"meta"("dreem_uid"))
      .as[(String, String, String, String)].collect().sorted.toSeq == Seq(
      ("r1", "13:30:00", "18:00:00", "U1"), // deterministic earliest-start survivor
      ("r2", "09:00:00", "11:00:00", "U1"), ("r3", "09:00:00", "18:00:00", "U1"),
      ("r8", "10:00:00", "18:00:00", "U1"), ("r9", "11:00:00", "18:00:00", "U1")))
  }

  test("append creates an absent ledger and returns the rows it wrote; a redelivered batch writes 0") {
    val path = tmp()
    val led = new Ledger(spark, path)
    assert(!led.exists)
    assert(led.append(df(Seq(rec("a"), rec("b"), rec("c")))) == 3)
    assert(led.exists)
    assert(led.read().count() == 3)
    assert(led.append(df(Seq(rec("a"), rec("b"), rec("c")))) == 0)
    assert(led.read().count() == 3)
    assert(!fs(path).exists(new Path(path + "_lock")))
  }

  test("append, exists and enrich agree at this path; nothing lands under the working directory") {
    val path = tmp()
    val led = new Ledger(spark, path)
    assert(led.append(df(Seq(rec("a"), rec("b")))) == 2)
    assert(led.exists)
    assert(led.append(df(Seq(rec("a"), rec("b"), rec("c")))) == 1)
    assert(led.read().count() == 3)
    assert(led.enrich("device_serial")(setSerials("a" -> "S-A", "c" -> "S-C")) == 2)
    assert(serials(led) == Map("a" -> Some("S-A"), "b" -> None, "c" -> Some("S-C")))
    // a URI handed to java.io names a relative path: `file:/tmp/…`
    val scheme = new URI(path).getScheme
    if (scheme != null) assert(!new java.io.File(scheme + ":").exists())
  }

  test("enrich fills nulls, existing values win, is idempotent; returns the rows carrying the field") {
    val path = tmp()
    val led = new Ledger(spark, path)
    led.init(df(Seq(rec("a", serial = Some("KEEP")), rec("b"), rec("c"),
      rec("d", serial = Some("KEEP-D")))))
    // the resolver clobbers a, fills b, leaves c null and nulls d
    val resolve = setSerials("a" -> "NEW", "b" -> "S-B") _
    assert(led.enrich("device_serial")(resolve) == 3)
    assert(orphanDirs(path).isEmpty) // the publish leaves no staging/trash
    val s1 = serials(led)
    assert(s1 == Map("a" -> Some("KEEP"), "b" -> Some("S-B"), "c" -> None,
      "d" -> Some("KEEP-D")))
    assert(led.enrich("device_serial")(resolve) == 3) // idempotent
    assert(serials(led) == s1)
    assert(led.read().count() == 4)
  }

  test("second concurrent writer fails fast; lock releases on completion and error") {
    val path = tmp()
    val led = new Ledger(spark, path)
    led.init(df(Seq(rec("a"), rec("b"))))
    val resolve = setSerials("a" -> "S-A") _
    // a writer holds the lock (as another process would mid-rewrite):
    // every mutating entry point must fail fast, before staging anything
    holdLock(path)
    for (op <- Seq(
      () => led.enrich("device_serial")(resolve),
      () => led.append(df(Seq(rec("z")))),
      () => led.markUploaded(Seq("G-1")))) {
      val e = intercept[java.util.ConcurrentModificationException](op())
      assert(e.getMessage.contains("locked by another writer"))
      assert(e.getMessage.contains("pid=999999"))
    }
    assert(orphanDirs(path).isEmpty,
      "a lock-blocked writer must not have staged anything")
    // stale-lock remediation + normal release
    val lock = new Path(path + "_lock")
    assert(led.forceReleaseLock())
    led.enrich("device_serial")(resolve)
    assert(!fs(path).exists(lock), "lock must release after a successful enrich")
    // lock releases even when the enrich itself fails (bad field)
    intercept[IllegalArgumentException](led.enrich("is_uploaded")(identity))
    assert(!fs(path).exists(lock), "lock must release when the guarded body throws")
    assert(serials(led)("a").contains("S-A"))
  }

  test("markUploaded flags whole dmp groups") {
    val path = tmp()
    val led = new Ledger(spark, path)
    led.init(df(Seq(rec("a", dmpId = Some("G1")), rec("b", dmpId = Some("G1")),
      rec("c", dmpId = Some("G2")), rec("d"))))
    led.markUploaded(Seq("G1"))
    val got = led.read().select($"manufacturer_ref", $"is_uploaded")
      .as[(String, Option[Boolean])].collect().toMap
    // d has no group yet: its flag stays false, not null
    assert(got == Map("a" -> Some(true), "b" -> Some(true), "c" -> Some(false),
      "d" -> Some(false)))
  }

  test("markUploaded with no ids publishes nothing") {
    val path = tmp()
    val led = new Ledger(spark, path)
    led.init(df(Seq(rec("a", dmpId = Some("G1")), rec("b", dmpId = Some("G2")))))
    val before = liveFiles(path)
    led.markUploaded(Seq.empty)
    assert(liveFiles(path) == before) // a publish writes new part files
    assert(orphanDirs(path).isEmpty)
    assert(led.read().filter($"is_uploaded").count() == 0)
  }

  test("an old bucket= layout fails fast at every entry point, naming the one-off rewrite") {
    val path = tmp()
    df(Seq(rec("a"), rec("b"))).withColumn("bucket", substring($"hash", 1, 1))
      .write.partitionBy("bucket").parquet(path)
    val led = new Ledger(spark, path)
    val before = liveFiles(path)
    for (op <- Seq(
      () => led.exists,
      () => led.read(),
      () => led.init(df(Seq(rec("z")))),
      () => led.append(df(Seq(rec("z")))),
      () => led.enrich("device_serial")(setSerials("a" -> "X")),
      () => led.markUploaded(Seq("G-1")))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("bucket=") &&
        e.getMessage.contains(".drop(\"bucket\")") && e.getMessage.contains("init"))
    }
    assert(liveFiles(path) == before && orphanDirs(path).isEmpty)
    // the rewrite the message gives
    val moved = tmp()
    new Ledger(spark, moved).init(spark.read.parquet(path).drop("bucket"))
    assert(new Ledger(spark, moved).read().select("manufacturer_ref").as[String]
      .collect().toSet == Set("a", "b"))
  }

  test("init splits its input between two flat parts; each row is in exactly one data file") {
    val path = tmp()
    val led = new Ledger(spark, path)
    // d is flagged but never resolved: it stays open
    led.init(df(Seq(done("a", "G1", uploaded = true), done("b", "G2"), rec("c"),
      rec("d", dmpId = Some("G3")).copy(_12 = true))))
    assert(partRefs(path) == Map("open" -> Seq("b", "c", "d"), "settled" -> Seq("a")))
    // flat parts, and no <column>=… directory for a hive-partitioned reader
    for (part <- Seq("open", "settled"))
      assert(!fs(path).listStatus(new Path(path, part)).exists(_.isDirectory))
    assert(fs(path).listStatus(new Path(path)).map(_.getPath.getName).toSet ==
      Set("open", "settled"))
    assert(led.read().columns.toSeq == cols)
    assert(led.read().select("manufacturer_ref").as[String].collect().sorted.toSeq ==
      Seq("a", "b", "c", "d"))
  }

  test("enrich never passes a settled row to resolve and counts settled rows from their footers") {
    val path = tmp()
    val led = new Ledger(spark, path)
    led.init(df(Seq(done("a", "G1", uploaded = true), done("b", "G2"), rec("c"))))
    var seen = Seq.empty[String]
    def spy(rows: DataFrame): DataFrame = {
      seen = rows.select("manufacturer_ref").as[String].collect().toSeq.sorted
      setSerials("c" -> "S-C")(rows)
    }
    assert(led.enrich("device_serial")(spy) == 3)
    assert(seen == Seq("b", "c"))
    // uploading b's group settles it: the next enrichment no longer sees it
    led.markUploaded(Seq("G2"))
    assert(partRefs(path) == Map("open" -> Seq("c"), "settled" -> Seq("a", "b")))
    assert(led.enrich("device_serial")(spy) == 3)
    assert(seen == Seq("c"))
    assert(serials(led) == Map("a" -> Some("S-a"), "b" -> Some("S-b"), "c" -> Some("S-C")))
    // every row settled: nothing left to map, the count comes from footers
    led.init(df(Seq(done("a", "G1", uploaded = true))))
    seen = Seq("unset")
    assert(led.enrich("dmp_id")(spy) == 1)
    assert(seen == Seq("unset"))
  }

  test("enrich refuses dmp_dataset, which no resolver fills") {
    val led = new Ledger(spark, tmp())
    led.init(df(Seq(rec("a"))))
    val e = intercept[IllegalArgumentException](led.enrich("dmp_dataset")(identity))
    assert(e.getMessage.contains("enrichable"))
  }

  test("a single-directory ledger of earlier versions fails fast at every entry point, naming the one-off rewrite") {
    val path = tmp()
    df(Seq(rec("a"), rec("b"))).write.parquet(path)
    val led = new Ledger(spark, path)
    val before = liveFiles(path)
    for (op <- Seq(
      () => led.exists,
      () => led.read(),
      () => led.init(df(Seq(rec("z")))),
      () => led.append(df(Seq(rec("z")))),
      () => led.enrich("device_serial")(setSerials("a" -> "X")),
      () => led.markUploaded(Seq("G-1")))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("single-directory") &&
        e.getMessage.contains(s"spark.read.parquet(\"$path\")") && e.getMessage.contains("init"))
    }
    assert(liveFiles(path) == before && orphanDirs(path).isEmpty)
    // the rewrite the message gives
    val moved = tmp()
    new Ledger(spark, moved).init(spark.read.parquet(path))
    assert(new Ledger(spark, moved).read().select("manufacturer_ref").as[String]
      .collect().toSet == Set("a", "b"))
  }

  test("recovery restores live stranded in trash by a crashed publish") {
    val path = tmp()
    val led = new Ledger(spark, path)
    led.init(df(Seq(rec("a"), rec("b"), rec("c"))))
    val before = led.read().orderBy("manufacturer_ref").collect().toSeq
    // simulate a kill between the two publish renames: the live table
    // moved to the trash dir, nothing moved in from staging yet
    val trash = new Path(path + "_trash_cafe01")
    assert(fs(path).rename(new Path(path), trash))
    // next entry to the ledger restores the stranded table and drops trash
    assert(led.read().orderBy("manufacturer_ref").collect().toSeq == before)
    assert(!fs(path).exists(trash))
  }

  test("read recovers only under the writer lock: a held lock leaves staging and trash alone") {
    val path = tmp()
    val led = new Ledger(spark, path)
    led.init(df(Seq(rec("a"), rec("b"))))
    val before = led.read().orderBy("manufacturer_ref").collect().toSeq
    // a writer mid-publish: it staged, moved live to trash, holds the lock
    val staging = new Path(path + "_staging_feed01")
    df(Seq(rec("a"), rec("b"))).write.parquet(staging.toString)
    val trash = new Path(path + "_trash_feed01")
    assert(fs(path).rename(new Path(path), trash))
    holdLock(path)
    val e = intercept[java.util.ConcurrentModificationException](led.read())
    assert(e.getMessage.contains("locked by another writer"))
    assert(fs(path).exists(staging) && fs(path).exists(trash))
    assert(!fs(path).exists(new Path(path)), "read must not restore mid-publish")
    // once the writer is confirmed gone, the next read recovers
    assert(led.forceReleaseLock())
    assert(led.read().orderBy("manufacturer_ref").collect().toSeq == before)
    assert(orphanDirs(path).isEmpty)
  }

  test("a stale staging dir from a crashed run cannot corrupt a later merge") {
    val path = tmp()
    val led = new Ledger(spark, path)
    led.init(df(Seq(rec("a"), rec("b"), rec("c"))))
    // simulate a previous run that crashed after staging: a leftover dir
    // with plausible-but-stale data and no publish
    df(Seq(rec("a", serial = Some("STALE-GARBAGE"))))
      .write.mode("overwrite").parquet(path + "_staging_deadbeef")
    val before = led.read().orderBy("manufacturer_ref").collect().toSeq
    led.enrich("device_serial")(setSerials("b" -> "S-B"))
    // only the intended update landed; nothing from the stale dir leaked
    assert(serials(led) == Map("a" -> None, "b" -> Some("S-B"), "c" -> None))
    assert(before.size == 3 && led.read().count() == 3)
  }
}

/** The contract at bare local paths, plus the filesystem check. */
class LedgerSpec extends LedgerContract("") {
  test("after init, append, enrich and append, every data file lists the stored column order") {
    val path = localTmp() + "/ledger"
    val led = new Ledger(spark, path)
    // hash after meta, as EtlJob's batch lists it
    def batch(refs: String*) = df(refs.map(rec(_)))
      .select(Seq("manufacturer_ref", "device_type", "start", "end", "meta", "hash",
        "device_serial", "device_id", "patient_id", "dmp_dataset", "dmp_id",
        "is_uploaded").map(col): _*)
    val stored = batch().columns.toSeq
    def orders() = Seq("open", "settled").map(p => new Path(path, p))
      .filter(fs(path).exists).flatMap(fs(path).listStatus(_))
      .filter(f => ParquetFooters.isData(f.getPath.getName))
      .map(f => spark.read.parquet(f.getPath.toString).columns.toSeq).distinct
    for ((step, op) <- Seq[(String, () => Unit)](
        "init" -> (() => led.init(batch("a", "b"))),
        "append" -> (() => led.append(batch("b", "c"))),
        "enrich" -> (() => led.enrich("device_serial")(setSerials("a" -> "S-A"))),
        "append" -> (() => led.append(batch("d"))))) {
      op()
      assert(orders() == Seq(stored), step)
    }
    assert(led.read().count() == 4)
  }

  test("a filesystem without an exclusive create and an atomic rename is refused before any write") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.rawtest.impl", classOf[RawLocalFileSystem].getName)
    val dir = localTmp()
    val e = intercept[IllegalArgumentException](
      new Ledger(spark, s"rawtest://$dir/ledger"))
    Seq("RawLocalFileSystem", "hdfs://", "NFS", "--ledger-format mongodb")
      .foreach(w => assert(e.getMessage.contains(w), e.getMessage))
    assert(new java.io.File(dir).list().isEmpty)
  }

  test("a crash at any step of a settling publish, then recovery, leaves each row in exactly one part") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashtest.impl", classOf[CrashingFileSystem].getName)
    var step = 0
    var crashed = true
    while (crashed) {
      val path = "crashtest://" + localTmp() + "/ledger"
      val led = new Ledger(spark, path)
      led.init(df(Seq(done("a", "G1"), done("b", "G1"), done("c", "G2"), rec("d"))))
      CrashingFileSystem.arm(step)
      crashed = try { led.markUploaded(Seq("G1")); CrashingFileSystem.fired }
        catch { case _: Exception => assert(CrashingFileSystem.fired); true }
        finally CrashingFileSystem.disarm()
      // the crashed writer is gone: release its lock, recover on entry
      led.forceReleaseLock()
      val refs = led.read().select("manufacturer_ref").as[String].collect().sorted.toSeq
      assert(refs == Seq("a", "b", "c", "d"), s"step $step")
      assert(partRefs(path).values.flatten.toSeq.sorted == refs, s"step $step: ${partRefs(path)}")
      assert(orphanDirs(path).isEmpty, s"step $step")
      // the rerun publishes what the crashed run meant to
      led.markUploaded(Seq("G1"))
      assert(partRefs(path) == Map("open" -> Seq("c", "d"), "settled" -> Seq("a", "b")),
        s"step $step")
      assert(led.read().filter($"is_uploaded").select("manufacturer_ref").as[String]
        .collect().sorted.toSeq == Seq("a", "b"), s"step $step")
      step += 1
    }
    // the lock, the staging write, the settled move and the open swap
    assert(step > 8, s"only $step steps")
  }
}

/** The contract at `file://` URIs. */
class LedgerFileUriSpec extends LedgerContract("file://")

/** The contract at the test-only `niotest:` scheme, which `java.io` cannot
  * resolve: a ledger file operation that bypasses Hadoop fails here. */
class LedgerNioSchemeSpec extends LedgerContract("niotest://") {
  spark.sparkContext.hadoopConfiguration
    .set("fs.niotest.impl", classOf[NioSchemeFileSystem].getName)
}

/** [[NioLocalFileSystem]] at the test-only `crashtest:` scheme that throws
  * at the armed rename, delete or mkdirs outside Spark's `_temporary`
  * dirs, as a writer killed at that step would stop there. */
class CrashingFileSystem extends NioLocalFileSystem(new NioLocalFileSystem.Raw {
  override def getUri: URI = URI.create("crashtest:///")
}) {
  override def rename(src: Path, dst: Path): Boolean = {
    CrashingFileSystem.step(src, dst); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashingFileSystem.step(p); super.delete(p, recursive)
  }
  override def mkdirs(p: Path): Boolean = { CrashingFileSystem.step(p); super.mkdirs(p) }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = {
    CrashingFileSystem.step(p); super.mkdirs(p, perm)
  }
}

object CrashingFileSystem {
  /** Steps before the crash; -1 when disarmed. */
  private val left = new AtomicInteger(-1)
  @volatile var fired = false

  def arm(steps: Int): Unit = { fired = false; left.set(steps) }
  def disarm(): Unit = left.set(-1)

  private def step(paths: Path*): Unit =
    if (!paths.exists(_.toString.contains("_temporary")) &&
        left.getAndUpdate(n => if (n >= 0) n - 1 else n) == 0) {
      fired = true
      throw new java.io.IOException(s"injected crash at ${paths.mkString(" -> ")}")
    }
}

/** [[NioLocalFileSystem]] serving the `niotest:` scheme. */
class NioSchemeFileSystem extends NioLocalFileSystem(new NioLocalFileSystem.Raw {
  override def getUri: URI = URI.create("niotest:///")
})
