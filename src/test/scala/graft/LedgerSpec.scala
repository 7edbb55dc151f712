package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ledger.Ledger

/** Ledger semantics: append-dedup, no-override enrichment (idempotent),
  * group upload flags — the reference's Mongo collection contract
  * (db.py:66-231, tests/hooks/test_db.py) on bucketed parquet.
  */
class LedgerSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-ledger").toString + "/ledger"

  private def rec(ref: String, serial: Option[String] = None,
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

  private def df(rows: Seq[(String, String, String, Timestamp, Timestamp, Map[String, String], Option[String], Option[String], Option[String], Option[String], Option[String], Boolean)]): DataFrame =
    rows.toDF(cols: _*)

  /** A resolver that overwrites `device_serial` unconditionally — the given
    * refs get their serial, every other row gets null — so any value that
    * survives an existing one is the store's no-override guard at work. */
  private def setSerials(serials: (String, String)*)(rows: DataFrame): DataFrame =
    rows.withColumn("device_serial", serials.foldLeft(lit(null).cast("string")) {
      case (v, (ref, serial)) => when($"manufacturer_ref" === ref, serial).otherwise(v)
    })

  test("append deduplicates by hash") {
    val path = tmp()
    val led = new Ledger(spark, path)
    led.init(df(Seq(rec("a"), rec("b"))))
    assert(led.append(df(Seq(rec("b"), rec("c")))) == 1)
    assert(led.read().count() == 3)
    assert(led.read().select("manufacturer_ref").as[String].collect().toSet
      == Set("a", "b", "c"))
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
    assert(!new java.io.File(s"${path}_lock").exists())
  }

  test("enrich fills nulls, existing values win, is idempotent; returns the rows carrying the field") {
    val path = tmp()
    val led = new Ledger(spark, path)
    led.init(df(Seq(rec("a", serial = Some("KEEP")), rec("b"), rec("c"),
      rec("d", serial = Some("KEEP-D")))))
    // the resolver clobbers a, fills b, leaves c null and nulls d
    val resolve = setSerials("a" -> "NEW", "b" -> "S-B") _
    assert(led.enrich("device_serial")(resolve) == 3)
    assert(stagingDirs(path).isEmpty) // the publish leaves no staging/trash
    def state() = led.read().select($"manufacturer_ref", $"device_serial")
      .as[(String, Option[String])].collect().toMap
    val s1 = state()
    assert(s1 == Map("a" -> Some("KEEP"), "b" -> Some("S-B"), "c" -> None,
      "d" -> Some("KEEP-D")))
    assert(led.enrich("device_serial")(resolve) == 3) // idempotent
    assert(state() == s1)
    assert(led.read().count() == 4)
  }

  test("second concurrent writer fails fast; lock releases on completion and error") {
    val path = tmp()
    val led = new Ledger(spark, path)
    led.init(df(Seq(rec("a"), rec("b"))))
    val resolve = setSerials("a" -> "S-A") _
    // a writer holds the lock (as another process would mid-rewrite):
    // every mutating entry point must fail fast, before staging anything
    val lock = new java.io.File(s"${path}_lock")
    assert(lock.createNewFile())
    java.nio.file.Files.writeString(lock.toPath, "pid=999999 op=test")
    for (op <- Seq(
      () => led.enrich("device_serial")(resolve),
      () => led.append(df(Seq(rec("z")))),
      () => led.markUploaded(Seq("G-1").toDF("dmp_id")))) {
      val e = intercept[java.util.ConcurrentModificationException](op())
      assert(e.getMessage.contains("locked by another writer"))
    }
    assert(Option(new java.io.File(path).getParentFile.listFiles())
      .getOrElse(Array.empty).count(_.getName.contains("_staging_")) == 0,
      "a lock-blocked writer must not have staged anything")
    // stale-lock remediation + normal release
    assert(led.forceReleaseLock())
    led.enrich("device_serial")(resolve)
    assert(!lock.exists(), "lock must release after a successful enrich")
    // lock releases even when the enrich itself fails (bad field)
    intercept[IllegalArgumentException](led.enrich("is_uploaded")(identity))
    assert(!lock.exists(), "lock must release when the guarded body throws")
    val got = led.read().select($"manufacturer_ref", $"device_serial")
      .as[(String, Option[String])].collect().toMap
    assert(got("a").contains("S-A"))
  }

  private def stagingDirs(path: String): Seq[java.io.File] = {
    val parent = new java.io.File(path).getParentFile
    val base = new java.io.File(path).getName
    parent.listFiles().toSeq.filter(f =>
      f.getName.startsWith(base + "_staging_") || f.getName.startsWith(base + "_trash_"))
  }

  test("markUploaded flags whole dmp groups") {
    val path = tmp()
    val led = new Ledger(spark, path)
    led.init(df(Seq(rec("a", dmpId = Some("G1")), rec("b", dmpId = Some("G1")),
      rec("c", dmpId = Some("G2")))))
    led.markUploaded(Seq("G1").toDF("dmp_id"))
    val got = led.read().select($"manufacturer_ref", $"is_uploaded")
      .as[(String, Boolean)].collect().toMap
    assert(got == Map("a" -> true, "b" -> true, "c" -> false))
  }

  test("markUploaded rewrites only buckets containing the dmp group") {
    val path = tmp()
    val led = new Ledger(spark, path)
    // enough rows to populate many hash-prefix buckets
    val rows = (0 until 64).map(i =>
      rec(s"r$i", dmpId = Some(if (i == 0) "G1" else "G2")))
    led.init(df(rows))
    // bucket of the single G1 record
    val g1Hash = rows.head._1
    val g1Bucket = "bucket=" + g1Hash.substring(0, 1)
    def bucketFiles(): Map[String, Seq[(String, Long)]] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName ->
          d.listFiles().toSeq.map(f => (f.getName, f.lastModified())).sorted)
        .toMap
    val before = bucketFiles()
    led.markUploaded(Seq("G1").toDF("dmp_id"))
    val after = bucketFiles()
    assert(before.keySet == after.keySet)
    // untouched buckets: identical file names AND mtimes (never rewritten)
    before.keySet.filterNot(_ == g1Bucket).foreach { b =>
      assert(before(b) == after(b), s"bucket $b was rewritten")
    }
    assert(before(g1Bucket) != after(g1Bucket)) // the affected one did change
    val got = led.read().filter($"is_uploaded").select($"manufacturer_ref")
      .as[String].collect().toSeq
    assert(got == Seq("r0"))
  }

  test("bucketWidth=2 lays out 2-hex-char buckets and markUploaded rewrites only touched ones") {
    val path = tmp()
    val led = new Ledger(spark, path, bucketWidth = 2)
    val rows = (0 until 64).map(i =>
      rec(s"r$i", dmpId = Some(if (i == 0) "G1" else "G2")))
    led.init(df(rows))
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName).toSeq
    assert(dirs.nonEmpty && dirs.forall(_.stripPrefix("bucket=").length == 2))
    def bucketFiles(): Map[String, Seq[(String, Long)]] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName ->
          d.listFiles().toSeq.map(f => (f.getName, f.lastModified())).sorted)
        .toMap
    val targetBucket = "bucket=" + rows.head._1.substring(0, 2)
    val before = bucketFiles()
    led.markUploaded(Seq("G1").toDF("dmp_id"))
    val after = bucketFiles()
    assert(before.keySet == after.keySet)
    before.keySet.filterNot(_ == targetBucket).foreach { b =>
      assert(before(b) == after(b), s"bucket $b was rewritten")
    }
    assert(before(targetBucket) != after(targetBucket))
    val got = led.read().filter($"is_uploaded").select($"manufacturer_ref")
      .as[String].collect().toSeq
    assert(got == Seq("r0"))
  }

  test("opening a ledger at a mismatched bucketWidth fails fast, not silently") {
    val path = tmp()
    new Ledger(spark, path, bucketWidth = 2).init(df(Seq(rec("a"), rec("b"))))
    val wrong = new Ledger(spark, path) // default width 1 vs on-disk 2
    val e = intercept[IllegalArgumentException](
      wrong.enrich("device_serial")(setSerials("a" -> "X")))
    assert(e.getMessage.contains("width"))
  }

  test("recovery restores a bucket stranded in trash by a crashed publish") {
    val path = tmp()
    val led = new Ledger(spark, path)
    led.init(df(Seq(rec("a"), rec("b"), rec("c"))))
    val before = led.read().orderBy("manufacturer_ref").collect().toSeq
    // simulate a kill between the two publish renames: one live bucket dir
    // moved to the trash dir, nothing moved in from staging yet
    val bucketDir = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("bucket=")).head
    val trash = new java.io.File(path + "_trash_cafe01")
    trash.mkdirs()
    java.nio.file.Files.move(bucketDir.toPath,
      new java.io.File(trash, bucketDir.getName).toPath)
    // next entry to the ledger restores the stranded bucket and drops trash
    assert(led.read().orderBy("manufacturer_ref").collect().toSeq == before)
    assert(!trash.exists())
  }

  test("a stale staging dir from a crashed run cannot corrupt a later merge") {
    val path = tmp()
    val led = new Ledger(spark, path)
    led.init(df(Seq(rec("a"), rec("b"), rec("c"))))
    // simulate a previous run that crashed after staging: a leftover dir
    // with plausible-but-stale bucket data and no publish
    val stale = new java.io.File(path + "_staging_deadbeef")
    df(Seq(rec("a", serial = Some("STALE-GARBAGE"))))
      .withColumn("bucket", substring($"hash", 1, 1))
      .write.partitionBy("bucket").mode("overwrite").parquet(stale.getPath)
    val before = led.read().orderBy("manufacturer_ref").collect().toSeq
    led.enrich("device_serial")(setSerials("b" -> "S-B"))
    val got = led.read().select($"manufacturer_ref", $"device_serial")
      .as[(String, Option[String])].collect().toMap
    // only the intended update landed; nothing from the stale dir leaked
    assert(got == Map("a" -> None, "b" -> Some("S-B"), "c" -> None))
    assert(before.size == 3 && led.read().count() == 3)
  }
}
