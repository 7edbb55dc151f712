package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ledger.MongoLedger

/** The non-default ledger storage strategy, [[MongoLedger]] — the
  * reference's actual store: the round-trip runs against a live Mongo +
  * connector jar when `GRAFT_MONGO_URI` is set, else against an offline
  * fake with Mongo's keyed-write semantics.
  */
class LedgerStoreSpec extends SparkSpec {
  import spark.implicits._

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

  test("MongoLedger round-trip (live store when GRAFT_MONGO_URI, else offline fake)") {
    // Same assertions either way: against a live Mongo + connector when
    // configured, else against the filesystem-backed transport that
    // implements Mongo's keyed-write semantics — the round trip always
    // runs, nothing cancels offline.
    val led = sys.env.get("GRAFT_MONGO_URI") match {
      case Some(uri) => new MongoLedger(spark, uri, "graft_test",
        s"ledger_${System.nanoTime()}")
      case None => MongoLedger.forTransport(spark, new FakeDocTransport(
        spark, java.nio.file.Files.createTempDirectory("graft_mongo_rt")))
    }
    assert(!led.exists)
    led.init(df(Seq(rec("a"), rec("b"))))
    assert(led.exists)
    led.append(df(Seq(rec("b"), rec("c", dmpId = Some("G1")))))
    assert(led.read().count() == 3)

    assert(led.enrich("device_serial")(
      setSerials("a" -> "NEW", "b" -> "S-B")) == 2)
    def serials() = led.read().select($"manufacturer_ref", $"device_serial")
      .as[(String, Option[String])].collect().toMap
    val s1 = serials()
    assert(s1 == Map("a" -> Some("NEW"), "b" -> Some("S-B"), "c" -> None))
    // a second resolver clobbers a, nulls b and fills c
    assert(led.enrich("device_serial")(setSerials("a" -> "CLOBBER",
      "c" -> "S-C")) == 3)
    val s2 = serials()
    assert(s2 == Map("a" -> Some("NEW"), "b" -> Some("S-B"), // existing wins
      "c" -> Some("S-C")))
    assert(led.enrich("device_serial")(setSerials()) == 3) // idempotent
    assert(serials() == s2)
    assert(led.read().count() == 3)  // replace-upsert never duplicates

    led.markUploaded(Seq("G1"))
    val up = led.read().select($"manufacturer_ref", $"is_uploaded")
      .as[(String, Boolean)].collect().toMap
    assert(up == Map("a" -> false, "b" -> false, "c" -> true))
  }

  test("MongoLedger.append creates an absent collection and returns the rows it wrote; a redelivered batch writes 0") {
    val led = MongoLedger.forTransport(spark, new FakeDocTransport(
      spark, java.nio.file.Files.createTempDirectory("graft_mongo_append")))
    assert(!led.exists)
    assert(led.append(df(Seq(rec("a"), rec("b")))) == 2)
    assert(led.exists)
    assert(led.append(df(Seq(rec("a"), rec("b")))) == 0)
    assert(led.read().count() == 2)
    assert(led.append(df(Seq(rec("b"), rec("c")))) == 1)
    assert(led.read().count() == 3)
  }

  test("MongoLedger.append stores a hash its batch holds twice once, and counts it once") {
    val led = MongoLedger.forTransport(spark, new FakeDocTransport(
      spark, java.nio.file.Files.createTempDirectory("graft_mongo_twice")))
    led.init(df(Seq(rec("a"))))
    assert(led.append(df(Seq(rec("a"), rec("b"), rec("b")))) == 1)
    assert(led.read().groupBy("hash").count().collect().map(_.getLong(1)).toSeq == Seq(1L, 1L))
  }

  test("FakeDocTransport pins insert_many(ordered=False): non-duplicates land, then the duplicate-key error raises") {
    val t = new FakeDocTransport(spark,
      java.nio.file.Files.createTempDirectory("graft_mongo_dup"))
    t.overwrite(df(Seq(rec("a"), rec("b"))))
    val e = intercept[t.DuplicateKeyException] {
      t.insert(df(Seq(rec("b"), rec("c"))))
    }
    assert(e.getMessage.contains("duplicate key"))
    // the non-duplicate document c landed BEFORE the error surfaced
    assert(t.load().count() == 3)
    // a key the batch repeats: its first copy lands, then the error
    intercept[t.DuplicateKeyException](t.insert(df(Seq(rec("d"), rec("d")))))
    assert(t.load().count() == 4)
  }
}
