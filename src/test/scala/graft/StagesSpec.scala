package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.etl.Stages
import graft.sources.LookupCsv

/** Pins the reference's pipeline-stage semantics over the canonical
  * NR1_DEVICE fixture (tests/hooks/conftest.py:86-118, FIXTURES.md §3) and
  * the no-override guards (tests/hooks/test_db.py:16-47).
  */
class StagesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** NR1_DEVICE assignments in payload order (ordinal = list position). */
  private def nr1Assignments: DataFrame = Seq(
    ("NR1_DEVICE", "A-PATIENT", ts("2021-11-10 00:00:00"), None, 0),
    ("NR1_DEVICE", "B-PATIENT", ts("2021-11-04 00:00:00"), Some(ts("2021-11-06 00:00:00")), 1),
    ("NR1_DEVICE", "C-PATIENT", ts("2021-11-06 00:00:00"), Some(ts("2021-11-07 00:00:00")), 2))
    .toDF("device_id", "patient_id", "start_wear", "end_wear", "ordinal")

  private def records(cases: Seq[(String, String)]): DataFrame =
    cases.zipWithIndex.map { case ((s, e), i) =>
      (s"h$i", s"ref$i", "DRM", ts(s), ts(e), "NR1_DEVICE")
    }.toDF("hash", "manufacturer_ref", "device_type", "start", "end", "device_id")
      .withColumn("patient_id", lit(null).cast("string"))

  test("wear-period containment matches the reference's 6 pinned cases (raw times)") {
    // tests/hooks/test_ucam_hook.py:81-110 — inner get_patient_by_wear_period
    // semantics: record endpoints NOT day-normalised, payload-order first match.
    val cases = Seq(
      ("2021-11-04 12:00:00", "2021-11-05 12:00:00") -> Some("B-PATIENT"),
      ("2021-11-06 22:00:00", "2021-11-06 23:00:00") -> Some("C-PATIENT"),
      ("2021-11-13 00:00:00", "2021-11-14 00:00:00") -> Some("A-PATIENT"),
      ("2021-11-01 00:00:00", "2021-11-01 00:00:00") -> None,
      ("2021-11-03 00:00:00", "2021-11-04 12:00:00") -> None,
      ("2021-11-06 13:00:00", "2021-11-08 00:00:00") -> None)
    val got = Stages.resolvePatients(records(cases.map(_._1)), nr1Assignments,
      today = "2022-01-01", normaliseRecordDays = false,
      firstMatchOrder = "ordinal")
      .select($"manufacturer_ref", $"patient_id")
      .as[(String, Option[String])].collect().toMap
    cases.zipWithIndex.foreach { case ((_, expected), i) =>
      assert(got(s"ref$i") == expected, s"case $i")
    }
  }

  test("pipeline path day-normalises record endpoints (resolve_patient_id)") {
    // With day normalization the evening record's day (11-06) falls inside
    // BOTH B and C; deterministic (start_wear, patient_id) order picks B.
    val got = Stages.resolvePatients(
      records(Seq(("2021-11-06 22:00:00", "2021-11-06 23:00:00"))),
      nr1Assignments, today = "2022-01-01")
      .select($"patient_id").as[Option[String]].head()
    assert(got.contains("B-PATIENT"))
  }

  test("resolvePatients: a null-patient assignment can never win a first-match tie") {
    // two assignments tied on start_wear; the null-patient one must lose
    // (struct-min would otherwise sort the null field first and return a
    // NULL enrichment — the record would then silently never group/upload)
    val asg = Seq(
      ("NR1_DEVICE", null: String, ts("2021-11-04 00:00:00"), Some(ts("2021-11-08 00:00:00"))),
      ("NR1_DEVICE", "P-REAL", ts("2021-11-04 00:00:00"), Some(ts("2021-11-08 00:00:00"))))
      .toDF("device_id", "patient_id", "start_wear", "end_wear")
    val got = Stages.resolvePatients(
      records(Seq(("2021-11-05 10:00:00", "2021-11-05 12:00:00"))),
      asg, today = "2022-01-01")
      .select($"patient_id").as[Option[String]].head()
    assert(got.contains("P-REAL"))
  }

  test("resolvePatients: a null-patient EARLIEST assignment blocks later ones") {
    // first-match is by order value alone: when the min-start_wear covering
    // assignment has a NULL patient, the record gets NULL enrichment — it
    // must NOT fall through to the later assignment's patient (wrong-patient
    // attribution). Mirrors the oracle's ORDER BY start_wear ... rn = 1.
    val asg = Seq(
      ("NR1_DEVICE", null: String, ts("2021-11-03 00:00:00"), Some(ts("2021-11-08 00:00:00"))),
      ("NR1_DEVICE", "P-LATER", ts("2021-11-04 00:00:00"), Some(ts("2021-11-08 00:00:00"))))
      .toDF("device_id", "patient_id", "start_wear", "end_wear")
    val got = Stages.resolvePatients(
      records(Seq(("2021-11-05 10:00:00", "2021-11-05 12:00:00"))),
      asg, today = "2022-01-01")
      .select($"patient_id").as[Option[String]].head()
    assert(got.isEmpty,
      "null-patient first match must yield NULL enrichment, not the later patient")
  }

  test("resolvePatients: records sharing a hash still resolve on their own devices") {
    // the resolver keys nothing on `hash`: two records that carry one hash
    // (recordHash concatenates without a separator, so callers outside the
    // ledger can produce that) each get their own device's patient
    val recs = Seq(("r1", "D1"), ("r2", "D2"))
      .toDF("manufacturer_ref", "device_id")
      .select(lit("H").as("hash"), $"manufacturer_ref", $"device_id",
        lit(ts("2021-11-05 10:00:00")).as("start"),
        lit(ts("2021-11-05 12:00:00")).as("end"),
        lit(null).cast("string").as("patient_id"))
    val asg = Seq(
      ("D1", "P1", ts("2021-11-01 00:00:00"), Some(ts("2021-11-08 00:00:00"))),
      ("D2", "P2", ts("2021-11-02 00:00:00"), Some(ts("2021-11-08 00:00:00"))))
      .toDF("device_id", "patient_id", "start_wear", "end_wear")
    val got = Stages.resolvePatients(recs, asg, today = "2022-01-01")
      .select($"manufacturer_ref", $"patient_id")
      .as[(String, Option[String])].collect().toMap
    assert(got == Map("r1" -> Some("P1"), "r2" -> Some("P2")))
  }

  test("ingestDedup anti-joins on the sha256 identity") {
    val incoming = Seq(("r1", "DRM"), ("r2", "DRM"), ("r3", "DRM"), ("r4", "DRM"))
      .toDF("manufacturer_ref", "device_type")
    val ledger = incoming.limit(2).select(
      sha2(concat($"device_type", $"manufacturer_ref"), 256).as("hash"))
    val fresh = Stages.ingestDedup(incoming, ledger)
    assert(fresh.select("manufacturer_ref").as[String].collect().toSet == Set("r3", "r4"))
  }

  test("resolveSerials / resolveDeviceIds never override set values") {
    // tests/hooks/test_db.py:16-47 no-override guards
    val recs = Seq(
      ("h1", Map("dreem_uid" -> "U1"), Some("KEEP-ME"), None: Option[String]),
      ("h2", Map("dreem_uid" -> "U1"), None: Option[String], None: Option[String]),
      ("h3", Map[String, String](), None: Option[String], None: Option[String]))
      .toDF("hash", "meta", "device_serial", "device_id")
    val uidSerial = Seq(("U1", "S1")).toDF("uid", "serial")
    val serialToId = Seq(("S1", "DEV1"), ("KEEP-ME", "DEV-K")).toDF("serial", "device_id")
    val r1 = Stages.resolveSerials(recs, uidSerial)
    val bySerial = r1.select($"hash", $"device_serial")
      .as[(String, Option[String])].collect().toMap
    assert(bySerial("h1").contains("KEEP-ME")) // not overridden
    assert(bySerial("h2").contains("S1"))      // advanced
    assert(bySerial("h3").isEmpty)             // no uid → stays null
    val r2 = Stages.resolveDeviceIds(r1, serialToId)
    val byDev = r2.select($"hash", $"device_id")
      .as[(String, Option[String])].collect().toMap
    assert(byDev("h1").contains("DEV-K"))
    assert(byDev("h2").contains("DEV1"))
    assert(byDev("h3").isEmpty)
  }

  test("groupRecords assigns dmp_id only to fully-enriched rows") {
    val recs = Seq(
      ("h1", "DEV-1", "P-1", "2021-11-29 13:00:00"),
      ("h2", null, "P-1", "2021-11-29 13:00:00"))
      .toDF("hash", "device_id", "patient_id", "s")
      .withColumn("start", $"s".cast("timestamp"))
      .withColumn("dmp_id", lit(null).cast("string"))
    val got = Stages.groupRecords(recs, "12:00:00")
      .select($"hash", $"dmp_id").as[(String, Option[String])].collect().toMap
    assert(got("h1").contains("DEV1-P1-20211129-20211130"))
    assert(got("h2").isEmpty)
  }

  test("uploadManifest lists unfinished groups with partial-upload flag") {
    val recs = Seq(
      ("g1", "r1", false), ("g1", "r2", true),   // partial → listed, any=true
      ("g2", "r3", true), ("g2", "r4", true),    // done → excluded
      ("g3", "r5", false))                       // untouched → listed
      .toDF("dmp_id", "manufacturer_ref", "is_uploaded")
    val got = Stages.uploadManifest(recs)
      .select($"dmp_id", $"n_records", $"any_uploaded")
      .as[(String, Long, Boolean)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(("g1", 2L, true), ("g3", 1L, false)))
    // reference mode: partial groups skipped (the NotImplementedError path)
    val strict = Stages.uploadManifest(recs, skipPartial = true)
      .select($"dmp_id").as[String].collect()
    assert(strict.toSeq == Seq("g3"))
  }

  test("stringNullIsMissing quirk: uid 'null' treated as absent (db.py:164)") {
    val recs = Seq(
      ("h1", Map("dreem_uid" -> "null"), None: Option[String]),
      ("h2", Map("dreem_uid" -> "U1"), None: Option[String]))
      .toDF("hash", "meta", "device_serial")
    val lk = Seq(("null", "S-BAD"), ("U1", "S1")).toDF("uid", "serial")
    val loose = Stages.resolveSerials(recs, lk)
      .select($"hash", $"device_serial").as[(String, Option[String])].collect().toMap
    assert(loose("h1").contains("S-BAD")) // sane semantics: matches
    val quirk = Stages.resolveSerials(recs, lk, stringNullIsMissing = true)
      .select($"hash", $"device_serial").as[(String, Option[String])].collect().toMap
    assert(quirk("h1").isEmpty)           // reference semantics: missing
    assert(quirk("h2").contains("S1"))
  }

  test("assignDataset overrides from the config mapping for grouped rows") {
    val recs = Seq(("h1", Some("G1"), None: Option[String]),
      ("h2", None: Option[String], None: Option[String]))
      .toDF("hash", "dmp_id", "dmp_dataset")
    val got = Stages.assignDataset(recs, Map("TEST" -> "ds-123"), "TEST")
      .select($"hash", $"dmp_dataset").as[(String, Option[String])].collect().toMap
    assert(got == Map("h1" -> Some("ds-123"), "h2" -> None))
    assertThrows[NoSuchElementException](
      Stages.assignDataset(recs, Map("OTHER" -> "x"), "TEST"))
  }

  test("LookupCsv.read: duplicate keys keep the smallest value; the lookup join shuffles nothing") {
    val dir = Files.createTempDirectory("graft-lookup")
    // two files, so the scan has two partitions; K1 is in both
    Files.write(dir.resolve("a.csv"), "K1,V9\nK2,V2\n".getBytes)
    Files.write(dir.resolve("b.csv"), "K1,V1\nK3,V3\nK3,V0\n".getBytes)
    val lk = LookupCsv.read(spark, dir.toString, "key", "value")
    assert(lk.as[(String, String)].collect().toMap ==
      Map("K1" -> "V1", "K2" -> "V2", "K3" -> "V0"))
    val joined = Seq("K1", "K3", "K4").toDF("k").join(lk, $"k" === $"key", "left")
    assert(joined.select($"k", $"value").as[(String, Option[String])].collect().toMap ==
      Map("K1" -> Some("V1"), "K3" -> Some("V0"), "K4" -> None))
    object Plans extends AdaptiveSparkPlanHelper
    val plan = joined.queryExecution.executedPlan
    assert(Plans.collectWithSubqueries(plan) { case s: ShuffleExchangeExec => s }.isEmpty,
      plan.toString)
  }
}
