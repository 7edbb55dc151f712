package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.connect.FileTransfer
import graft.etl.Stages
import graft.functions.Etl
import graft.ledger.Ledger
import graft.sources.LookupCsv

/** The composed pipeline the reference never tests end-to-end
  * (SURVEY.md §5.3.4): synthetic device metadata + lookup CSVs +
  * assignments → ingest → enrich (3 joins) → group → manifest →
  * download/zip/upload → mark uploaded — all through the mutable Ledger,
  * with a second run proving incremental idempotence.
  */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  test("full dreem-chain run advances the ledger to uploaded; rerun is a no-op") {
    val base = Files.createTempDirectory("graft-e2e").toString
    val ledger = new Ledger(spark, s"$base/ledger")

    // lookup CSVs, as the reference ships them (dummy/*.csv)
    Files.write(Paths.get(base, "uid_serial.csv"), "U1,S1\nU2,S2\n".getBytes)
    Files.write(Paths.get(base, "serial_id.csv"), "S1,DEV-1\nS2,DEV-2\n".getBytes)
    val uidSerial = LookupCsv.read(spark, s"$base/uid_serial.csv", "uid", "serial")
    val serialToId = LookupCsv.read(spark, s"$base/serial_id.csv", "serial", "device_id")

    val assignments = Seq(
      ("DEV-1", "P-A", Timestamp.valueOf("2021-11-01 00:00:00"), None),
      ("DEV-2", "P-B", Timestamp.valueOf("2021-11-01 00:00:00"),
        Some(Timestamp.valueOf("2021-11-30 00:00:00"))))
      .toDF("device_id", "patient_id", "start_wear", "end_wear")

    def incoming = Seq(
      ("r1", "U1", "2021-11-10 13:00:00"),
      ("r2", "U2", "2021-11-10 14:00:00"),
      ("r3", "U9", "2021-11-10 15:00:00")) // unknown uid → stays unresolved
      .toDF("manufacturer_ref", "uid", "s")
      .select(
        col("manufacturer_ref"),
        lit("DRM").as("device_type"),
        col("s").cast("timestamp").as("start"),
        (col("s").cast("timestamp") + expr("INTERVAL 2 HOURS")).as("end"),
        map(lit("dreem_uid"), col("uid")).as("meta"),
        lit(null).cast("string").as("device_serial"),
        lit(null).cast("string").as("device_id"),
        lit(null).cast("string").as("patient_id"),
        lit(null).cast("string").as("dmp_dataset"),
        lit(null).cast("string").as("dmp_id"),
        lit(false).as("is_uploaded"))

    def runPipeline(): Long = {
      // ingest (J1+S7): first run inserts 3; rerun inserts 0
      val ingested = ledger.append(incoming.withColumn("hash",
        Etl.recordHash(col("device_type"), col("manufacturer_ref"))))
      // enrich: each stage resolves over the ledger, existing values win
      ledger.enrich("device_serial")(Stages.resolveSerials(_, uidSerial))
      ledger.enrich("device_id")(Stages.resolveDeviceIds(_, serialToId))
      ledger.enrich("patient_id")(
        Stages.resolvePatients(_, assignments, today = "2021-12-01"))
      ledger.enrich("dmp_id")(Stages.groupRecords(_, cutOff = "12:00:00"))
      // extract-prep-load over unfinished groups: the transfer runs once,
      // and each push leaves a marker named after its group
      val manifest = Stages.uploadManifest(ledger.read())
      val results = FileTransfer.executePlan(spark, manifest, s"$base/work",
        fetch = (ref, path) => { Files.write(path, ref.getBytes); true },
        push = (dmpId, zip) => {
          Files.createTempFile(Paths.get(base, "pushes"), dmpId + "~", "")
          Files.size(zip) > 0
        })
      ledger.markUploaded(results.filter(col("uploaded"))
        .select("dmp_id").as[String].collect().toSeq)
      ingested
    }
    Files.createDirectory(Paths.get(base, "pushes"))
    def pushes(): Seq[String] = new java.io.File(s"$base/pushes").list()
      .map(_.takeWhile(_ != '~')).toSeq.sorted

    assert(runPipeline() == 3)
    // one push per group, none repeated
    assert(pushes() == Seq("DEV1-PA-20211110-20211111", "DEV2-PB-20211110-20211111"))
    val after1 = ledger.read()
      .select($"manufacturer_ref", $"device_serial", $"device_id",
        $"patient_id", $"dmp_id", $"is_uploaded")
      .as[(String, Option[String], Option[String], Option[String], Option[String], Boolean)]
      .collect().map(t => t._1 -> t).toMap

    assert(after1("r1") == (("r1", Some("S1"), Some("DEV-1"), Some("P-A"),
      Some("DEV1-PA-20211110-20211111"), true)))
    assert(after1("r2") == (("r2", Some("S2"), Some("DEV-2"), Some("P-B"),
      Some("DEV2-PB-20211110-20211111"), true)))
    // unknown uid: never advanced, never uploaded
    assert(after1("r3") == (("r3", None, None, None, None, false)))

    assert(runPipeline() == 0) // incremental rerun: same inputs → identical state
    assert(pushes().size == 2) // nothing left to send
    val after2 = ledger.read()
      .select($"manufacturer_ref", $"device_serial", $"device_id",
        $"patient_id", $"dmp_id", $"is_uploaded")
      .as[(String, Option[String], Option[String], Option[String], Option[String], Boolean)]
      .collect().map(t => t._1 -> t).toMap
    assert(after2 == after1)
    assert(ledger.read().count() == 3)
  }
}
