package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** JVM-global request log: executePlan serializes the transport into
  * executor tasks (copies, even in local mode), so a per-instance log never
  * sees executor traffic — a singleton object does (same JVM at local[*]).
  */
object EtlJobSpecLog {
  val log = new java.util.concurrent.ConcurrentLinkedQueue[graft.connect.HttpRequest]()
}

/** Top-level (no outer pointer) so the executor-serialized closure carries
  * only the scripted mock, while recording globally.
  */
class RecordingTransport(inner: graft.connect.MockTransport)
  extends graft.connect.Transport {
  override def send(r: graft.connect.HttpRequest): graft.connect.HttpResponse = {
    // materialize streamed bodies: the sender deletes its temp body file
    // right after send returns, but assertions read the log later
    EtlJobSpecLog.log.add(r.copy(body = r.effectiveBody))
    inner.send(r)
  }
}

/** The shared live-transfer fixture: the connector flags EtlJob needs for
  * task 6, and a scripted transport answering them — DRM and DMP tokens,
  * record → data_url, CDN payload bytes, GraphQL upload — with every
  * request recorded in EtlJobSpecLog. Top-level for the same reason as
  * RecordingTransport.
  */
object EtlJobSpecLive {
  import scala.jdk.CollectionConverters._

  import graft.connect.{HttpRequest, HttpResponse, MockTransport}

  val flags: Map[String, String] = Map(
    "drm-base" -> "https://drm", "drm-jwt-url" -> "https://drm/token",
    "dmp-url" -> "https://dmp/graphql", "dmp-jwt-url" -> "https://dmp/token",
    "dmp-dataset" -> "STUDY1")

  private def jwtTok(exp: Long): String = {
    val enc = java.util.Base64.getUrlEncoder.withoutPadding()
    enc.encodeToString("""{"alg":"none"}""".getBytes) + "." +
      enc.encodeToString(s"""{"exp":$exp}""".getBytes) + ".s"
  }

  def transport(): RecordingTransport = {
    val tok = jwtTok(System.currentTimeMillis() / 1000 + 3600)
    new RecordingTransport(new MockTransport(Seq(
      { case r if r.url == "https://drm/token" =>
          HttpResponse(200, body = s"""{"token": "$tok"}""".getBytes) },
      { case r if r.url == "https://dmp/token" =>
          HttpResponse(200, body =
            s"""{"data": {"issueAccessToken": {"accessToken": "$tok"}}}""".getBytes) },
      { case r if r.url.matches("https://drm/dreem/algorythm/record/[^/]+/h5/") =>
          val ref = r.url.split("/")(6)
          HttpResponse(200, body = s"""{"data_url": "https://cdn/$ref"}""".getBytes) },
      { case r if r.url.startsWith("https://cdn/") =>
          HttpResponse(200, body = ("payload-" + r.url.split("/").last).getBytes) },
      { case r if r.url == "https://dmp/graphql" && r.method == "POST" =>
          HttpResponse(200, body = "{}".getBytes) })))
  }

  /** The refs whose payload was downloaded since the log was cleared. */
  def fetchedRefs(): Set[String] =
    EtlJobSpecLog.log.asScala.map(_.url).filter(_.startsWith("https://cdn/"))
      .map(_.split("/").last).toSet

  /** The upload POSTs since the log was cleared. */
  def uploads(): Seq[HttpRequest] = EtlJobSpecLog.log.asScala
    .filter(r => r.url == "https://dmp/graphql" && r.body.nonEmpty).toSeq

  /** One small DAG day under `base`: lookups, assignments and five incoming
    * records, of which two groups upload and settle (U3's serial has no
    * device and U4 has no serial, so those rows stay open). Returns
    * `EtlJob.run`'s options, with the ledger and workdir under `base/run`.
    */
  def smallDay(spark: org.apache.spark.sql.SparkSession,
               base: java.nio.file.Path): Map[String, String] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Files.write(base.resolve("uid_serial.csv"), "U1,S1\nU2,S2\nU3,S3\n".getBytes)
    Files.write(base.resolve("serial_id.csv"), "S1,DEV-1\nS2,DEV-2\n".getBytes)
    Seq(("DEV-1", "P-A", "2021-11-01 00:00:00", null: String),
      ("DEV-2", "P-B", "2021-11-01 00:00:00", "2021-11-30 00:00:00"))
      .toDF("device_id", "patient_id", "sw", "ew")
      .select(col("device_id"), col("patient_id"),
        col("sw").cast("timestamp").as("start_wear"),
        col("ew").cast("timestamp").as("end_wear"))
      .write.parquet(s"$base/assignments")
    Seq(("r1", "U1", "2021-11-10 13:00:00"), ("r2", "U1", "2021-11-10 16:00:00"),
      ("r3", "U2", "2021-11-11 13:00:00"), ("r4", "U3", "2021-11-10 14:00:00"),
      ("r5", "U4", "2021-11-10 15:00:00"))
      .toDF("manufacturer_ref", "uid", "s")
      .select(col("manufacturer_ref"), lit("DRM").as("device_type"),
        col("s").cast("timestamp").as("start"),
        (col("s").cast("timestamp") + expr("INTERVAL 2 HOURS")).as("end"),
        map(lit("dreem_uid"), col("uid")).as("meta"))
      .write.parquet(s"$base/incoming")
    val run = base.resolve("run")
    Map(
      "ledger" -> s"$run/ledger", "incoming" -> s"$base/incoming",
      "uid-serial" -> s"$base/uid_serial.csv",
      "serial-id" -> s"$base/serial_id.csv",
      "assignments" -> s"$base/assignments",
      "workdir" -> s"$run/work", "today" -> "2021-12-01") ++ flags
  }
}

/** Drives the runnable job end-to-end (the SparkSubmitOperator surface).
  * Task 6 always runs the live connectors, here against EtlJobSpecLive.
  */
class EtlJobSpec extends SparkSpec {
  import spark.implicits._

  private def incoming(rows: Seq[(String, String, String)]) = rows
    .toDF("manufacturer_ref", "uid", "s")
    .select(col("manufacturer_ref"), lit("DRM").as("device_type"),
      col("s").cast("timestamp").as("start"),
      (col("s").cast("timestamp") + expr("INTERVAL 2 HOURS")).as("end"),
      map(lit("dreem_uid"), col("uid")).as("meta"))

  test("EtlJob.run executes the whole chain and reports state counts") {
    val base = Files.createTempDirectory("graft-job").toString
    incoming(Seq(("r1", "U1", "2021-11-10 13:00:00"),
      ("r2", "U2", "2021-11-10 14:00:00")))
      .write.parquet(s"$base/incoming")
    Files.write(Paths.get(base, "uid_serial.csv"), "U1,S1\nU2,S2\n".getBytes)
    Files.write(Paths.get(base, "serial_id.csv"), "S1,DEV-1\nS2,DEV-2\n".getBytes)
    Seq(("DEV-1", "P-A", "2021-11-01 00:00:00", null: String),
      ("DEV-2", "P-B", "2021-11-01 00:00:00", "2021-11-30 00:00:00"))
      .toDF("device_id", "patient_id", "sw", "ew")
      .select(col("device_id"), col("patient_id"),
        col("sw").cast("timestamp").as("start_wear"),
        col("ew").cast("timestamp").as("end_wear"))
      .write.parquet(s"$base/assignments")

    val opts = Map(
      "ledger" -> s"$base/ledger", "incoming" -> s"$base/incoming",
      "uid-serial" -> s"$base/uid_serial.csv",
      "serial-id" -> s"$base/serial_id.csv",
      "assignments" -> s"$base/assignments",
      "workdir" -> s"$base/work", "today" -> "2021-12-01") ++
      EtlJobSpecLive.flags
    val transport = EtlJobSpecLive.transport()
    EtlJobSpecLog.log.clear()
    val summary = EtlJob.run(spark, opts, transport).toMap
    assert(summary("ingested_new") == 2)
    assert(summary("ledger_rows") == 2)
    assert(summary("with_patient") == 2)
    assert(summary("grouped") == 2)
    assert(summary("uploaded_groups") == 2)
    assert(EtlJobSpecLive.uploads().size == 2) // both groups reached the DMP

    // second run: nothing new, nothing re-uploaded
    val again = EtlJob.run(spark, opts, transport).toMap
    assert(again("ingested_new") == 0)
    assert(again("ledger_rows") == 2)
    assert(again("pending_groups") == 0)
    assert(again("uploaded_groups") == 0)
  }

  test("stage-per-submit parity: 7 runStage calls ≡ one run (DAG deployment mode)") {
    val base = Files.createTempDirectory("graft-job-stages").toString
    incoming(Seq(("r1", "U1", "2021-11-10 13:00:00"),
      ("r2", "U2", "2021-11-10 14:00:00")))
      .write.parquet(s"$base/incoming")
    Files.write(Paths.get(base, "uid_serial.csv"), "U1,S1\nU2,S2\n".getBytes)
    Files.write(Paths.get(base, "serial_id.csv"), "S1,DEV-1\nS2,DEV-2\n".getBytes)
    Seq(("DEV-1", "P-A", "2021-11-01 00:00:00", null: String),
      ("DEV-2", "P-B", "2021-11-01 00:00:00", "2021-11-30 00:00:00"))
      .toDF("device_id", "patient_id", "sw", "ew")
      .select(col("device_id"), col("patient_id"),
        col("sw").cast("timestamp").as("start_wear"),
        col("ew").cast("timestamp").as("end_wear"))
      .write.parquet(s"$base/assignments")
    val opts = Map(
      "ledger" -> s"$base/ledger", "incoming" -> s"$base/incoming",
      "uid-serial" -> s"$base/uid_serial.csv",
      "serial-id" -> s"$base/serial_id.csv",
      "assignments" -> s"$base/assignments",
      "workdir" -> s"$base/work", "today" -> "2021-12-01") ++
      EtlJobSpecLive.flags

    // seven separate submissions, state crossing only through the ledger —
    // the dags/graft_dreem.py deployment shape
    val transport = EtlJobSpecLive.transport()
    val summary = EtlJob.stageNames
      .flatMap(s => EtlJob.runStage(spark, s, opts, transport)).toMap
    assert(summary("ingested_new") == 2)
    assert(summary("with_serial") == 2)
    assert(summary("with_device") == 2)
    assert(summary("with_patient") == 2)
    assert(summary("grouped") == 2)
    assert(summary("uploaded_groups") == 2)

    // a crashed extract's scratch is swept by the cleanup task
    Files.createDirectories(Paths.get(s"$base/work/GROUP-crashed"))
    val cleaned = EtlJob.runStage(spark, "cleanup", opts).toMap
    assert(cleaned("cleaned_entries") == 1)
    assert(!Files.exists(Paths.get(s"$base/work/GROUP-crashed")))

    // unknown stage fail-fasts with the valid ids listed
    val err = intercept[IllegalArgumentException] {
      EtlJob.runStage(spark, "no_such_stage", opts)
    }
    assert(err.getMessage.contains("download_metadata"))
  }

  test("EtlJob.run --upload-limit bounds the per-run transfer batch (reference limit=1)") {
    val base = Files.createTempDirectory("graft-job-lim").toString
    // two distinct devices/days -> two upload groups
    incoming(Seq(("r1", "U1", "2021-11-10 13:00:00"),
      ("r2", "U2", "2021-11-11 13:00:00")))
      .write.parquet(s"$base/incoming")
    Files.write(Paths.get(base, "uid_serial.csv"), "U1,S1\nU2,S2\n".getBytes)
    Files.write(Paths.get(base, "serial_id.csv"), "S1,DEV-1\nS2,DEV-2\n".getBytes)
    Seq(("DEV-1", "P-A", "2021-11-01 00:00:00", null: String),
      ("DEV-2", "P-B", "2021-11-01 00:00:00", null: String))
      .toDF("device_id", "patient_id", "sw", "ew")
      .select(col("device_id"), col("patient_id"),
        col("sw").cast("timestamp").as("start_wear"),
        col("ew").cast("timestamp").as("end_wear"))
      .write.parquet(s"$base/assignments")
    val opts = Map(
      "ledger" -> s"$base/ledger", "incoming" -> s"$base/incoming",
      "uid-serial" -> s"$base/uid_serial.csv",
      "serial-id" -> s"$base/serial_id.csv",
      "assignments" -> s"$base/assignments",
      "workdir" -> s"$base/work", "today" -> "2021-12-01",
      "upload-limit" -> "1") ++ // the reference's per-run group cap
      EtlJobSpecLive.flags
    val transport = EtlJobSpecLive.transport()
    val run1 = EtlJob.run(spark, opts, transport).toMap
    assert(run1("pending_groups") == 2)
    assert(run1("uploaded_groups") == 1) // capped, not 2
    // the un-transferred group drains on the next run (at-least-once)
    val run2 = EtlJob.run(spark, opts, transport).toMap
    assert(run2("pending_groups") == 1)
    assert(run2("uploaded_groups") == 1)
    val run3 = EtlJob.run(spark, opts, transport).toMap
    assert(run3("pending_groups") == 0 && run3("uploaded_groups") == 0)
  }

  test("EtlJob.run multi-site: unions per-site incoming, dedups across sites") {
    val base = Files.createTempDirectory("graft-job-sites").toString
    // r2 appears at BOTH sites — and the sites DISAGREE on start (clock
    // skew): one ledger row, and the survivor must be the deterministic
    // minimum (earliest start), not whichever partition wins a race
    incoming(Seq(("r1", "U1", "2021-11-10 13:00:00"),
      ("r2", "U2", "2021-11-10 14:00:00"))).write.parquet(s"$base/site_kiel")
    incoming(Seq(("r2", "U2", "2021-11-10 13:30:00"),
      ("r3", "U1", "2021-11-11 09:00:00"))).write.parquet(s"$base/site_newcastle")
    Files.write(Paths.get(base, "uid_serial.csv"), "U1,S1\nU2,S2\n".getBytes)
    Files.write(Paths.get(base, "serial_id.csv"), "S1,DEV-1\nS2,DEV-2\n".getBytes)
    Seq(("DEV-1", "P-A", "2021-11-01 00:00:00", null: String),
      ("DEV-2", "P-B", "2021-11-01 00:00:00", "2021-11-30 00:00:00"))
      .toDF("device_id", "patient_id", "sw", "ew")
      .select(col("device_id"), col("patient_id"),
        col("sw").cast("timestamp").as("start_wear"),
        col("ew").cast("timestamp").as("end_wear"))
      .write.parquet(s"$base/assignments")
    val opts = Map(
      "ledger" -> s"$base/ledger",
      // what parseArgs builds from a repeated --incoming flag
      "incoming" -> Seq(s"$base/site_kiel", s"$base/site_newcastle")
        .mkString(0.toChar.toString),
      "uid-serial" -> s"$base/uid_serial.csv",
      "serial-id" -> s"$base/serial_id.csv",
      "assignments" -> s"$base/assignments",
      "workdir" -> s"$base/work", "today" -> "2021-12-01") ++
      EtlJobSpecLive.flags
    val summary = EtlJob.run(spark, opts, EtlJobSpecLive.transport()).toMap
    assert(summary("ingested_new") == 3) // 4 site rows, r2 cross-site deduped
    assert(summary("ledger_rows") == 3)
    assert(summary("with_patient") == 3)
    val r2start = new graft.ledger.Ledger(spark, s"$base/ledger").read()
      .filter(col("manufacturer_ref") === "r2")
      .select(date_format(col("start"), "HH:mm:ss")).as[String].collect()
    assert(r2start.toSeq == Seq("13:30:00")) // deterministic earliest-start survivor
  }

  /** One device (U1 → S1 → DEV-1, worn by P-A since 2021-11-01): every
    * record of one day lands in one upload group.
    */
  private def oneDeviceOpts(base: String): Map[String, String] = {
    Files.write(Paths.get(base, "uid_serial.csv"), "U1,S1\n".getBytes)
    Files.write(Paths.get(base, "serial_id.csv"), "S1,DEV-1\n".getBytes)
    Seq(("DEV-1", "P-A", "2021-11-01 00:00:00", null: String))
      .toDF("device_id", "patient_id", "sw", "ew")
      .select(col("device_id"), col("patient_id"),
        col("sw").cast("timestamp").as("start_wear"),
        col("ew").cast("timestamp").as("end_wear"))
      .write.parquet(s"$base/assignments")
    Map(
      "ledger" -> s"$base/ledger", "incoming" -> s"$base/incoming",
      "uid-serial" -> s"$base/uid_serial.csv",
      "serial-id" -> s"$base/serial_id.csv",
      "assignments" -> s"$base/assignments",
      "workdir" -> s"$base/work", "today" -> "2021-12-01") ++
      EtlJobSpecLive.flags
  }

  test("two EtlJob.run days land the same ledger at 1 and 8 shuffle partitions, without AQE and without broadcast joins") {
    val base = Files.createTempDirectory("graft-job-layout").toString
    // r1 and r3 arrive twice in their batch, the copies differing in meta
    // (only U1 resolves); day 2 redelivers r2
    incoming(Seq(("r1", "U9", "2021-11-10 13:00:00"), ("r1", "U1", "2021-11-10 13:00:00"),
      ("r2", "U1", "2021-11-10 15:00:00"))).write.parquet(s"$base/day1")
    incoming(Seq(("r2", "U1", "2021-11-10 15:00:00"), ("r3", "U9", "2021-11-11 13:00:00"),
      ("r3", "U1", "2021-11-11 13:00:00"), ("r4", "U1", "2021-11-12 13:00:00")))
      .write.parquet(s"$base/day2")
    val transport = EtlJobSpecLive.transport()
    val outcomes = Seq(
      Seq("spark.sql.shuffle.partitions" -> "1"),
      Seq("spark.sql.shuffle.partitions" -> "8"),
      Seq("spark.sql.adaptive.enabled" -> "false"),
      Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")).zipWithIndex.map {
      case (conf, i) => withConf(conf: _*) {
        val dir = Files.createDirectories(Paths.get(base, s"conf$i")).toString
        val opts = oneDeviceOpts(dir) + ("upload-limit" -> "1")
        val summaries = Seq("day1", "day2").map(day =>
          EtlJob.run(spark, opts + ("incoming" -> s"$base/$day"), transport))
        val ledger = new graft.ledger.Ledger(spark, opts("ledger")).read()
        (ledger.select(to_json(struct(ledger.columns.sorted.map(col): _*)))
          .as[String].collect().sorted.toSeq, summaries)
      }
    }
    val (rows, summaries) = outcomes.head
    assert(rows.size == 4 && rows.count(_.contains("\"is_uploaded\":true")) == 3, rows)
    assert(!rows.exists(_.contains("U9")), rows) // the resolvable copies
    outcomes.tail.foreach(o => assert(o == (rows, summaries)))
  }

  test("EtlJob.run live transfer: chunkedFetch + Dmp.upload against scripted endpoints") {
    val base = Files.createTempDirectory("graft-job-live").toString
    incoming(Seq(("r1", "U1", "2021-11-10 13:00:00"),
      ("r2", "U1", "2021-11-10 14:00:00")))
      .write.parquet(s"$base/incoming")
    val opts = oneDeviceOpts(base)
    val transport = EtlJobSpecLive.transport()
    EtlJobSpecLog.log.clear()
    val summary = EtlJob.run(spark, opts, transport).toMap
    assert(summary("uploaded_groups") == 1) // one group (same uid/device/day)
    // the upload POST carried the GraphQL multipart payload with the dataset
    val upload = EtlJobSpecLive.uploads().headOption
    assert(upload.isDefined)
    assert(new String(upload.get.body, "UTF-8").contains(""""studyId":"STUDY1""""))
    // second run: group already uploaded, no further transfer requests
    val posts = EtlJobSpecLog.log.size
    val again = EtlJob.run(spark, opts, transport).toMap
    assert(again("uploaded_groups") == 0)
    assert(EtlJobSpecLog.log.size == posts) // no new fetch/upload traffic
  }

  test("EtlJob.run: a late record re-opens its uploaded group; the next run re-sends and flags it") {
    val base = Files.createTempDirectory("graft-job-late").toString
    val day1 = Seq(("r1", "U1", "2021-11-10 13:00:00"))
    incoming(day1).write.parquet(s"$base/day1")
    // the next delivery repeats r1 and brings r2, recorded the same day on
    // the same device: it joins r1's already-uploaded group
    incoming(day1 :+ ("r2", "U1", "2021-11-10 15:00:00"))
      .write.parquet(s"$base/day2")
    val opts = oneDeviceOpts(base)
    val transport = EtlJobSpecLive.transport()

    EtlJobSpecLog.log.clear()
    val run1 = EtlJob.run(spark, opts + ("incoming" -> s"$base/day1"), transport).toMap
    assert(run1("uploaded_groups") == 1)
    assert(EtlJobSpecLive.fetchedRefs() == Set("r1"))

    EtlJobSpecLog.log.clear()
    val run2 = EtlJob.run(spark, opts + ("incoming" -> s"$base/day2"), transport).toMap
    assert(run2("ingested_new") == 1)
    assert(run2("pending_groups") == 1) // the partial group is pending again
    assert(run2("uploaded_groups") == 1)
    // the whole group is re-sent: both members downloaded, one bundle up
    assert(EtlJobSpecLive.fetchedRefs() == Set("r1", "r2"))
    assert(EtlJobSpecLive.uploads().size == 1)
    val flags = new graft.ledger.Ledger(spark, s"$base/ledger").read()
      .select("manufacturer_ref", "dmp_id", "is_uploaded")
      .as[(String, String, Boolean)].collect().sortBy(_._1).toSeq
    assert(flags.map(_._1) == Seq("r1", "r2"))
    assert(flags.map(_._2).distinct.size == 1) // one group
    assert(flags.forall(_._3), s"every member must be flagged: $flags")

    EtlJobSpecLog.log.clear()
    val run3 = EtlJob.run(spark, opts + ("incoming" -> s"$base/day2"), transport).toMap
    assert(run3("pending_groups") == 0 && run3("uploaded_groups") == 0)
    assert(EtlJobSpecLog.log.isEmpty) // nothing left to send
  }

  /** The executed plans of every query `body` runs, in order. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] =
    queriesRun(body).map(_.executedPlan)

  test("download_metadata scans the ledger once; ingested_new is the rows it added") {
    val base = Files.createTempDirectory("graft-job-ingest").toString
    val ledgerPath = s"$base/ledger"
    incoming(Seq(("r1", "U1", "2021-11-10 13:00:00"),
      ("r2", "U1", "2021-11-10 14:00:00"))).write.parquet(s"$base/day1")
    // r1 is already ledgered, r3 arrives twice in the batch, r4 is new
    incoming(Seq(("r1", "U1", "2021-11-10 13:00:00"),
      ("r3", "U1", "2021-11-10 15:00:00"), ("r3", "U1", "2021-11-10 15:00:00"),
      ("r4", "U1", "2021-11-10 16:00:00"))).write.parquet(s"$base/day2")
    def ingest(day: String) = EtlJob.runStage(spark, "download_metadata",
      Map("ledger" -> ledgerPath, "incoming" -> s"$base/$day")).toMap
    assert(ingest("day1")("ingested_new") == 2)

    val ledger = new graft.ledger.Ledger(spark, ledgerPath)
    val before = ledger.read().count()
    var summary = Map.empty[String, Long]
    val plans = executedPlans { summary = ingest("day2") }
    assert(summary("ingested_new") == ledger.read().count() - before)
    assert(summary("ingested_new") == 2)
    assert(ledgerScans(plans, ledgerPath) == 1, plans.mkString("\n"))
  }

  /** The file scans in `plans` that read the ledger at `path` (either of
    * its parts, or both in one scan), subqueries included. */
  private def ledgerScans(plans: Seq[SparkPlan], path: String): Int =
    scans(plans, _.getParent.toUri.getPath == path)

  /** The file scans in `plans` that read the ledger's `part` directory. */
  private def partScans(plans: Seq[SparkPlan], path: String, part: String): Int =
    scans(plans, _.toUri.getPath == s"$path/$part")

  private def scans(plans: Seq[SparkPlan],
                    reads: org.apache.hadoop.fs.Path => Boolean): Int = {
    object Plans extends AdaptiveSparkPlanHelper
    plans.flatMap(Plans.collectWithSubqueries(_) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(reads) => s
    }).size
  }

  test("each enrichment stage scans the ledger once; its report is the rows carrying the field") {
    val base = Files.createTempDirectory("graft-job-enrich").toString
    // r2's uid is unknown, so it never advances; r1 and r3 fill every field
    incoming(Seq(("r1", "U1", "2021-11-10 13:00:00"),
      ("r2", "U9", "2021-11-10 14:00:00"), ("r3", "U1", "2021-11-11 13:00:00")))
      .write.parquet(s"$base/incoming")
    val opts = oneDeviceOpts(base)
    EtlJob.runStage(spark, "download_metadata", opts)
    val ledger = new graft.ledger.Ledger(spark, opts("ledger"))
    for ((stage, field, reportKey) <- Seq(
        ("resolve_device_serials", "device_serial", "with_serial"),
        ("resolve_device_ids", "device_id", "with_device"),
        ("resolve_patient_ids", "patient_id", "with_patient"),
        ("group_records", "dmp_id", "grouped"))) {
      var summary = Map.empty[String, Long]
      val plans = executedPlans {
        summary = EtlJob.runStage(spark, stage, opts).toMap
      }
      assert(ledgerScans(plans, opts("ledger")) == 1,
        s"$stage:\n" + plans.mkString("\n"))
      assert(summary(reportKey) ==
        ledger.read().filter(col(field).isNotNull).count(), stage)
      assert(summary(reportKey) == 2, stage)
    }
  }

  test("extract_prep_load's manifest reads both ledger parts in one scan") {
    val base = Files.createTempDirectory("graft-job-extract").toString
    // one device on three days: three groups, one transferred per run
    incoming(Seq(("r1", "U1", "2021-11-10 13:00:00"),
      ("r2", "U1", "2021-11-11 13:00:00"), ("r3", "U1", "2021-11-12 13:00:00")))
      .write.parquet(s"$base/incoming")
    val opts = oneDeviceOpts(base) + ("upload-limit" -> "1")
    val transport = EtlJobSpecLive.transport()
    EtlJob.stageNames.takeWhile(_ != "extract_prep_load")
      .foreach(EtlJob.runStage(spark, _, opts, transport))
    val ledger = new graft.ledger.Ledger(spark, opts("ledger"))
    def pendingGroups() = ledger.read()
      .filter(col("dmp_id").isNotNull && !col("is_uploaded"))
      .select("dmp_id").distinct().count()
    // (pending groups, open-part scans, settled-part scans): the first run
    // finds no settled part; the second reads both parts in one scan
    for ((pending, openScans, settledScans) <- Seq((3L, 2, 0), (2L, 2, 1))) {
      assert(pendingGroups() == pending)
      var summary = Map.empty[String, Long]
      val plans = executedPlans {
        summary = EtlJob.runStage(spark, "extract_prep_load", opts, transport).toMap
      }
      // the transfer's manifest, then markUploaded's rewrite of the open part
      assert(partScans(plans, opts("ledger"), "open") == openScans, plans.mkString("\n"))
      assert(partScans(plans, opts("ledger"), "settled") == settledScans,
        plans.mkString("\n"))
      assert(summary == Map("pending_groups" -> pending, "uploaded_groups" -> 1L))
    }
    assert(pendingGroups() == 1)
    // a cap of 0 would plan the manifest away, count and all: refused
    intercept[IllegalArgumentException](EtlJob.runStage(spark,
      "extract_prep_load", opts + ("upload-limit" -> "0"), transport))
  }

  /** The call sites of the jobs `body` runs: the first line of each
    * job's long call site, the Spark method the program called. */
  private def jobCallSites(body: => Unit): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.sortBy(_.stageId).lastOption
          .foreach(st => sites.add(st.details.linesIterator.next()))
    })(body)
    sites.asScala.toSeq
  }

  test("no DAG task runs a schema-inference job: every parquet read takes its schema from a footer") {
    val base = Files.createTempDirectory("graft-job-footer").toString
    incoming(Seq(("r1", "U1", "2021-11-10 13:00:00"),
      ("r2", "U1", "2021-11-11 13:00:00"))).write.parquet(s"$base/day1")
    incoming(Seq(("r3", "U1", "2021-11-10 15:00:00"))).write.parquet(s"$base/day2")
    val opts = oneDeviceOpts(base) + ("upload-limit" -> "1")
    val transport = EtlJobSpecLive.transport()
    // day 1 settles a group, so day 2 reads both parts, from two sites
    for (batch <- Seq(s"$base/day1", s"$base/day2\u0000$base/day1")) {
      val sites = jobCallSites(EtlJob.stageNames.foreach(
        EtlJob.runStage(spark, _, opts + ("incoming" -> batch), transport)))
      assert(sites.nonEmpty)
      assert(!sites.exists(_.contains("DataFrameReader.parquet")), sites.mkString("\n"))
    }
    assert(new graft.ledger.Ledger(spark, opts("ledger")).read().count() == 3)
  }

  test("EtlJob.run on a fresh ledger with an empty first batch reports zeros; the next batch ingests normally") {
    val base = Files.createTempDirectory("graft-job-empty").toString
    incoming(Seq.empty).write.parquet(s"$base/day0")
    incoming(Seq(("r1", "U1", "2021-11-10 13:00:00"),
      ("r2", "U1", "2021-11-10 14:00:00"))).write.parquet(s"$base/day1")
    val opts = oneDeviceOpts(base)
    val transport = EtlJobSpecLive.transport()
    EtlJobSpecLog.log.clear()
    val empty = EtlJob.run(spark, opts + ("incoming" -> s"$base/day0"), transport)
    assert(empty.nonEmpty && empty.forall(_._2 == 0), empty)
    assert(EtlJobSpecLog.log.isEmpty) // nothing to send
    val run1 = EtlJob.run(spark, opts + ("incoming" -> s"$base/day1"), transport)
    assert(run1.map(_._1) == empty.map(_._1))
    val got = run1.toMap
    assert(got("ingested_new") == 2 && got("ledger_rows") == 2)
    assert(got("grouped") == 2 && got("uploaded_groups") == 1)
  }

  test("extract_prep_load without transfer flags fails fast, naming them") {
    val base = Files.createTempDirectory("graft-job-noflags").toString
    incoming(Seq(("r1", "U1", "2021-11-10 13:00:00")))
      .write.parquet(s"$base/incoming")
    val opts = oneDeviceOpts(base) -- Seq("dmp-url", "dmp-dataset", "workdir")
    val transport = EtlJobSpecLive.transport()
    EtlJob.stageNames.takeWhile(_ != "extract_prep_load")
      .foreach(EtlJob.runStage(spark, _, opts, transport))
    EtlJobSpecLog.log.clear()
    val err = intercept[IllegalArgumentException] {
      EtlJob.runStage(spark, "extract_prep_load", opts, transport)
    }
    Seq("--dmp-url", "--dmp-dataset", "--workdir")
      .foreach(f => assert(err.getMessage.contains(f), err.getMessage))
    assert(!err.getMessage.contains("--drm-base")) // present flags not named
    assert(EtlJobSpecLog.log.isEmpty) // failed before any request
    // nothing was flagged: the group is still pending
    val pending = new graft.ledger.Ledger(spark, s"$base/ledger").read()
      .filter(!col("is_uploaded")).count()
    assert(pending == 1)
  }
}
