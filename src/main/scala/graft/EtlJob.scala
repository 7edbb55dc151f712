package graft

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.connect.{BasicAuthTokenProvider, ConnectionConfig, Dmp,
  FileTransfer, JavaNetTransport, SignatureAuthTokenProvider, Transport}
import graft.etl.Stages
import graft.ledger.{Ledger, LedgerStore, MongoLedger}
import graft.sources.{LookupCsv, ParquetFooters}

/** The runnable pipeline — what an Airflow `SparkSubmitOperator` schedules
  * per run. The reference's 7-task `dreem` DAG (dags/dreem.py:297-307) maps
  * 1:1 onto `stageNames`; state flows between tasks through the Ledger
  * exactly as it flowed through MongoDB, so the chain runs either as seven
  * separate spark-submits (`--stage <id>` per task — the
  * dags/graft_dreem.py deployment, generated from graft.dag.DreemDag) or
  * collapsed into one Spark job (`run`, no `--stage`).
  *
  * Usage:
  *   runMain graft.EtlJob --ledger <dir> --incoming <parquet>
  *     [--incoming <parquet> ...]
  *     --uid-serial <csv> --serial-id <csv> --assignments <parquet>
  *     --workdir <dir> --drm-base <url> --drm-jwt-url <url>
  *     --dmp-url <url> --dmp-jwt-url <url> --dmp-dataset <id>
  *     [--drm-user <login>] [--dmp-user <login>] [--stage <task-id>]
  *     [--cutoff 12:00:00] [--today 2024-02-15]
  *     [--upload-limit N]
  *     [--ledger-format parquet|mongodb [--mongo-uri <uri>] [--mongo-db <db>]]
  *
  * `--incoming` schema: manufacturer_ref, device_type, start, end, meta
  * (the S1 fetch output — see connect.PaginatedRestSource / the DSv2
  * source for producing it from a live API). The flag repeats for
  * multi-site ingest — the reference runs one Dreem connection per site
  * (`dreem_kiel`/`dreem_newcastle`, init/connections.yaml.example:5-18)
  * into a single pipeline; here the per-site frames are unioned by name
  * before ingest, and the hash anti-join dedups ACROSS sites as well as
  * against the ledger.
  * Task 6 (extract-prep-load) transfers through the live connectors:
  * downloads run through `FileTransfer.chunkedFetch` (not-ready detection
  * included) and uploads through `Dmp.upload` (GraphQL multipart +
  * signature auth), i.e. the reference's DreemHook.download_file /
  * DmpHook.upload behaviors end-to-end. The stage fails fast, naming the
  * flags, when an endpoint or `--workdir` is missing. `transport` is
  * injectable for testing.
  */
object EtlJob {

  /** The reference DAG's task ids, in chain order (dags/dreem.py:297-307).
    * Each is independently submittable via `--stage <id>` — every stage
    * re-opens the ledger from disk and leaves its result there, so no
    * in-process state crosses a stage boundary.
    */
  val stageNames: Seq[String] = Seq(
    "download_metadata", "resolve_device_serials", "resolve_device_ids",
    "resolve_patient_ids", "group_records", "extract_prep_load", "cleanup")

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val spark = Tables.session("graft-etl-job")
    try {
      val summary = opts.get("stage") match {
        case Some(stage) => runStage(spark, stage, opts)
        case None        => run(spark, opts)
      }
      println(summary.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}"))
    } finally spark.stop()
  }

  /** Collapse duplicates WITHIN one run's batch — the same record at two
    * sites, or a paginated fetch emitting a row twice. Keyed on the exact
    * identity the ledger keys on: the hash expression itself (recordHash
    * concats without a separator, a reference quirk, so distinct
    * (device_type, ref) pairs can share a hash — partitioning on the pair
    * would under-dedup those). The hash computed here is the key the
    * ledger's append dedups on.
    *
    * Null-key records (recordHash is null-intolerant) BYPASS the dedup:
    * a null hash is not an identity — Window.partitionBy would pool every
    * null-key record into one partition and keep a single survivor,
    * silently dropping the rest. The survivor among real duplicates is
    * chosen DETERMINISTICALLY (earliest start/end, then serialized meta) —
    * dropDuplicates would keep whichever partition won the race, making
    * ledger contents differ between identical runs when sources disagree
    * on non-key fields.
    */
  private[graft] def dedupBatch(unioned: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    val hashed = unioned.withColumn("hash",
      graft.functions.Etl.recordHash(col("device_type"), col("manufacturer_ref")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hash"))
      .orderBy(col("start"), col("end"), to_json(col("meta")))
    hashed.withColumn("__rn", row_number().over(w))
      .filter(col("hash").isNull || col("__rn") === 1).drop("__rn")
  }

  /** Live fetch/push pair built from connection options (testable: pass a
    * scripted Transport).
    *
    * Credentials resolve from the GRAFT_DRM_PASS / GRAFT_DMP_PASS
    * environment variables first: command-line args are world-readable on
    * the submit host (`ps`), echoed into the Spark UI Environment tab via
    * `sun.java.command`, and copied into event logs and YARN/K8s app
    * specs — none of which conf redaction or a scheduler's log masker
    * covers. `--drm-pass`/`--dmp-pass` remain as local FALLBACKS for
    * tests; a deployment should never pass them (the generated DAG sets
    * the env vars via SparkSubmitOperator env_vars; cluster deploy mode
    * delivers them with spark.yarn.appMasterEnv.* / K8s secretKeyRef,
    * DEPLOY.md).
    */
  def liveTransfer(opts: Map[String, String], transport: Transport):
      ((String, java.nio.file.Path) => Boolean, (String, java.nio.file.Path) => Boolean) = {
    def secret(envKey: String, argKey: String): String =
      sys.env.get(envKey).orElse(opts.get(argKey)).getOrElse("")
    val drmTokens = new BasicAuthTokenProvider(transport, ConnectionConfig(
      host = opts("drm-base"), login = opts.getOrElse("drm-user", ""),
      password = secret("GRAFT_DRM_PASS", "drm-pass"),
      jwtUrl = opts("drm-jwt-url"),
      jwtTokenPath = opts.getOrElse("drm-token-path", "token")))
    val dmpTokens = new SignatureAuthTokenProvider(transport, ConnectionConfig(
      host = opts("dmp-url"), login = opts.getOrElse("dmp-user", ""),
      password = secret("GRAFT_DMP_PASS", "dmp-pass"),
      jwtUrl = opts("dmp-jwt-url"),
      jwtTokenPath = opts.getOrElse("dmp-token-path", "data.issueAccessToken.accessToken")))
    val drmBase = opts("drm-base")
    val dmpUrl = opts("dmp-url")
    val dataset = opts("dmp-dataset")
    val fetch = FileTransfer.chunkedFetch(transport, drmTokens,
      ref => s"$drmBase/dreem/algorythm/record/$ref/h5/") _
    val push = (dmpId: String, zip: java.nio.file.Path) =>
      Dmp.upload(transport, dmpTokens, dmpUrl, dataset, zip)
    (fetch, push)
  }

  /** The whole chain as one job: the seven stages in DAG order, with the
    * reference's ALL_DONE trigger rule on cleanup (dags/dreem.py:293-295 —
    * scratch cleanup runs even when an upstream task failed).
    */
  def run(spark: org.apache.spark.sql.SparkSession,
          opts: Map[String, String],
          transport: Transport = new JavaNetTransport()): Seq[(String, Long)] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var upstreamFailure: Throwable = null
    try
      stageNames.filterNot(_ == "cleanup")
        .foreach(s => parts ++= runStage(spark, s, opts, transport))
    catch { case t: Throwable => upstreamFailure = t; throw t }
    finally
      // ALL_DONE means "cleanup runs even after an upstream failure", NOT
      // "cleanup's own failure is ignored": on a healthy chain it
      // propagates (the reference's cleanup task still reports failed).
      // Catch Throwable, not Exception — a cleanup-time Error (OOM,
      // LinkageError) thrown from this finally block would otherwise
      // REPLACE the in-flight upstream exception and lose the root cause;
      // instead it rides along as suppressed.
      try parts ++= runStage(spark, "cleanup", opts, transport)
      catch {
        case e: Throwable =>
          if (upstreamFailure == null) throw e
          else if (upstreamFailure ne e) upstreamFailure.addSuppressed(e)
      }
    val ledger = openLedger(spark, opts)
    (parts :+ ("ledger_rows" ->
      (if (ledger.exists) ledger.read().count() else 0L))).toSeq
  }

  /** One DAG task (see `stageNames`). Tasks 2-5 are single resolution
    * steps over the ledger (`LedgerStore.enrich`, reporting the rows that
    * carry the field afterwards); tasks 1 and 6 have their own methods below.
    */
  def runStage(spark: org.apache.spark.sql.SparkSession, stage: String,
               opts: Map[String, String],
               transport: Transport = new JavaNetTransport()): Seq[(String, Long)] = {
    def enrich(field: String, reportKey: String)(
        advance: DataFrame => DataFrame): Seq[(String, Long)] =
      Seq(reportKey -> openLedger(spark, opts).enrich(field)(advance))
    stage match {
      case "download_metadata" =>
        stageDownloadMetadata(spark, openLedger(spark, opts), opts)
      case "resolve_device_serials" => // task 2 (J2)
        enrich("device_serial", "with_serial")(Stages.resolveSerials(_,
          LookupCsv.read(spark, opts("uid-serial"), "uid", "serial")))
      case "resolve_device_ids" => // task 3 (J3)
        enrich("device_id", "with_device")(Stages.resolveDeviceIds(_,
          LookupCsv.read(spark, opts("serial-id"), "serial", "device_id")))
      case "resolve_patient_ids" => // task 4 (J4)
        val today = opts.getOrElse("today", java.time.LocalDate.now().toString)
        enrich("patient_id", "with_patient")(Stages.resolvePatients(_,
          ParquetFooters.read(spark, opts("assignments")), today))
      case "group_records" => // task 5 (A1, unlimited by design)
        val cutOff = opts.getOrElse("cutoff", "12:00:00")
        enrich("dmp_id", "grouped")(Stages.groupRecords(_, cutOff))
      case "extract_prep_load" =>
        stageExtractPrepLoad(spark, openLedger(spark, opts), opts, transport)
      case "cleanup" =>
        stageCleanup(opts)
      case other =>
        throw new IllegalArgumentException(
          s"unknown stage '$other' — expected one of: ${stageNames.mkString(", ")}")
    }
  }

  // --ledger-format selects the storage strategy:
  //  - "parquet" (default): one Parquet directory (--ledger) on HDFS or a
  //    local/NFS mount; Ledger refuses other filesystems before any write.
  //  - "mongodb": the reference's actual store (--ledger is the
  //    collection; --mongo-uri/--mongo-db configure the connection; needs
  //    the Mongo Spark connector jar on the classpath).
  private def openLedger(spark: org.apache.spark.sql.SparkSession,
                         opts: Map[String, String]): LedgerStore =
    opts.getOrElse("ledger-format", "parquet") match {
      case "parquet" =>
        new Ledger(spark, opts("ledger"))
      case "mongodb" =>
        new MongoLedger(spark,
          opts.getOrElse("mongo-uri", "mongodb://localhost:27017"),
          opts.getOrElse("mongo-db", "ideafast_etl"), opts("ledger"))
      case other =>
        throw new IllegalArgumentException(
          s"unknown --ledger-format '$other' (parquet | mongodb)")
    }

  /** Task 1 — download_metadata: ingest-dedup + append (J1+L1+S7).
    * Multi-site fan-in: one frame per --incoming source, unioned by name
    * (same S1 schema per site, init/connections.yaml.example:5-18).
    * Duplicates WITHIN one run's batch are collapsed by dedupBatch (above);
    * the ledger's append drops ALREADY-SEEN records, counting the rest. */
  private def stageDownloadMetadata(spark: org.apache.spark.sql.SparkSession,
                                    ledger: LedgerStore,
                                    opts: Map[String, String]): Seq[(String, Long)] = {
    val sites = opts("incoming").split('\u0000').toSeq
      .map(ParquetFooters.read(spark, _))
    val batch = dedupBatch(sites.reduce(_.unionByName(_)))
      .withColumn("device_serial", lit(null).cast("string"))
      .withColumn("device_id", lit(null).cast("string"))
      .withColumn("patient_id", lit(null).cast("string"))
      .withColumn("dmp_dataset", lit(null).cast("string"))
      .withColumn("dmp_id", lit(null).cast("string"))
      .withColumn("is_uploaded", lit(false))
    Seq("ingested_new" -> ledger.append(batch))
  }

  /** Task 6 — extract-prep-load (P6+J5+S2+S8-S10). The transferred batch
    * is capped (deterministically: first groups by dmp_id) so the
    * uploaded-ids collect can never exceed uploadLimit rows.
    */
  private def stageExtractPrepLoad(spark: org.apache.spark.sql.SparkSession,
                                   ledger: LedgerStore, opts: Map[String, String],
                                   transport: Transport): Seq[(String, Long)] = {
    // the DRM and DMP endpoints and the per-group download/zip scratch
    // space: without them no group can move, so stop before any work
    val missing = Seq("workdir", "drm-base", "drm-jwt-url", "dmp-url",
      "dmp-jwt-url", "dmp-dataset").filterNot(opts.contains)
    require(missing.isEmpty, "extract_prep_load needs " +
      missing.map("--" + _).mkString(", ") + " to download and upload groups")
    // --upload-limit: per-run cap on transferred groups (the reference
    // slices its group list to 1 per run, dags/dreem.py:283-287). Defaulted
    // rather than optional so the driver-side collect of uploaded ids below
    // is bounded BY CONSTRUCTION — unuploaded groups simply go next run
    // (at-least-once + idempotent redelivery). A cap of 0 would plan the
    // manifest away, and with it the pending count observed on it.
    val uploadLimit = opts.getOrElse("upload-limit", "100000").toInt
    require(uploadLimit > 0, s"--upload-limit must be at least 1, not $uploadLimit")
    if (!ledger.exists) return Seq("pending_groups" -> 0L, "uploaded_groups" -> 0L)
    // the batch's top-k reads every manifest group, so an observation on
    // its input counts the pending groups in the transfer's own pass
    val pending = Observation()
    val batch = Stages.uploadManifest(ledger.unfinished())
      .observe(pending, count(lit(1)).as("groups"))
      .orderBy(col("dmp_id")).limit(uploadLimit)
    val (fetch, push) = liveTransfer(opts, transport)
    val results = FileTransfer.executePlan(spark, batch,
      opts("workdir"), fetch, push)
    // Materialize ONCE: the transfer dataset has side effects (each
    // execution re-downloads/re-uploads), and markUploaded rewrites the
    // very ledger files the manifest plan captured — a later
    // re-execution would read deleted files. The id list is ≤ uploadLimit
    // rows by construction (batch above), so driver-side is bounded.
    import spark.implicits._
    val okIds = results.filter(col("uploaded"))
      .select("dmp_id").as[String].collect().toSeq
    ledger.markUploaded(okIds)
    Seq("pending_groups" -> pending.get("groups").asInstanceOf[Long],
      "uploaded_groups" -> okIds.size.toLong)
  }

  /** Task 7 — cleanup: the always-run finalizer (trigger rule ALL_DONE,
    * dags/dreem.py:293-295). A healthy extract run already removes its
    * per-group scratch (FileTransfer.executePlan's finally); this sweeps
    * whatever a CRASHED run left under --workdir.
    */
  private def stageCleanup(opts: Map[String, String]): Seq[(String, Long)] = {
    val removed = opts.get("workdir").fold(0L) { w =>
      val entries =
        Option(new java.io.File(w).listFiles()).getOrElse(Array.empty)
      entries.foreach(f => FileTransfer.rmTree(f.toPath))
      entries.length.toLong
    }
    Seq("cleaned_entries" -> removed)
  }

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val it = args.iterator
    val m = scala.collection.mutable.Map.empty[String, String]
    while (it.hasNext) {
      val k = it.next()
      require(k.startsWith("--"), s"unexpected argument: $k")
      val key = k.stripPrefix("--")
      require(it.hasNext, s"--$key requires a value")
      val v = it.next()
      // --incoming repeats (one per site); NUL-joined so any legal path
      // round-trips. Other flags keep last-wins semantics.
      if (key == "incoming" && m.contains(key)) m(key) = m(key) + "\u0000" + v
      else m(key) = v
    }
    m.toMap
  }
}
