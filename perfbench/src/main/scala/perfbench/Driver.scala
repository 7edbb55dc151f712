package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{EtlJob, SparkEntry, Tables, TempDirs}
import graft.connect.MiniJson
import graft.connect.MiniJson.{JArr, JNum, JObj, JStr}
import graft.ledger.Ledger

/** Single-process benchmark driver: one workload, one Spark session.
  *
  * Usage: Driver <manifest.json> <outDir> <seconds> <trace 0|1> <cores>
  *
  * The manifest (written by run.py) names the generated inputs. The driver
  * sets up, runs warm-up units, then repeats measured units until `seconds`
  * have passed: a DAG run on `etl_daily`, a pass over the gates on
  * `gate_mix`. It writes `result.json` (timings, counts, metrics)
  * and, when tracing, `spans.json` to `outDir`; run.py checks the outputs.
  *
  * With trace=1 the listeners are installed on every other unit only, so
  * the same run also yields the tracing overhead.
  */
object Driver {
  /** One gate per layer of curation work: Dedup, Graph, Fuzzy (with the
    * expressions kernels), Similarity, TextAnalysis, streaming, and a
    * relational floor.
    */
  val Gates: Seq[String] = Seq(
    "q162_minhash_verified_pairs", "q245_label_propagation", "q47_edit_distance",
    "q265_semdedup", "q282_exact_substring_dedup", "q33_streaming_ingest",
    "q95_tpch_q21_waiting_supplier")

  /** One unit of work: a DAG run or a gate pass (`wall` < 0: warm-up). */
  final case class Cycle(wall: Double, traced: Boolean, spanId: Int,
                         attempted: Long, failed: Long,
                         info: Map[String, Double])

  /** What a DAG run left: its span, the stages' reported counts, failures. */
  final case class DagRun(spanId: Int, counts: Map[String, Double], failed: Long)

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private val errors = mutable.ArrayBuffer.empty[String]
  private val setup = mutable.LinkedHashMap.empty[String, Double]
  /** Run facts for run.py, as raw JSON values. */
  private val extra = mutable.LinkedHashMap.empty[String, String]

  def main(args: Array[String]): Unit = {
    val Array(manifestPath, outDir, secondsArg, traceArg, cores) = args
    val m = MiniJson.parse(Files.readString(Paths.get(manifestPath)))
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val t0 = System.nanoTime()
    spark = Tables.session("perfbench", cores)
    setup("session_s") = (System.nanoTime() - t0) / 1e9
    setup("session_ready_ms") = System.currentTimeMillis().toDouble
    tracer = new Tracer(spark)
    val workload = str(m, "workload")
    val units = try workload match {
      case "etl_daily" => daily(m, outDir, seconds, trace)
      case "gate_mix" => gateMix(m, outDir, seconds, trace)
    } finally TempDirs.sweep()
    tracer.flush()
    val metrics = if (trace) traceMetrics(units) else Map.empty[String, Double]
    val unitsJson = units.map { u =>
      val info = u.info.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"wall_s":${u.wall},"traced":${u.traced},"attempted":${u.attempted},""" +
        s""""failed":${u.failed},"info":{$info}}"""
    }.mkString("[", ",\n", "]")
    def obj(kv: Iterable[(String, Any)]) =
      kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val json =
      s"""{"setup":${obj(setup)},"units":$unitsJson,""" +
        s""""metrics":${obj(metrics)},"peak_rss_mb":${peakRssMb()},""" +
        s""""errors":[${errors.map(e => MiniJson.render(JStr(e))).mkString(",")}],""" +
        s""""extra":${obj(extra)}}"""
    Files.writeString(Paths.get(outDir, "result.json"), json)
    if (trace) Files.writeString(Paths.get(outDir, "spans.json"), tracer.toJson)
    spark.stop()
  }

  // ------------------------------------------------------------ helpers

  private def field(j: MiniJson.J, k: String): MiniJson.J = j match {
    case JObj(f) => f(k)
    case _ => throw new IllegalArgumentException(s"no object around $k")
  }
  private def str(j: MiniJson.J, k: String): String = field(j, k) match {
    case JStr(s) => s
    case JNum(n) => n
    case other => throw new IllegalArgumentException(s"$k: $other")
  }
  private def strs(j: MiniJson.J, k: String): Seq[String] = field(j, k) match {
    case JArr(xs) => xs.collect { case JStr(s) => s }
    case other => throw new IllegalArgumentException(s"$k: $other")
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Repeat units until `seconds` have passed, and at least two units: a
    * slow machine still reports a median of the same makeup, and with
    * `trace` the listeners are on for odd-numbered units only.
    */
  private def measure(seconds: Double, trace: Boolean, limit: Int = Int.MaxValue)(
      unit: Int => Cycle): Seq[Cycle] = {
    val out = mutable.ArrayBuffer.empty[Cycle]
    val start = System.nanoTime()
    var i = 0
    while (i < 2 || (secs(start) < seconds && i < limit)) {
      val on = trace && i % 2 == 1
      if (on) tracer.install()
      try out += unit(i) finally if (on) tracer.uninstall()
      i += 1
    }
    out.toSeq
  }

  private def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Throwable =>
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }

  // ---------------------------------------------------------------- ETL

  private def etlOpts(m: MiniJson.J, ledger: String, workdir: String,
                      incoming: Seq[String], today: String): Map[String, String] =
    Map(
      "ledger" -> ledger, "incoming" -> incoming.mkString("\u0000"),
      "uid-serial" -> str(m, "uid_serial"), "serial-id" -> str(m, "serial_id"),
      "assignments" -> str(m, "assignments"), "workdir" -> workdir,
      "today" -> today,
      "drm-base" -> FakeDmp.DrmBase, "drm-jwt-url" -> FakeDmp.DrmJwt,
      "drm-user" -> "bench", "drm-pass" -> "bench",
      "dmp-url" -> FakeDmp.DmpUrl, "dmp-jwt-url" -> FakeDmp.DmpJwt,
      "dmp-user" -> "bench", "dmp-pass" -> "bench", "dmp-dataset" -> "BENCH")

  /** The deployed DAG's `--upload-limit`: one group per run. */
  private val UploadLimit = 1L

  /** Counts the stages report, as totals after the stage. */
  private val StageCounts = Seq("with_serial", "with_device", "with_patient",
    "grouped")

  /** One DAG run: the seven tasks in chain order, each in its own span.
    * As in the deployed DAG, a failed task skips its downstream tasks and
    * `cleanup` runs regardless (trigger rule ALL_DONE).
    */
  private def dagRun(name: String, opts: Map[String, String]): DagRun = {
    var spanId = -1
    val out = mutable.LinkedHashMap.empty[String, Double]
    var failed = 0L
    tracer.span(name) {
      spanId = tracer.spans.last.id
      var ok = true
      EtlJob.stageNames.foreach { stage =>
        if (ok || stage == "cleanup") {
          val t = System.nanoTime()
          tracer.span(stage) {
            attempt(s"$name $stage")(
              EtlJob.runStage(spark, stage, opts, new FakeDmpTransport))
          } match {
            case Some(res) => res.foreach { case (k, v) => out(k) = v.toDouble }
            case None => ok = false; failed += 1
          }
          out(s"stage_s.$stage") = secs(t)
        }
      }
    }
    DagRun(spanId, out.toMap, failed)
  }

  private def dirBytes(paths: Seq[String]): Long =
    paths.map(p => Files.size(Paths.get(p))).sum

  /** Finish a DAG unit: connector counters, attempted/failed operations. */
  private def etlCycle(wall: Double, run: DagRun, newBytes: Long,
                       before: Map[String, Double], membersMarked: Long): Cycle = {
    val out = run.counts
    val fake = FakeDmp.snapshot()
    val attemptedGroups = math.min(out.getOrElse("pending_groups", 0.0).toLong, UploadLimit)
    val uploaded = out.getOrElse("uploaded_groups", 0.0).toLong
    // one more operation: EtlJob's upload count must match the DMP's
    val agree = fake("uploads") == uploaded
    if (!agree) errors += s"DMP accepted ${fake("uploads")} bundles, EtlJob reported $uploaded"
    val advanced = out.getOrElse("ingested_new", 0.0) + membersMarked +
      StageCounts.map(k => out.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)).sum
    val info = out ++ fake.map { case (k, v) => s"connect.$k" -> v.toDouble } ++ Map(
      "groups_attempted" -> attemptedGroups.toDouble,
      "groups_uploaded" -> uploaded.toDouble,
      "new_bytes" -> newBytes.toDouble, "rows_advanced" -> advanced)
    Cycle(wall, false, run.spanId, EtlJob.stageNames.size + attemptedGroups + 1,
      run.failed + (attemptedGroups - uploaded) + (if (agree) 0 else 1), info)
  }

  private def markedMembers(before: Map[String, Seq[String]]): Long =
    FakeDmp.acceptedMembers.iterator.filter { case (k, v) => !before.get(k).contains(v) }
      .map(_._2.size.toLong).sum

  private def writeAccepted(path: String): Unit = {
    val body = FakeDmp.acceptedMembers.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":${v.map(r => "\"" + r + "\"").mkString("[", ",", "]")}"""
    }.mkString("{", ",\n", "}")
    Files.writeString(Paths.get(path), body)
  }

  private def countFiles(dir: String): Long = {
    val walk = Files.walk(Paths.get(dir))
    try walk.filter(p => p.toString.endsWith(".parquet")).count() finally walk.close()
  }

  private def daily(m: MiniJson.J, out: String, seconds: Double,
                    trace: Boolean): Seq[Cycle] = {
    FakeDmp.configure(str(m, "seed").toLong, str(m, "payload_bytes").toInt)
    val ledgerPath = s"$out/ledger"
    val history = spark.read.parquet(str(m, "history_ledger"))
    // seeding is repeated and its median reported; each init overwrites
    val seedTimes = (1 to 3).map { _ =>
      val t = System.nanoTime()
      new Ledger(spark, ledgerPath).init(history)
      secs(t)
    }
    setup("seed_s") = median(seedTimes)
    // groups uploaded before the benchmark: a re-send of one is a re-upload
    val uploadedBefore = history.filter(col("is_uploaded") && col("dmp_id").isNotNull)
      .select("dmp_id").distinct().as(org.apache.spark.sql.Encoders.STRING).collect()
    FakeDmp.preload(uploadedBefore)
    val days = field(m, "days") match { case JArr(xs) => xs; case _ => Vector.empty }
    var counts = Map.empty[String, Double]
    def runDay(k: Int): Cycle = {
      require(k < days.size, s"only ${days.size} daily batches were generated")
      val day = days(k)
      val incoming = strs(day, "incoming")
      val opts = etlOpts(m, ledgerPath, s"$out/work", incoming, str(day, "today")) +
        ("upload-limit" -> UploadLimit.toString)
      FakeDmp.reset()
      val before = FakeDmp.acceptedMembers
      val t = System.nanoTime()
      val run = dagRun(s"dag_day$k", opts)
      val wall = secs(t)
      val u = etlCycle(wall, run, dirBytes(incoming), counts, markedMembers(before))
      counts = StageCounts.flatMap(k => run.counts.get(k).map(k -> _)).toMap
      u
    }
    // two warm-up runs: the first DAG run after a cold start is ~1.5x a
    // warm one and the second still ~1.25x, which alone would swing the
    // median of two measured runs
    val warmRuns = 2
    val tw = System.nanoTime()
    val warm = (0 until warmRuns).map(runDay(_).copy(wall = -1))
    setup("warmup_s") = secs(tw)
    val units = measure(seconds, trace, days.size - warmRuns)(i =>
      runDay(i + warmRuns).copy(traced = trace && i % 2 == 1))
    writeAccepted(s"$out/accepted.json")
    extra("ledger") = MiniJson.render(JStr(ledgerPath))
    extra("days_run") = (units.size + warmRuns).toString
    extra("ledger_files") = countFiles(ledgerPath).toString
    warm ++ units
  }

  // -------------------------------------------------------------- gates

  private def gateMix(m: MiniJson.J, out: String, seconds: Double,
                      trace: Boolean): Seq[Cycle] = {
    val dir = str(m, "tables")
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val missing = Gates.filterNot(g => queries.contains(g) && oracle.contains(g))
    require(missing.isEmpty, s"gates without a query or oracle: $missing")
    Files.writeString(Paths.get(out, "oracle_sql.json"), Gates.map { g =>
      MiniJson.render(JStr(g)) + ":" + MiniJson.render(JStr(oracle(g)))
    }.mkString("{", ",\n", "}"))
    /** Bookkeeping outside the timed section: what the gate left cached,
      * then a clean slate for the next gate.
      */
    def release(): Int = {
      val left = org.apache.spark.sql.PerfbenchAccess.cachedEntries(spark)
      spark.catalog.clearCache()
      TempDirs.sweep()
      left
    }
    // warm-up pass: every gate's result is written for the oracle check
    val tw = System.nanoTime()
    var warmFailed = 0L
    Gates.foreach { g =>
      attempt(s"warm-up $g") {
        queries(g)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/gates/$g")
      }.getOrElse(warmFailed += 1)
      release()
    }
    setup("warmup_s") = secs(tw)
    val warm = Cycle(-1, false, -1, Gates.size, warmFailed, Map.empty)
    def pass(i: Int): Cycle = {
      val info = mutable.LinkedHashMap.empty[String, Double]
      var failed = 0L
      var spanId = -1
      var timed = 0.0
      tracer.span(s"pass$i") {
        spanId = tracer.spans.last.id
        Gates.foreach { g =>
          val id = g.takeWhile(_ != '_')
          val t = System.nanoTime()
          var built = 0.0
          tracer.span(id) {
            attempt(s"pass$i $g") {
              val df = queries(g)(spark, dir)
              built = secs(t)
              df.write.format("noop").mode("overwrite").save()
            }.getOrElse(failed += 1)
          }
          val s = secs(t)
          timed += s
          info(s"gate.$id.s") = s
          info(s"gate.$id.build_s") = built
          info(s"gate.$id.cached_left") = release().toDouble
        }
      }
      Cycle(timed, false, spanId, Gates.size, failed, info.toMap)
    }
    val units = measure(seconds, trace)(i => pass(i).copy(traced = trace && i % 2 == 1))
    warm +: units
  }

  // ------------------------------------------------------------ metrics

  /** Per-layer metrics from the traced units of a `--trace 1` run. */
  private def traceMetrics(all: Seq[Cycle]): Map[String, Double] = {
    val units = all.filter(_.wall >= 0)
    val traced = units.filter(_.traced)
    val plain = units.filterNot(_.traced)
    val out = mutable.LinkedHashMap.empty[String, Double]
    def med(f: Cycle => Double) = median(traced.map(f))
    def mb(b: Long) = b / 1e6
    val children = (u: Cycle) => tracer.spans.filter(_.parent == u.spanId)
    def child(u: Cycle, name: String) = children(u).find(_.name == name)
    // a metric of a layer the workload does not reach reads 0
    EtlJob.stageNames.foreach { s =>
      def w(f: Counts => Double)(u: Cycle) =
        child(u, s).map(c => f(tracer.total(c.id))).getOrElse(0.0)
      out(s"stage.$s.s") = med(u => child(u, s).map(_.seconds).getOrElse(0.0))
      out(s"stage.$s.jobs") = med(w(_.jobs.toDouble))
      out(s"stage.$s.scan_rows") = med(w(_.inputRows.toDouble))
      out(s"stage.$s.written_mb") = med(w(c => mb(c.outputBytes)))
    }
    val ledger = traced.map(u => tracer.total(u.spanId, Some("graft.ledger")))
    val newBytes = traced.map(_.info.getOrElse("new_bytes", 0.0)).sum
    val advanced = traced.map(_.info.getOrElse("rows_advanced", 0.0)).sum
    out("ledger.write_amp") = if (newBytes > 0) ledger.map(_.outputBytes).sum / newBytes else 0
    out("ledger.rows_rewritten_per_advanced") =
      if (advanced > 0) ledger.map(_.outputRows).sum / advanced else 0
    out("ledger.files") = extra.get("ledger_files").map(_.toDouble).getOrElse(0.0)
    def ci(k: String) = (u: Cycle) => u.info.getOrElse(k, 0.0)
    out("connect.transfer_s") = med(u => ci("connect.busy_nanos")(u) / 1e9)
    out("connect.requests") = med(ci("connect.requests"))
    out("connect.down_mb") = med(u => ci("connect.down_bytes")(u) / 1e6)
    out("connect.up_mb") = med(u => ci("connect.up_bytes")(u) / 1e6)
    out("connect.token_requests") = med(ci("connect.token_requests"))
    out("connect.groups_attempted") = med(ci("groups_attempted"))
    out("connect.groups_uploaded") = med(ci("groups_uploaded"))
    val up = traced.map(ci("connect.up_bytes")).sum
    out("connect.reupload_share") = if (up > 0) traced.map(ci("connect.reup_bytes")).sum / up else 0
    Gates.map(_.takeWhile(_ != '_')).foreach { id =>
      out(s"gate.$id.s") = med(ci(s"gate.$id.s"))
      out(s"gate.$id.build_s") = med(ci(s"gate.$id.build_s"))
      out(s"gate.$id.shuffle_mb") =
        med(u => child(u, id).map(c => mb(tracer.total(c.id).shuffleBytes)).getOrElse(0.0))
      out(s"gate.$id.cached_left") = med(ci(s"gate.$id.cached_left"))
    }
    def sp(f: Counts => Double) = med(u => f(tracer.total(u.spanId)))
    out("spark.jobs") = sp(_.jobs.toDouble)
    out("spark.tasks") = sp(_.tasks.toDouble)
    out("spark.shuffle_mb") = sp(c => mb(c.shuffleBytes))
    out("spark.spill_mb") = sp(c => mb(c.spillBytes))
    out("spark.gc_s") = sp(_.gcMs / 1e3)
    out("spark.result_mb") = sp(c => mb(c.resultBytes))
    out("trace.span_coverage") = med(u => children(u).map(_.seconds).sum / u.wall)
    out("trace.overhead_share") =
      if (plain.nonEmpty && traced.nonEmpty) median(traced.map(_.wall)) / median(plain.map(_.wall))
      else 0
    out.toMap
  }
}
