package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** The session's generated-class cache holds a whole unit of work: a warm
  * unit that repeats an earlier one compiles nothing. Counts only, never
  * times: `CodegenMetrics` records one compilation per cache miss, JVM-wide.
  * Each test warms the cache with its own first unit, so the counts do not
  * depend on which suites ran before it.
  */
class CodegenCacheSpec extends SparkSpec {
  import spark.implicits._

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled while `body` runs, with AQE off: AQE numbers its
    * codegen stages in the order its query stages materialize, which
    * varies from run to run, and the number is part of the generated
    * class, so a repeat under AQE may compile a renumbered copy. Without
    * AQE the code depends on the plan alone.
    */
  private def compiled(body: => Unit): Long = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val before = compiles()
      body
      compiles() - before
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  private def incoming(rows: Seq[(String, String, String)]) = rows
    .toDF("manufacturer_ref", "uid", "s")
    .select(col("manufacturer_ref"), lit("DRM").as("device_type"),
      col("s").cast("timestamp").as("start"),
      (col("s").cast("timestamp") + expr("INTERVAL 2 HOURS")).as("end"),
      map(lit("dreem_uid"), col("uid")).as("meta"))

  test("a repeated EtlJob.run with the same arguments compiles nothing") {
    val base = Paths.get(Files.createTempDirectory("graft-codegen-etl").toString)
    Files.write(base.resolve("uid_serial.csv"), "U1,S1\nU2,S2\nU3,S3\n".getBytes)
    Files.write(base.resolve("serial_id.csv"), "S1,DEV-1\nS2,DEV-2\n".getBytes)
    Seq(("DEV-1", "P-A", "2021-11-01 00:00:00", null: String),
      ("DEV-2", "P-B", "2021-11-01 00:00:00", "2021-11-30 00:00:00"))
      .toDF("device_id", "patient_id", "sw", "ew")
      .select(col("device_id"), col("patient_id"),
        col("sw").cast("timestamp").as("start_wear"),
        col("ew").cast("timestamp").as("end_wear"))
      .write.parquet(s"$base/assignments")
    // two groups upload and settle; U3's serial has no device and U4 has
    // no serial, so those rows stay open
    incoming(Seq(("r1", "U1", "2021-11-10 13:00:00"), ("r2", "U1", "2021-11-10 16:00:00"),
      ("r3", "U2", "2021-11-11 13:00:00"), ("r4", "U3", "2021-11-10 14:00:00"),
      ("r5", "U4", "2021-11-10 15:00:00")))
      .write.parquet(s"$base/incoming")
    val run = base.resolve("run")
    val opts = Map(
      "ledger" -> s"$run/ledger", "incoming" -> s"$base/incoming",
      "uid-serial" -> s"$base/uid_serial.csv",
      "serial-id" -> s"$base/serial_id.csv",
      "assignments" -> s"$base/assignments",
      "workdir" -> s"$run/work", "today" -> "2021-12-01") ++
      EtlJobSpecLive.flags
    // each run starts from no ledger: an append onto an existing ledger
    // writes its key column first, and the read order of a part whose
    // files disagree follows their random names (CHANGES.md, FOUND)
    def fresh(): (Long, Map[String, Long]) = {
      TempDirs.deleteRecursively(run)
      var summary = Map.empty[String, Long]
      val n = compiled {
        summary = EtlJob.run(spark, opts, EtlJobSpecLive.transport()).toMap
      }
      (n, summary)
    }
    val (first, s1) = fresh()
    val (second, s2) = fresh()
    info(s"classes compiled: first run $first, second $second")
    assert(s1("ingested_new") == 5 && s1("uploaded_groups") == 2, s1)
    assert(s2 == s1)
    assert(second == 0, s"the second run compiled $second classes")
  }

  test("a second round over gates of six ops layers compiles nothing") {
    val sf = "/root/testdata/sf0.001"
    // Dedup, Graph, Fuzzy, Similarity, TextAnalysis and a relational
    // floor: well past the 100 classes of Spark's default cache
    val gates = Seq("q162_minhash_verified_pairs", "q245_label_propagation",
      "q47_edit_distance", "q26_emb_ann_lsh", "q282_exact_substring_dedup",
      "q95_tpch_q21_waiting_supplier")
    /** Classes each gate compiled, in gate order. */
    def round(): Seq[(String, Long)] = gates.map { g =>
      g -> compiled {
        SparkEntry.queries(g)(spark, sf).write.format("noop").mode("overwrite").save()
        // a gate that leaves its frames cached would plan the next round
        // against the cache: clear it, as Verify does after each gate
        spark.catalog.clearCache()
      }
    }
    val first = round()
    val second = round()
    info(s"classes compiled: first round ${first.map(_._2).sum} " +
      s"(${first.mkString(", ")}), second ${second.map(_._2).sum} (${second.mkString(", ")})")
    assert(second.forall(_._2 == 0), s"the second round compiled ${second.filter(_._2 > 0)}")
  }
}
