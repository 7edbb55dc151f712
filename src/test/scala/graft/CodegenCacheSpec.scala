package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics

/** The session's generated-class cache holds a whole unit of work: a warm
  * unit that repeats an earlier one compiles nothing. Counts only, never
  * times: `CodegenMetrics` records one compilation per cache miss, JVM-wide.
  * Each test warms the cache with its own first unit, so the counts do not
  * depend on which suites ran before it.
  */
class CodegenCacheSpec extends SparkSpec {

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

  test("a repeated EtlJob.run with the same arguments compiles nothing") {
    val base = Files.createTempDirectory("graft-codegen-etl")
    val opts = EtlJobSpecLive.smallDay(spark, base)
    val run = base.resolve("run")
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
      }
    }
    val first = round()
    val second = round()
    info(s"classes compiled: first round ${first.map(_._2).sum} " +
      s"(${first.mkString(", ")}), second ${second.map(_._2).sum} (${second.mkString(", ")})")
    assert(second.forall(_._2 == 0), s"the second round compiled ${second.filter(_._2 > 0)}")
  }

  test("a repeated streaming gate compiles nothing") {
    // each drain runs in a fresh clone of the session; with per-session
    // artifact isolation its tasks had a class loader of their own, and
    // q33 compiled 14 classes on every run
    def run(): Long = compiled {
      SparkEntry.queries("q33_streaming_ingest")(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
    }
    val first = run()
    val second = run()
    info(s"classes compiled: first run $first, second $second")
    assert(second == 0, s"the second run compiled $second classes")
  }
}
