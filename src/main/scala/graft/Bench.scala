package graft

/** Benchmark main (driver contract): times every SparkEntry query on
  * $SPARK_GRAFT_SF_DIR; stdout ends with ONE `"metric":"total"` JSON line.
  *
  * Forcing: `.write.format("noop")` executes the FULL plan including every
  * projected column — a bare `.count()` would let Catalyst prune the
  * expensive expressions and under-measure. A warmup query first absorbs
  * JVM/codegen JIT so per-query numbers reflect steady state.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Tables.cores
    val spark = Tables.session("graft-bench", cpus)

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup: exercise scan+shuffle+codegen paths once
    try force(SparkEntry.queries("q12_tpch_q1")(spark, sfDir))
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup q12_tpch_q1 failed: ${e.getMessage}")
    }

    // optional comma-separated name-prefix filter for local iteration, the
    // rule Verify's filter argument follows, e.g. SPARK_GRAFT_ONLY=q21_,q24_
    // (a full run leaves it unset)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }

    // Fixed per-query overhead floor: a do-nothing 32-task job through the
    // same noop-write forcing path (job submit, task launch, commit — no
    // compute, no shuffle). Reported so ratio readers can subtract the
    // floor Spark pays per query that an embedded engine doesn't; at sf0.1
    // most sub-second gates are mostly floor. min-of-3 = the steady floor.
    val overhead = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      force(spark.range(0, cpus.toLong * 1000, 1, cpus.toInt).toDF("i"))
      (System.nanoTime() - t0) / 1e9
    }.min

    // min of 2 runs: the steady-state cost, damping GC/JIT/compile noise.
    // A failed run is recorded as -1 (never a fake fast timing) so the JSON
    // cannot mask a broken query inside a healthy-looking total.
    //
    // PER-QUERY ISOLATION (round-11): in a 240-query sequential JVM the
    // tail queries read 2-8x their isolated time (judge-verified: q95
    // 6.38 s in-suite vs 0.82 s isolated) — heap pressure from earlier
    // queries' blocks and codegen classes, not plan drift. So each query
    // starts after a full GC OUTSIDE the timed section, which also lets
    // Spark's ContextCleaner free the checkpoints earlier queries left
    // unreachable (no query leaves a cached relation behind).
    TempDirs.sweepStale() // r15 draw2: 472 leftover graft-* dirs in /tmp
                          // distorted q113 3.5x — clean before, and between
    val results = selected.map { case (name, fn) =>
      // previous query's scratch dirs (each timed run re-invokes the lambda
      // and creates fresh ones) — swept OUTSIDE the timed section
      TempDirs.sweep()
      System.gc()
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try { force(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      }
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    TempDirs.sweep() // last query's scratch dirs
    // ms precision: full double repr once overflowed the driver's line
    // capture and truncated the first (alphabetically: q01) entry
    def r3(v: Double): String =
      if (v < 0) "-1" else (math.round(v * 1000) / 1000.0).toString
    val entries = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
    val failed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    // The full line is ~9 KB at 285 queries and a log collector may keep
    // only a ~2 KB stdout TAIL, so it goes to a file (for
    // tools/bench_oracle.py), not to stdout. Subset runs
    // (SPARK_GRAFT_ONLY) must not clobber the full-suite artifact of
    // record — they land in BENCH_SUBSET.json instead.
    val fullLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","failed":$failed,"overhead_s":${r3(overhead)},"queries":${entries.mkString("{", ",", "}")},"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "BENCH_SUBSET.json" else "BENCH_FULL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // stdout: the per-query map in <= 2 KB chunks — each line a complete
    // JSON object, so any tail window holds whole objects — then exactly
    // one compact "total" record as the LAST line.
    val chunks = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer[String]())
    var len = 0
    entries.foreach { e =>
      if (len + e.length > 1800) {
        chunks += scala.collection.mutable.ArrayBuffer[String](); len = 0
      }
      chunks.last += e; len += e.length + 1
    }
    val nParts = chunks.size
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"queries_part","part":${i + 1},"n_parts":$nParts,"sf":"$sfDir","queries":${c.mkString("{", ",", "}")}}""")
    }
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","failed":$failed,"overhead_s":${r3(overhead)},"n_queries":${results.size},"n_parts":$nParts,"queries_file":"$outPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
