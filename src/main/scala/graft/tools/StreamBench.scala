package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming steady-state bench: the per-round driver numbers for
  * q33/q56/q75 are COLD starts (fresh checkpoint, full drain, JVM/codegen
  * warmup inside the measurement). This tool measures what a production
  * incremental pipeline actually feels: the SECOND AvailableNow drain
  * against the same checkpoint, after a new source file lands.
  *
  * Method: stage the source table as a file in a scratch dir; drain once
  * (cold — builds dedup/window state from zero); copy the SAME file in
  * again under a new name (a redelivery — identical volume, zero schema
  * drift) and drain again (warm — state loaded from checkpoint, every
  * incoming row probes existing state). Repeated for the default
  * (HDFS-backed) and RocksDB state-store providers.
  *
  * Output: one JSON line per (query, provider) with cold_s and warm_s.
  */
object StreamBench {

  private def drain(df: DataFrame, name: String, cp: String,
                    mode: String = "complete"): Double = {
    val t0 = System.nanoTime()
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    (System.nanoTime() - t0) / 1e9
  }

  /** Append-mode drains (the stream-stream join) need a fault-tolerant sink:
    * the memory sink only supports checkpoint recovery in complete mode, so
    * the warm drain would be rejected. A parquet file sink recovers cleanly;
    * both drains use it so cold and warm stay comparable.
    */
  private def drainToFiles(df: DataFrame, out: String, cp: String): Double = {
    val t0 = System.nanoTime()
    val q = df.writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.session("graft-streambench", cpus)
    // 8 state partitions, matching the Pipeline streaming gates: state
    // partition count is pinned at checkpoint creation, and per-partition
    // store open/commit I/O dominates bench-scale drains (9.2 s → 2.6 s
    // on the stream join going 32 → 4). Production sizes this to state
    // volume.
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    graft.TempDirs.sweepStale() // litter from crashed earlier runs

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (provider <- Seq("hdfs", "rocksdb")) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        if (provider == "rocksdb")
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        else
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")

      val work = Files.createTempDirectory(s"graft-streambench-$provider")
      // per-SHAPE source dirs: two shapes sharing one dir would see each
      // other's redelivered files, making the later shape's "warm" drain a
      // no-op over zero new files
      def stage(shape: String, table: String, leaf: String): String = {
        val src = Paths.get(sfDir, s"$table.parquet")
        val dir = work.resolve(s"$shape-$table")
        Files.createDirectories(dir)
        Files.copy(src, dir.resolve(leaf), StandardCopyOption.REPLACE_EXISTING)
        dir.toString
      }
      def redeliver(shape: String, table: String, leaf: String): Unit = {
        Files.copy(Paths.get(sfDir, s"$table.parquet"),
          work.resolve(s"$shape-$table").resolve(leaf),
          StandardCopyOption.REPLACE_EXISTING)
        ()
      }
      // absorb JVM/codegen/stream-machinery warmup outside the measurements
      // (the first streaming query in a JVM pays JIT + codegen compilation)
      locally {
        val dir = stage("warmup", "events", "batch_000.parquet")
        val cp = work.resolve("cp_warmup").toString
        drain(graft.Tables.dirStream(spark, dir)
          .groupBy("event_type").agg(count(lit(1)).as("n")),
          s"sb_warm_$provider", cp)
      }

      // q33 shape: sha256 dedup state + aggregate
      locally {
        val dir = stage("ingest", "events", "batch_000.parquet")
        val cp = work.resolve("cp_ingest").toString
        def q = graft.Tables.dirStream(spark, dir)
          .withColumn("hash", graft.functions.Etl.recordHash(
            lit("DRM"), col("event_id").cast("string")))
          .dropDuplicates("hash")
          .groupBy("event_type").agg(count(lit(1)).as("n"))
        results(s"ingest_dedup/$provider/cold") =
          drain(q, s"sb_i_$provider", cp)
        redeliver("ingest", "events", "batch_001.parquet")
        results(s"ingest_dedup/$provider/warm") =
          drain(q, s"sb_i2_$provider", cp)
      }

      // q56 shape: 1-day tumbling window at the 12:00 cut-off
      locally {
        val dir = stage("window", "events", "batch_000.parquet")
        val cp = work.resolve("cp_window").toString
        def q = graft.streaming.IncrementalIngest.dayBucketCounts(
          graft.Tables.dirStream(spark, dir)
            .select(col("event_type").as("device_id"),
              col("ts").as("start")),
          "12:00:00")
        results(s"day_window/$provider/cold") =
          drain(q, s"sb_w_$provider", cp)
        redeliver("window", "events", "batch_001.parquet")
        results(s"day_window/$provider/warm") =
          drain(q, s"sb_w2_$provider", cp)
      }

      // q75 shape: quality filter + (lang, content-hash) dedup state
      locally {
        val dir = stage("curate", "documents", "batch_000.parquet")
        val cp = work.resolve("cp_curate").toString
        def q = graft.streaming.IncrementalIngest.curateDocuments(
          graft.Tables.dirStream(spark, dir),
          minChars = 150, langs = Seq("de", "en", "fr"))
          .groupBy("lang").agg(count(lit(1)).as("n"))
        results(s"curation/$provider/cold") =
          drain(q, s"sb_c_$provider", cp)
        redeliver("curate", "documents", "batch_001.parquet")
        results(s"curation/$provider/warm") =
          drain(q, s"sb_c2_$provider", cp)
      }

      // q129 shape: append-mode day window + watermark — the warm drain
      // measures eviction/emission against state restored from checkpoint
      locally {
        val dir = stage("appendwin", "events", "batch_000.parquet")
        val cp = work.resolve("cp_appendwin").toString
        def q = graft.streaming.IncrementalIngest.dayBucketCounts(
          graft.Tables.dirStream(spark, dir)
            .select(col("event_type").as("device_id"),
              col("ts").as("start")),
          "12:00:00", watermark = "1 hour")
        val out = work.resolve("appendwin-out").toString
        results(s"append_window/$provider/cold") = drainToFiles(q, out, cp)
        redeliver("appendwin", "events", "batch_001.parquet")
        results(s"append_window/$provider/warm") = drainToFiles(q, out, cp)
      }

      // q130 shape: watermarked session windows in append mode (the state
      // store holds open sessions; the warm drain merges redelivered
      // events into them)
      locally {
        val dir = stage("sessions", "events", "batch_000.parquet")
        val cp = work.resolve("cp_sessions").toString
        def q = graft.streaming.IncrementalIngest.sessionCounts(
          graft.Tables.dirStream(spark, dir)
            .select(col("user_id").as("device_id"), col("ts").as("start")),
          gap = "30 minutes", watermark = "1 hour")
        val out = work.resolve("sessions-out").toString
        results(s"closed_sessions/$provider/cold") = drainToFiles(q, out, cp)
        redeliver("sessions", "events", "batch_001.parquet")
        results(s"closed_sessions/$provider/warm") = drainToFiles(q, out, cp)
      }

      // q113 shape: watermarked stream-stream attribution join (append
      // mode — join state expires at the watermark, so the warm drain
      // measures probe-against-live-state, not an ever-growing buffer)
      locally {
        val dir = stage("join", "events", "batch_000.parquet")
        val cp = work.resolve("cp_join").toString
        def ev = graft.Tables.dirStream(spark, dir)
        def q = {
          val clicks = ev.filter(col("event_type") === "click")
            .select(col("event_id").as("click_id"),
              col("user_id").as("c_user"),
              col("ts").as("c_ts"))
          val purchases = ev.filter(col("event_type") === "purchase")
            .select(col("event_id").as("purchase_id"),
              col("user_id").as("p_user"),
              col("ts").as("p_ts"))
          graft.streaming.IncrementalIngest.attributionJoin(
            clicks, purchases, "c_user", "p_user", "c_ts", "p_ts", "1 hour")
        }
        val out = work.resolve("join-out").toString
        results(s"stream_join/$provider/cold") = drainToFiles(q, out, cp)
        redeliver("join", "events", "batch_001.parquet")
        results(s"stream_join/$provider/warm") = drainToFiles(q, out, cp)
      }

      // q134 shape: foreachBatch → Ledger exactly-once sink; the warm
      // drain redelivers the identical file and must leave the ledger
      // unchanged (the anti-join dedup probes existing ledger state)
      locally {
        val dir = stage("ledger", "events", "batch_000.parquet")
        val cp = work.resolve("cp_ledger").toString
        val schema = spark.read
          .parquet(Paths.get(sfDir, "events.parquet").toString)
          .select(col("event_type").as("device_type"),
            col("event_id").cast("string").as("manufacturer_ref"))
          .schema
        val src = work.resolve("ledger-src")
        Files.createDirectories(src)
        spark.read.parquet(dir)
          .select(col("event_type").as("device_type"),
            col("event_id").cast("string").as("manufacturer_ref"))
          .coalesce(1).write.mode("overwrite")
          .parquet(src.resolve("staged").toString)
        val listing = Files.list(src.resolve("staged"))
        val staged =
          try {
            import scala.jdk.CollectionConverters._
            listing.iterator().asScala
              .find(_.getFileName.toString.endsWith(".parquet"))
              .getOrElse(sys.error(
                s"no parquet part under ${src.resolve("staged")}"))
          } finally listing.close()
        val feed = work.resolve("ledger-feed")
        Files.createDirectories(feed)
        Files.copy(staged, feed.resolve("batch_000.parquet"))
        val ledger = new graft.ledger.Ledger(
          spark, work.resolve(s"ledger-store-$provider").toString)
        def run(): Double = {
          val t0 = System.nanoTime()
          graft.streaming.IncrementalIngest.runIntoLedger(
            spark, feed.toString, schema, cp, ledger)
          (System.nanoTime() - t0) / 1e9
        }
        results(s"ledger_sink/$provider/cold") = run()
        Files.copy(staged, feed.resolve("batch_001.parquet"))
        results(s"ledger_sink/$provider/warm") = run()
      }

      // q157 shape: stream-static broadcast enrichment + exact-cents agg
      locally {
        val dir = stage("enrich", "events", "batch_000.parquet")
        val cp = work.resolve("cp_enrich").toString
        val dim = spark.read
          .parquet(Paths.get(sfDir, "customer.parquet").toString)
          .select(col("c_custkey"), col("c_mktsegment"))
        def q = graft.Tables.dirStream(spark, dir)
          .select(col("user_id"),
            (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
              .as("cents"))
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
        results(s"enrich/$provider/cold") =
          drain(q, s"sb_e_$provider", cp)
        redeliver("enrich", "events", "batch_001.parquet")
        results(s"enrich/$provider/warm") =
          drain(q, s"sb_e2_$provider", cp)
      }

      // q174 shape: doubled source + dropDuplicatesWithinWatermark —
      // watermark-bounded dedup state, append mode
      locally {
        val dir = stage("dedupwm", "events", "batch_000.parquet")
        val cp = work.resolve("cp_dedupwm").toString
        def q = graft.Tables.dirStream(spark, dir)
          .unionByName(graft.Tables.dirStream(spark, dir))
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("event_type"))
        val out = work.resolve("dedupwm-out").toString
        results(s"dedup_watermark/$provider/cold") = drainToFiles(q, out, cp)
        redeliver("dedupwm", "events", "batch_001.parquet")
        results(s"dedup_watermark/$provider/warm") = drainToFiles(q, out, cp)
      }

      // q166 shape: transformWithState event-time-timer sessions —
      // RocksDB-only (the operator requires that provider), so it runs
      // once, inside the rocksdb pass
      if (provider == "rocksdb") locally {
        val dir = stage("tws", "events", "batch_000.parquet")
        val cp = work.resolve("cp_tws").toString
        import spark.implicits._
        def q = graft.streaming.StatefulTracking.closedSessionsTws(spark,
          graft.Tables.dirStream(spark, dir)
            .select(col("user_id").cast("string").as("k"), col("ts"))
            .withWatermark("ts", "1 hour")
            .as[(String, java.sql.Timestamp)],
          gapMs = 1800000L).toDF()
        val out = work.resolve("tws-out").toString
        results(s"tws_sessions/$provider/cold") = drainToFiles(q, out, cp)
        redeliver("tws", "events", "batch_001.parquet")
        results(s"tws_sessions/$provider/warm") = drainToFiles(q, out, cp)
      }

      // q257 shape: capped timer sessions (q254's hard-cap rule live) —
      // RocksDB-only, same reason as the timer sessions above
      if (provider == "rocksdb") locally {
        val dir = stage("ctws", "events", "batch_000.parquet")
        val cp = work.resolve("cp_ctws").toString
        import spark.implicits._
        def q = graft.streaming.StatefulTracking.cappedSessionsTws(spark,
          graft.Tables.dirStream(spark, dir)
            .select(col("user_id").cast("string").as("k"), col("ts"))
            .withWatermark("ts", "1 hour")
            .as[(String, java.sql.Timestamp)],
          gapMs = 1800000L, capMs = 900000L).toDF()
        val out = work.resolve("ctws-out").toString
        results(s"capped_sessions/$provider/cold") = drainToFiles(q, out, cp)
        redeliver("ctws", "events", "batch_001.parquet")
        results(s"capped_sessions/$provider/warm") = drainToFiles(q, out, cp)
      }

      // q235 shape: transformWithState token-bucket admission —
      // RocksDB-only, same reason as the timer sessions above
      if (provider == "rocksdb") locally {
        val dir = stage("bucket", "events", "batch_000.parquet")
        val cp = work.resolve("cp_bucket").toString
        import spark.implicits._
        def q = graft.streaming.StatefulTracking.tokenBucketTws(spark,
          graft.Tables.dirStream(spark, dir)
            .filter(col("user_id").isNotNull && col("ts").isNotNull)
            .select(col("user_id").cast("string").as("k"),
              org.apache.spark.sql.functions.unix_millis(col("ts"))
                .as("ts_ms"),
              col("event_id"))
            .as[(String, Long, Long)],
          capacity = 5L, refillNum = 1L, refillDenMs = 43200000L).toDF()
        val out = work.resolve("bucket-out").toString
        results(s"token_bucket/$provider/cold") = drainToFiles(q, out, cp)
        redeliver("bucket", "events", "batch_001.parquet")
        results(s"token_bucket/$provider/warm") = drainToFiles(q, out, cp)
      }

      // q244 shape: transformWithState MapState drift monitor (per-day
      // categorical TVD, closed by event-time timers) — RocksDB-only
      if (provider == "rocksdb") locally {
        val dir = stage("drift", "events", "batch_000.parquet")
        val cp = work.resolve("cp_drift").toString
        import spark.implicits._
        val ref = graft.Tables.table(spark, sfDir, "events")
          .groupBy("event_type").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        def q = graft.streaming.StatefulTracking.dayDriftTws(spark,
          graft.Tables.dirStream(spark, dir)
            .withColumn("day_key",
              org.apache.spark.sql.functions.unix_millis(
                org.apache.spark.sql.functions.date_trunc("DAY", col("ts")))
                .cast("string"))
            .select(col("day_key"), col("ts"), col("event_type"))
            .withWatermark("ts", "1 hour")
            .as[(String, java.sql.Timestamp, String)], ref).toDF()
        val out = work.resolve("drift-out").toString
        results(s"drift_monitor/$provider/cold") = drainToFiles(q, out, cp)
        redeliver("drift", "events", "batch_001.parquet")
        results(s"drift_monitor/$provider/warm") = drainToFiles(q, out, cp)
      }

      // q248 shape: incremental near-dup admission against a PERSISTED
      // lshBands index, foreachBatch → parquet. Stateless (no state store
      // — provider-irrelevant, measured once); the index build is OUTSIDE
      // the drains, which is the operator's amortization claim: a standing
      // pipeline pays the corpus signature never per batch. Warm here
      // means "the next batch file lands on a live checkpoint".
      if (provider == "rocksdb") locally {
        val dir = stage("admission", "documents", "batch_000.parquet")
        val cp = work.resolve("cp_admission").toString
        val idxBands = graft.ops.Dedup.lshBands(
          graft.ops.Dedup.minHashSignatures(
            graft.Tables.table(spark, sfDir, "documents")
              .filter(col("doc_id") % 2 === 0),
            "doc_id", "text", numHashes = 16, shingleSize = 3),
          "doc_id", rowsPerBand = 2)
          .repartition(col("band"), col("band_sig")).persist()
        idxBands.count()
        val out = work.resolve("admission-out").toString
        def run(): Double = {
          val t0 = System.nanoTime()
          val q = graft.Tables.dirStream(spark, dir).writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              graft.ops.Dedup.dedupAgainstBands(batch, idxBands,
                "doc_id", "text", numHashes = 16, rowsPerBand = 2)
                .write.mode("append").parquet(out)
            }
            .option("checkpointLocation", cp)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        results(s"index_admission/$provider/cold") = run()
        redeliver("admission", "documents", "batch_001.parquet")
        results(s"index_admission/$provider/warm") = run()
        idxBands.unpersist()
        ()
      }

      // q267/q271 shape: frozen-census quality scoring, foreachBatch →
      // parquet. Stateless like index_admission (no state store —
      // provider-irrelevant, measured once); the census build is OUTSIDE
      // the drains — the operator's amortization claim: a standing
      // pipeline pays the reference tokenize never per batch. Warm means
      // "the next batch file lands on a live checkpoint".
      if (provider == "rocksdb") locally {
        val dir = stage("census", "documents", "batch_000.parquet")
        val cp = work.resolve("cp_census").toString
        val census = graft.ops.TextAnalysis.unigramCensus(
          graft.Tables.table(spark, sfDir, "documents")
            .filter(col("doc_id") % 2 === 0), "text")
          .repartition(col("w")).persist()
        census.count()
        val out = work.resolve("census-out").toString
        def run(): Double = {
          val t0 = System.nanoTime()
          val q = graft.Tables.dirStream(spark, dir).writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              graft.ops.TextAnalysis.scoreAgainstCensus(batch, census,
                "doc_id", "text", keepLoPpm = 4010000L,
                keepHiPpm = 10000000L)
                .write.mode("append").parquet(out)
            }
            .option("checkpointLocation", cp)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        results(s"census_admission/$provider/cold") = run()
        redeliver("census", "documents", "batch_001.parquet")
        results(s"census_admission/$provider/warm") = run()
        census.unpersist()
        ()
      }

      // q277/q278 shape: SemDeDup admission against a frozen codebook +
      // per-cell keep-set index, foreachBatch → parquet. Stateless like
      // census_admission (no state store — provider-irrelevant, measured
      // once); the codebook fit and index build are OUTSIDE the drains —
      // the operator's amortization claim: a standing pipeline pays the
      // reference clustering never per batch.
      if (provider == "rocksdb") locally {
        val dir = stage("semadm", "embeddings", "batch_000.parquet")
        val cp = work.resolve("cp_semadm").toString
        val e = graft.Tables.table(spark, sfDir, "embeddings")
        val evens = e.filter(col("vec_id") % 2 === 0)
        val probe = evens.select(max(size(col("embedding")))).head()
        if (!probe.isNullAt(0)) {
          val d = probe.getInt(0)
          val nE = evens.filter(size(col("embedding")) === d)
            .select(countDistinct(col("vec_id"))).head().getLong(0)
          val k = math.ceil(math.sqrt(nE.toDouble)).toInt
          val cents = graft.ops.Similarity.kmeansCentroids(evens,
            "vec_id", "embedding", k = k, iters = 2).cache()
          cents.count()
          val index = graft.ops.Similarity.semDedup(evens, "vec_id",
            "embedding", k = k, iters = 2, maxDist2 = 1200000000000L)
            .filter(col("keep"))
            .select(col("vec_id"), col("cluster"), col("dist2"))
            .join(graft.ops.Similarity.scaledVectors(evens, "vec_id",
              "embedding"), Seq("vec_id"))
            .repartition(col("cluster")).persist()
          index.count()
          val out = work.resolve("semadm-out").toString
          def run(): Double = {
            val t0 = System.nanoTime()
            val q = graft.Tables.dirStream(spark, dir).writeStream
              .foreachBatch { (batch: DataFrame, _: Long) =>
                graft.ops.Similarity.semDedupAdmit(batch, index, cents,
                  "vec_id", "embedding", maxDist2 = 1200000000000L)
                  .write.mode("append").parquet(out)
              }
              .option("checkpointLocation", cp)
              .trigger(Trigger.AvailableNow()).start()
            q.awaitTermination()
            (System.nanoTime() - t0) / 1e9
          }
          results(s"sem_admission/$provider/cold") = run()
          redeliver("semadm", "embeddings", "batch_001.parquet")
          results(s"sem_admission/$provider/warm") = run()
          index.unpersist()
          cents.unpersist()
        }
        ()
      }

      // q283 shape: DSIR admission against TWO frozen censuses (target +
      // source), foreachBatch → parquet. Stateless like census_admission
      // (no state store — provider-irrelevant, measured once); both
      // census builds are OUTSIDE the drains — the operator's
      // amortization claim: a standing pipeline pays the reference
      // tokenizes never per batch. Per drain: one batch tokenize + two
      // word-keyed joins against the persisted censuses.
      if (provider == "rocksdb") locally {
        val dir = stage("dsir", "documents", "batch_000.parquet")
        val cp = work.resolve("cp_dsir").toString
        val docs = graft.Tables.table(spark, sfDir, "documents")
        val evens = docs.filter(col("doc_id") % 2 === 0)
        val target = graft.ops.TextAnalysis.unigramCensus(
          evens.filter(col("doc_id") % 3 === 0), "text")
          .repartition(col("w")).persist()
        val source = graft.ops.TextAnalysis.unigramCensus(evens, "text")
          .repartition(col("w")).persist()
        target.count(); source.count()
        val out = work.resolve("dsir-out").toString
        def run(): Double = {
          val t0 = System.nanoTime()
          val q = graft.Tables.dirStream(spark, dir).writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              graft.ops.TextAnalysis.dsirGain(batch, target, source,
                "doc_id", "text")
                .withColumn("admitted", col("gain_ppm") >= -400000L)
                .write.mode("append").parquet(out)
            }
            .option("checkpointLocation", cp)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        results(s"dsir_admission/$provider/cold") = run()
        redeliver("dsir", "documents", "batch_001.parquet")
        results(s"dsir_admission/$provider/warm") = run()
        target.unpersist(); source.unpersist()
        ()
      }

      // q285 shape: exact-substring contamination screen against a
      // frozen gram-hash index, foreachBatch → parquet. Stateless (no
      // state store — provider-irrelevant, measured once); the index
      // build (word-volume gram explode + distinct) is OUTSIDE the
      // drains — per drain: one batch gram synthesis + one hash-keyed
      // semi-join + the span-union windows.
      if (provider == "rocksdb") locally {
        val dir = stage("sscreen", "documents", "batch_000.parquet")
        val cp = work.resolve("cp_sscreen").toString
        val docs = graft.Tables.table(spark, sfDir, "documents")
        val index = graft.ops.TextAnalysis.strideGramSpans(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", n = 10)
          .select(graft.functions.TextFns.hash64(col("g")).as("_gh"))
          .distinct()
          .repartition(col("_gh")).persist()
        index.count()
        val out = work.resolve("sscreen-out").toString
        def run(): Double = {
          val t0 = System.nanoTime()
          val q = graft.Tables.dirStream(spark, dir).writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              graft.ops.TextAnalysis.substringScreen(batch, index,
                "doc_id", "text", n = 10, maxPpm = 25000L)
                .write.mode("append").parquet(out)
            }
            .option("checkpointLocation", cp)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        results(s"substring_screen/$provider/cold") = run()
        redeliver("sscreen", "documents", "batch_001.parquet")
        results(s"substring_screen/$provider/warm") = run()
        index.unpersist()
        ()
      }

      // every shape in this provider pass is drained — delete its work
      // tree (checkpoints, staged feeds, outputs) before the next pass
      graft.TempDirs.deleteRecursively(work)
    }
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + (math.round(v * 1000) / 1000.0)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"stream_bench","sf":"$sfDir","timings":$qs}""")
    spark.stop()
  }
}
