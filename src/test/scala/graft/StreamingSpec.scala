package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.IncrementalIngest

/** Streaming posture (SURVEY.md §2.9): incremental dedup across runs via
  * checkpointed state, and the day-bucket tumbling window.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("manufacturer_ref", StringType),
    StructField("device_type", StringType)))

  test("RocksDB state store: same cross-run dedup semantics as HDFS-backed") {
    // the 100 TB posture (off-heap keyed state) must be a pure provider
    // swap — identical results, state survives across runs in the same
    // checkpoint, and the running query really uses RocksDB. The stateful
    // drain is q33's `dropDuplicates("hash")` shape, drained twice per
    // provider on one checkpoint
    val base = Files.createTempDirectory("graft-stream-rocks").toString
    val src = s"$base/src"
    val shape = graft.queries.Pipeline.ingestDedup
    def drain(provider: String): Seq[(String, Long)] = {
      val (out, _) = graft.streaming.Drain.toMemory(
        shape.query(spark, base, () => Tables.stream(spark, src)),
        s"$base/cp-$provider", shape.mode, Some(provider))
      out.as[(String, Long)].collect().toSeq.sorted
    }
    Seq((1L, "a"), (2L, "a"), (1L, "a")).toDF("event_id", "event_type")
      .coalesce(1).write.parquet(src)
    val run1 = Seq("hdfs", "rocksdb").map(drain)
    assert(run1 == Seq.fill(2)(Seq(("a", 2L))))

    // second poll: event 2 is a replay, 3 is new — only 3 is counted
    Seq((2L, "a"), (3L, "b")).toDF("event_id", "event_type")
      .coalesce(1).write.mode("append").parquet(src)
    val run2 = Seq("hdfs", "rocksdb").map(drain)
    assert(run2 == Seq.fill(2)(Seq(("a", 2L), ("b", 1L))))

    // provider evidence: RocksDB leaves its own state layout (per-store
    // .zip snapshots / changelog) under the checkpoint, distinct from the
    // HDFS-backed provider's .delta files
    val stateDir = java.nio.file.Paths.get(s"$base/cp-rocksdb", "state")
    assert(Files.exists(stateDir))
    def walk(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.map(identity)
      finally s.close()
    }
    val names = walk(stateDir).map(_.getFileName.toString)
    assert(names.exists(_.endsWith(".zip")),
      s"no RocksDB snapshot files under $stateDir — provider not in effect?")
    assert(!names.exists(_.endsWith(".delta")),
      "HDFS-backed .delta files present — RocksDB provider was not used")

    // withProvider restores the session default (HDFS-backed) afterwards —
    // getOption resolves to the conf's default, so compare values
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      == graft.streaming.StateStores.HdfsBacked)
  }

  test("foreachBatch into the Ledger: replays collapse to exactly-once state") {
    val base = Files.createTempDirectory("graft-stream-ledger").toString
    val src = s"$base/src"; val cp = s"$base/cp"
    val ledger = new graft.ledger.Ledger(spark, s"$base/ledger")
    Seq(("a", "DRM"), ("b", "DRM"), ("a", "DRM"))
      .toDF("manufacturer_ref", "device_type")
      .coalesce(1).write.parquet(src)
    IncrementalIngest.runIntoLedger(spark, src, cp, ledger)
    assert(ledger.read().select("manufacturer_ref").as[String].collect().toSet
      == Set("a", "b"))

    // replayed b + new c; ledger's hash anti-join keeps state exactly-once
    Seq(("b", "DRM"), ("c", "DRM"))
      .toDF("manufacturer_ref", "device_type")
      .coalesce(1).write.mode("append").parquet(src)
    IncrementalIngest.runIntoLedger(spark, src, cp, ledger)
    assert(ledger.read().count() == 3)
    assert(ledger.read().select("manufacturer_ref").as[String].collect().toSet
      == Set("a", "b", "c"))
  }

  test("a micro-batch lands EtlJob's survivor per hash, at 1 and 8 shuffle partitions; null-hash records all land") {
    val records = StructType(schema.fields ++ Seq(StructField("start", TimestampType),
      StructField("end", TimestampType), StructField("meta", MapType(StringType, StringType))))
    val base = Files.createTempDirectory("graft-stream-survivor").toString
    val src = s"$base/src"
    // one file, one micro-batch: r1's copy EtlJob does not keep (the later
    // start, another uid) comes first
    Seq[(String, String, String)](("r1", "2021-11-10 14:00:00", "U2"),
      ("r1", "2021-11-10 13:00:00", "U1"), (null, "2021-11-10 15:00:00", "U3"),
      (null, "2021-11-10 16:00:00", "U4"), ("r2", "2021-11-10 17:00:00", "U5"))
      .toDF("manufacturer_ref", "s", "uid")
      .select($"manufacturer_ref", lit("DRM").as("device_type"),
        $"s".cast("timestamp").as("start"),
        ($"s".cast("timestamp") + expr("INTERVAL 2 HOURS")).as("end"),
        map(lit("dreem_uid"), $"uid").as("meta"))
      .coalesce(1).write.parquet(src)
    def landed(ledger: String) = new graft.ledger.Ledger(spark, ledger).read()
      .select(to_json(struct(records.fieldNames.map(col) :+ col("hash"): _*)))
      .as[String].collect().sorted.toSeq
    // the width reaches EtlJob's batch; the drain runs its micro-batches at
    // its own state width whatever the session's
    for (parts <- Seq("1", "8")) withConf("spark.sql.shuffle.partitions" -> parts) {
      IncrementalIngest.runIntoLedger(spark, src, s"$base/cp-$parts",
        new graft.ledger.Ledger(spark, s"$base/stream-$parts"))
      EtlJob.runStage(spark, "download_metadata",
        Map("ledger" -> s"$base/batch-$parts", "incoming" -> src))
      val streamed = landed(s"$base/stream-$parts")
      assert(streamed == landed(s"$base/batch-$parts"), parts)
      assert(streamed.size == 4 && streamed.count(_.contains("\"U1\"")) == 1 &&
        !streamed.exists(_.contains("\"U2\"")), streamed)
      assert(streamed.count(!_.contains("\"hash\"")) == 2, streamed) // null hashes
    }
  }

  test("null-hash records all land: the ledger ingest dedups only hashed records") {
    // a null manufacturer_ref hashes to null; the batch path (Ledger.append)
    // keeps every such record, so the streaming ingest must not fold them
    // into one
    val base = Files.createTempDirectory("graft-stream-nullhash").toString
    val src = s"$base/src"
    Seq[(String, String)](("a", "DRM"), (null, "DRM"), (null, "DRM"), ("a", "DRM"))
      .toDF("manufacturer_ref", "device_type")
      .coalesce(1).write.parquet(src)
    val ledger = new graft.ledger.Ledger(spark, s"$base/ledger")
    IncrementalIngest.runIntoLedger(spark, src, s"$base/cp-ledger", ledger)
    assert(ledger.read().count() == 3)
    assert(ledger.read().filter($"hash".isNull).count() == 2)
  }

  test("gate drains leave no temp view and no active query behind") {
    val sf = "/root/testdata/sf0.001"
    def views() = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = views()
    val gates = Seq("q33_streaming_ingest", "q56_streaming_day_window")
    val runs = for (_ <- 1 to 2; g <- gates)
      yield g -> SparkEntry.queries(g)(spark, sf).collect().toSeq
    // the drained rows stay readable once the sink's view is gone, and a
    // second drain on a fresh checkpoint returns the same rows
    for (g <- gates) {
      val rs = runs.filter(_._1 == g).map(_._2)
      assert(rs.head.nonEmpty && rs.head == rs(1), g)
    }
    val after = views()
    assert(after.filterNot(before).isEmpty,
      s"temp views left behind: ${after.filterNot(before)}")
    assert(!after.exists(_.contains("_out_")))
    assert(spark.streams.active.isEmpty)
  }

  test("curateDocuments: quality filter + (lang, content) dedup across runs") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("n_chars", LongType)))
    val base = Files.createTempDirectory("graft-stream-curate").toString
    val src = s"$base/src"; val out = s"$base/out"; val cp = s"$base/cp"
    def drain(): Unit = {
      val q = IncrementalIngest.curateDocuments(
        spark.readStream.schema(docSchema).parquet(src),
        minChars = 10, langs = Seq("en", "de"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Seq(
      (1L, "long enough text", "en", 16L),
      (2L, "long enough text", "en", 16L),  // same (lang, content) -> dropped
      (3L, "long enough text", "de", 16L),  // same text, other lang -> kept
      (4L, "short", "en", 5L),              // fails min length
      (5L, "long enough text 2", "fr", 18L) // lang not admitted
    ).toDF("doc_id", "text", "lang", "n_chars")
      .coalesce(1).write.parquet(src)
    drain()
    val run1 = spark.read.parquet(out)
    assert(run1.count() == 2)
    assert(run1.columns.toSeq == Seq("doc_id", "text", "lang", "n_chars"),
      "input schema must pass through — no internal dedup columns leaked")
    assert(run1.select("lang").as[String].collect().toSet == Set("en", "de"))

    // second poll: replayed content is suppressed by checkpoint state,
    // genuinely new content flows
    Seq(
      (6L, "long enough text", "en", 16L),  // cross-RUN duplicate
      (7L, "brand new text here", "en", 19L)
    ).toDF("doc_id", "text", "lang", "n_chars")
      .coalesce(1).write.mode("append").parquet(src)
    drain()
    val run2 = spark.read.parquet(out)
    assert(run2.count() == 3, "only the new content may pass the second drain")
  }

  test("dayDriftTws: MapState drift monitor emits a day exactly once, " +
    "when the watermark closes it, with the exact rational TVD") {
    val base = Files.createTempDirectory("graft-drift").toString
    val ref = Map("A" -> 6L, "B" -> 2L) // reference profile, N = 8
    def writeBatch(rows: Seq[(String, String)]): Unit =
      rows.toDF("cat", "s")
        .withColumn("ts", $"s".cast("timestamp")).drop("s")
        .coalesce(1).write.mode("append").parquet(s"$base/src")
    def runOnce(): Seq[(Long, Long, Long, Double)] = {
      val emitted =
        scala.collection.mutable.ListBuffer.empty[(Long, Long, Long, Double)]
      graft.streaming.StateStores.withProvider(spark, "rocksdb") {
        val stream = spark.readStream.schema(
          StructType(Seq(StructField("cat", StringType),
            StructField("ts", TimestampType)))).parquet(s"$base/src")
          .withColumn("day_key",
            unix_millis(date_trunc("DAY", col("ts"))).cast("string"))
          .select(col("day_key"), col("ts"), col("cat"))
          .withWatermark("ts", "1 second")
          .as[(String, java.sql.Timestamp, String)]
        val drift = graft.streaming.StatefulTracking
          .dayDriftTws(spark, stream, ref)
        val q = drift.toDF().writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            df.collect().foreach(r => emitted.synchronized {
              emitted += ((r.getLong(0), r.getLong(1), r.getLong(2),
                r.getDouble(3)))
            })
            ()
          }
          .option("checkpointLocation", s"$base/cp")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
      }
      emitted.toList.sortBy(_._1)
    }
    val day1 = 1704067200000L // 2024-01-01 UTC
    val day2 = day1 + 86400000L
    // run 1: day1 = {A:2, B:1}, day2 = {A:1}; the batch's own watermark
    // (max ts - 1s = Jan-02 08:59:59) already passes day1's end, so day1
    // closes IN THIS DRAIN; day2 stays open.
    writeBatch(Seq(("A", "2024-01-01 10:00:00"), ("A", "2024-01-01 11:00:00"),
      ("B", "2024-01-01 12:00:00"), ("A", "2024-01-02 09:00:00")))
    val r1 = runOnce()
    // day1 TVD: (|2*8-6*3| + |1*8-2*3|) / (2*3*8) = 4/48 = 1/12
    assert(r1 == List((day1, 3L, 2L, 4.0 / 48.0)), s"got $r1")
    // run 2: a far-future event closes day2; day1 must NOT re-emit
    writeBatch(Seq(("A", "2024-01-05 00:00:00")))
    val r2 = runOnce()
    // day2 TVD: (|1*8-6*1| + (8-6)*1) / (2*1*8) = 4/16 = 0.25
    assert(r2 == List((day2, 1L, 1L, 0.25)), s"got $r2")
    // run 3: no new data — nothing closes, nothing re-emits
    assert(runOnce().isEmpty)
    // malformed day key fails LOUDLY with operator attribution (the
    // q233/q235 checked-cast posture), not an opaque NumberFormatException
    val base2 = Files.createTempDirectory("graft-drift-bad").toString
    Seq(("A", "2024-01-01 10:00:00")).toDF("cat", "s")
      .withColumn("ts", $"s".cast("timestamp")).drop("s")
      .coalesce(1).write.mode("append").parquet(s"$base2/src")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.streaming.StateStores.withProvider(spark, "rocksdb") {
        val bad = spark.readStream.schema(
          StructType(Seq(StructField("cat", StringType),
            StructField("ts", TimestampType)))).parquet(s"$base2/src")
          .select(lit("not-a-day").as("day_key"), col("ts"), col("cat"))
          .withWatermark("ts", "1 second")
          .as[(String, java.sql.Timestamp, String)]
        val q = graft.streaming.StatefulTracking.dayDriftTws(spark, bad, ref)
          .toDF().writeStream.format("noop")
          .option("checkpointLocation", s"$base2/cp")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("dayDriftTws")))
  }

  test("closedSessionsTws: event-time timers close sessions as the watermark passes") {
    val base = Files.createTempDirectory("graft-tws").toString
    def writeBatch(rows: Seq[(String, String)]): Unit =
      rows.toDF("device_id", "s")
        .withColumn("event_time", $"s".cast("timestamp")).drop("s")
        .coalesce(1).write.mode("append").parquet(s"$base/src")
    def runOnce(): Seq[(String, Long)] = {
      val emitted = scala.collection.mutable.ListBuffer.empty[(String, Long)]
      graft.streaming.StateStores.withProvider(spark, "rocksdb") {
        val stream = spark.readStream.schema(
          StructType(Seq(StructField("device_id", StringType),
            StructField("event_time", TimestampType)))).parquet(s"$base/src")
          .withWatermark("event_time", "1 second")
          .as[(String, java.sql.Timestamp)]
        val closed = graft.streaming.StatefulTracking
          .closedSessionsTws(spark, stream, gapMs = 30 * 60 * 1000L)
        val q = closed.toDF().writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            df.collect().foreach(r => emitted.synchronized {
              emitted += ((r.getString(0), r.getLong(3)))
            })
            ()
          }
          .option("checkpointLocation", s"$base/cp")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
      }
      emitted.toList
    }
    // run 1: D1 has an open session (2 events) — nothing may emit yet
    writeBatch(Seq(("D1", "2024-01-01 10:00:00"), ("D1", "2024-01-01 10:10:00")))
    assert(runOnce().isEmpty, "open session must not emit")
    // run 2: a much later event advances the watermark past 10:40 → the
    // D1 session closes via its timer; D2's own session stays open
    writeBatch(Seq(("D2", "2024-01-01 13:00:00")))
    val r2 = runOnce()
    assert(r2 == List(("D1", 2L)), s"expected D1's closed 2-event session, got $r2")
    // run 3: within-batch gap — two D2 bursts far apart: the OLD D2
    // session closes inline, the new one stays open
    writeBatch(Seq(("D2", "2024-01-01 15:00:00"), ("D2", "2024-01-01 15:01:00")))
    val r3 = runOnce()
    assert(r3 == List(("D2", 1L)), s"expected D2's first burst closed, got $r3")
  }

  test("cappedSessionsTws: the CAP closes a session inline on a sub-gap " +
    "drip; the gap timer still owns final closure") {
    val base = Files.createTempDirectory("graft-ctws").toString
    def writeBatch(rows: Seq[(String, String)]): Unit =
      rows.toDF("device_id", "s")
        .withColumn("event_time", $"s".cast("timestamp")).drop("s")
        .coalesce(1).write.mode("append").parquet(s"$base/src")
    def runOnce(): Seq[(String, Long, Long)] = {
      val emitted = scala.collection.mutable.ListBuffer.empty[(String, Long, Long)]
      graft.streaming.StateStores.withProvider(spark, "rocksdb") {
        val stream = spark.readStream.schema(
          StructType(Seq(StructField("device_id", StringType),
            StructField("event_time", TimestampType)))).parquet(s"$base/src")
          .withWatermark("event_time", "1 second")
          .as[(String, java.sql.Timestamp)]
        val closed = graft.streaming.StatefulTracking
          .cappedSessionsTws(spark, stream,
            gapMs = 30 * 60 * 1000L, capMs = 40 * 60 * 1000L)
        val q = closed.toDF().writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            df.collect().foreach(r => emitted.synchronized {
              emitted += ((r.getString(0), r.getLong(1), r.getLong(3)))
            })
            ()
          }
          .option("checkpointLocation", s"$base/cp")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
      }
      emitted.toList
    }
    // sub-gap drip every 25 min: gap (30 min) never fires, cap (40 min)
    // closes {10:00, 10:25} inline when 10:50 arrives (50 min from start);
    // the new session {10:50, 11:15} stays open — nothing else may emit
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    writeBatch(Seq(
      ("D1", "2024-01-01 10:00:00"), ("D1", "2024-01-01 10:25:00"),
      ("D1", "2024-01-01 10:50:00"), ("D1", "2024-01-01 11:15:00")))
    val r1 = runOnce()
    assert(r1 == List(("D1", t0, 2L)),
      s"expected the capped first burst only, got $r1")
    // a far-future event advances the watermark past 11:45 → the second
    // session closes via its gap timer
    writeBatch(Seq(("D2", "2024-01-02 00:00:00")))
    val r2 = runOnce()
    assert(r2 == List(("D1", t0 + 50 * 60 * 1000L, 2L)),
      s"expected the second session timer-closed, got $r2")
  }

  test("session windows group activity by gap per device") {
    val base = Files.createTempDirectory("graft-sess").toString
    Seq(("DEV-1", "2021-11-29 08:00:00"), ("DEV-1", "2021-11-29 08:20:00"),
      ("DEV-1", "2021-11-29 12:00:00"),   // > 30 min gap → new session
      ("DEV-2", "2021-11-29 08:10:00"))
      .toDF("device_id", "s")
      .withColumn("start", $"s".cast("timestamp")).drop("s")
      .coalesce(1).write.parquet(s"$base/src")
    val stream = spark.readStream.schema(
      StructType(Seq(StructField("device_id", StringType),
        StructField("start", TimestampType)))).parquet(s"$base/src")
    val agg = graft.streaming.IncrementalIngest.sessionCounts(stream, "30 minutes")
    val q = agg.writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sessions")
      .select($"device_id", $"session_start", $"n_records")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("DEV-1", "2021-11-29 08:00:00", 2L),
      ("DEV-1", "2021-11-29 12:00:00", 1L),
      ("DEV-2", "2021-11-29 08:10:00", 1L)))
  }

  test("dropDuplicatesWithinWatermark bounds the dedup state (opt-in, §2.9)") {
    // The reference's ledger state is unbounded; with an arrival-lateness
    // bound the streaming dedup can expire state instead. Semantics check:
    // duplicates within the watermark window are still collapsed.
    val base = Files.createTempDirectory("graft-wm").toString
    Seq(("a", "DRM", "2024-01-01 10:00:00"), ("a", "DRM", "2024-01-01 10:05:00"),
      ("b", "DRM", "2024-01-01 11:00:00"))
      .toDF("manufacturer_ref", "device_type", "t")
      .withColumn("event_time", $"t".cast("timestamp")).drop("t")
      .coalesce(1).write.parquet(s"$base/src")
    val stream = spark.readStream.schema(
      StructType(Seq(StructField("manufacturer_ref", StringType),
        StructField("device_type", StringType),
        StructField("event_time", TimestampType)))).parquet(s"$base/src")
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("manufacturer_ref")
    val q = stream.writeStream.format("memory").queryName("wm_out")
      .option("checkpointLocation", s"$base/cp")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("wm_out").select($"manufacturer_ref")
      .as[String].collect().sorted
    assert(got.toSeq == Seq("a", "b"))
  }

  test("streaming day-bucket window reproduces the 12:00 cut-off buckets") {
    val base = Files.createTempDirectory("graft-stream2").toString
    val src = s"$base/src"
    Seq(
      ("DEV-1", "2021-11-29 08:00:00"),  // before cut-off → bucket 11-28 12:00
      ("DEV-1", "2021-11-29 13:00:00"),  // after cut-off  → bucket 11-29 12:00
      ("DEV-1", "2021-11-30 11:59:59"))  // before cut-off → bucket 11-29 12:00
      .toDF("device_id", "s")
      .withColumn("start", $"s".cast("timestamp")).drop("s")
      .coalesce(1).write.parquet(src)
    val stream = spark.readStream.schema(
      StructType(Seq(StructField("device_id", StringType),
        StructField("start", TimestampType)))).parquet(src)
    val agg = IncrementalIngest.dayBucketCounts(stream, "12:00:00")
    val q = agg.writeStream.format("memory").queryName("buckets")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("buckets")
      .select($"bucket_start", $"n_records").as[(String, Long)]
      .collect().toMap
    assert(got == Map(
      "2021-11-28 12:00:00" -> 1L,
      "2021-11-29 12:00:00" -> 2L))
  }

  test("attributionJoin pairs within horizon only, inclusive at both ends") {
    val base = Files.createTempDirectory("graft-stream-attr").toString
    val clickSrc = s"$base/clicks"; val purchSrc = s"$base/purchases"
    Seq((10L, 1L, "2024-01-01 10:00:00"), (11L, 2L, "2024-01-01 10:00:00"))
      .toDF("click_id", "c_user", "s")
      .withColumn("c_ts", $"s".cast("timestamp")).drop("s")
      .coalesce(1).write.parquet(clickSrc)
    Seq(
      (20L, 1L, "2024-01-01 10:30:00"),  // inside  → pairs with 10
      (21L, 1L, "2024-01-01 11:00:00"),  // boundary (= +1h) → inclusive
      (22L, 1L, "2024-01-01 11:00:01"),  // past horizon → dropped
      (23L, 1L, "2024-01-01 09:59:59"),  // before the click → dropped
      (24L, 3L, "2024-01-01 10:30:00"))  // other user → dropped
      .toDF("purchase_id", "p_user", "s")
      .withColumn("p_ts", $"s".cast("timestamp")).drop("s")
      .coalesce(1).write.parquet(purchSrc)
    def rs(path: String, id: String, user: String, ts: String) =
      spark.readStream.schema(StructType(Seq(
        StructField(id, LongType), StructField(user, LongType),
        StructField(ts, TimestampType)))).parquet(path)
    val joined = IncrementalIngest.attributionJoin(
      rs(clickSrc, "click_id", "c_user", "c_ts"),
      rs(purchSrc, "purchase_id", "p_user", "p_ts"),
      "c_user", "p_user", "c_ts", "p_ts", horizon = "1 hour")
    val q = joined.writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("attr").select($"click_id", $"purchase_id")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 20L), (10L, 21L)))
  }

  test("tokenBucketTws: state carries ACROSS runs and every admission " +
    "equals the batch replay row for row") {
    val base = Files.createTempDirectory("graft-bucket").toString
    def writeBatch(rows: Seq[(String, Long, Long)]): Unit =
      rows.toDF("k", "ts_ms", "event_id")
        .coalesce(1).write.mode("append").parquet(s"$base/src")
    def runOnce(): Map[Long, Boolean] = {
      val stream = spark.readStream.schema(
        StructType(Seq(StructField("k", StringType),
          StructField("ts_ms", LongType), StructField("event_id", LongType))))
        .parquet(s"$base/src")
        .as[(String, Long, Long)]
      val adm = graft.streaming.StatefulTracking.tokenBucketTws(
        spark, stream, capacity = 2L, refillNum = 1L, refillDenMs = 1000L)
      val emitted = scala.collection.mutable.Map.empty[Long, Boolean]
      graft.streaming.StateStores.withProvider(spark, "rocksdb") {
        val q = adm.toDF().writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            df.collect().foreach(r => emitted.synchronized {
              emitted(r.getLong(1)) = r.getBoolean(2)
            })
            ()
          }
          .option("checkpointLocation", s"$base/cp")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
      }
      emitted.toMap
    }
    // run 1: the q233 unit sequence for key A (cap 2, 1 token/sec)
    val batch1 = Seq(("A", 0L, 10L), ("A", 100L, 11L), ("A", 200L, 12L))
    writeBatch(batch1)
    val r1 = runOnce()
    assert(r1 == Map(10L -> true, 11L -> true, 12L -> false))
    // run 2 resumes bucket state (0 tokens, lastTs 200) from checkpoint:
    // 800 → floor(600/1000)=0, reject; 1900 → +1, admit
    val batch2 = Seq(("A", 800L, 13L), ("A", 1900L, 14L))
    writeBatch(batch2)
    val r2 = runOnce()
    assert(r2.view.filterKeys(Set(13L, 14L)).toMap ==
      Map(13L -> false, 14L -> true))
    // the batch replay over ALL five events decides identically
    val all = (batch1 ++ batch2).toDF("k", "ts_ms", "event_id")
    val batch = graft.ops.EventAnalytics.tokenBucketAdmit(
        all.withColumn("k", lit(1L)), "k", $"ts_ms", "event_id",
        capacity = 2L, refillNum = 1L, refillDenMs = 1000L)
      .select("event_id", "admitted").as[(Long, Boolean)].collect().toMap
    assert(batch == (r1 ++ r2))
  }
}
