package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Pins [[Tables.stream]]'s footer probe + `ts` normalization across the
  * three physical types the driver's testdata has shipped between rounds
  * (see `Tables.normalizeTs`): TIMESTAMP(MICROS, adjustedToUTC=true),
  * TIMESTAMP(MICROS, adjustedToUTC=false) (NTZ), and nanos-as-INT64.
  *
  * This is the r6/r7 regression class made permanent: a hard-coded LongType
  * schema read over a MICROS file treated raw micros as nanos, `div 1000`
  * landed every event in January 1970, and the streaming day-window and
  * stream-stream-join gates silently returned garbage (5 rows vs 155;
  * 12,998 vs 33). Every physical type must normalize to the SAME UTC
  * instants, through both the streaming and batch readers.
  */
class TablesStreamSpec extends SparkSpec {
  import spark.implicits._

  private val wallClock = Seq(
    "2021-11-28 13:14:15.123456",
    "2021-11-29 01:02:03.654321")

  /** Drain a stream of the fixture dir's events.parquet and return (ts dataType, the
    * UTC-rendered instants). Rendering via date_format under the UTC session
    * timezone keeps the assertion independent of the JVM default zone.
    */
  private def drainTs(dir: String): (DataType, Seq[String]) = {
    val df = Tables.stream(spark, s"$dir/events.parquet")
    assert(df.isStreaming, "stream must return a streaming DataFrame")
    val name = "ts_drift_" + math.abs(dir.hashCode).toString
    val cp = Files.createTempDirectory("graft-tsdrift-cp").toString
    val q = df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table(name)
    (out.schema("ts").dataType, rendered(out))
  }

  private def rendered(df: DataFrame): Seq[String] =
    df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("s"))
      .as[String].collect().toSeq.sorted

  private def src: DataFrame =
    wallClock.zipWithIndex.toDF("s", "event_id")

  /** Write `df` as a DIRECTORY named events.parquet under a fresh dir —
    * the ScaleUp-replica layout stream must point at directly.
    */
  private def writeDir(df: DataFrame): String = {
    val base = Files.createTempDirectory("graft-tsdrift").toString
    df.coalesce(1).write.parquet(s"$base/events.parquet")
    base
  }

  /** Write `df` as a single bare FILE events.parquet — the driver-testdata
    * layout stream must reach via the pathGlobFilter branch.
    */
  private def writeFile(df: DataFrame): String = {
    val staging = Files.createTempDirectory("graft-tsdrift-stage")
    df.coalesce(1).write.parquet(staging.resolve("out").toString)
    val part = Files.list(staging.resolve("out")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val base = Files.createTempDirectory("graft-tsdrift")
    Files.copy(part, base.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    base.toString
  }

  private def withMicrosOutput[T](body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val old = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body finally spark.conf.set(key, old)
  }

  test("TIMESTAMP(MICROS, utc) footer: ts passes through unchanged (file layout)") {
    val dir = withMicrosOutput {
      writeFile(src.select(to_timestamp(col("s")).as("ts"), col("event_id")))
    }
    val (dt, got) = drainTs(dir)
    assert(dt == TimestampType)
    assert(got == wallClock.sorted)
  }

  test("TIMESTAMP(MICROS, ntz) footer: NTZ reinterpreted as UTC (dir layout)") {
    val dir = writeDir(
      src.select(to_timestamp_ntz(col("s")).as("ts"), col("event_id")))
    val (dt, got) = drainTs(dir)
    assert(dt == TimestampType)
    assert(got == wallClock.sorted)
  }

  test("INT64 nanos footer: exact div-1000 to micros precision (dir layout)") {
    // unix_micros under the UTC session gives the same instants the MICROS
    // fixture stores; scale to nanos to exercise the LongType branch (the
    // shape a TIMESTAMP(NANOS) footer reads as under nanosAsLong)
    val dir = writeDir(src.select(
      (unix_micros(to_timestamp(col("s"))) * 1000L).as("ts"),
      col("event_id")))
    val (dt, got) = drainTs(dir)
    assert(dt == TimestampType)
    assert(got == wallClock.sorted)
  }

  test("batch reader (Tables.events) normalizes the nanos layout identically") {
    val dir = writeFile(src.select(
      (unix_micros(to_timestamp(col("s"))) * 1000L).as("ts"),
      col("event_id")))
    val out = Tables.events(spark, dir)
    assert(out.schema("ts").dataType == TimestampType)
    assert(rendered(out) == wallClock.sorted)
  }

  test("stream over an empty staging dir fails fast with the staging hint") {
    val dir = Files.createTempDirectory("graft-tsdrift-empty").toString
    val e = intercept[IllegalArgumentException] { Tables.stream(spark, dir) }
    assert(e.getMessage.contains("stage at least one file"))
  }

  test("non-ts columns pass through the stream untouched") {
    val dir = writeDir(src.select(
      (unix_micros(to_timestamp(col("s"))) * 1000L).as("ts"),
      col("event_id")))
    val df = Tables.stream(spark, s"$dir/events.parquet")
    assert(df.schema.fieldNames.toSeq == Seq("ts", "event_id"))
    assert(df.schema("event_id").dataType == IntegerType)
  }

  test("oneFilePerBatch drains 4 staged files as 4 micro-batches, else as 1") {
    val stage = Files.createTempDirectory("graft-stream-batches").toString
    spark.range(0, 40).repartitionByRange(4, col("id"))
      .write.mode("overwrite").parquet(stage)
    /** The micro-batches that read input, from the query's progress. */
    def batches(oneFilePerBatch: Boolean): Int = {
      val q = Tables.stream(spark, stage, oneFilePerBatch).writeStream
        .format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-stream-batches-cp").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val read = q.recentProgress.filter(_.numInputRows > 0)
      assert(read.map(_.numInputRows).sum == 40L)
      read.length
    }
    assert(batches(oneFilePerBatch = true) == 4)
    assert(batches(oneFilePerBatch = false) == 1)

    // the ledger ingest over a source that holds no file yet has no footer
    // to take its schema from: it fails with the staging hint, before any
    // query starts or any ledger is made
    val base = Files.createTempDirectory("graft-stream-empty-src")
    val src = Files.createDirectory(base.resolve("src")).toString
    val ledger = base.resolve("ledger")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.IncrementalIngest.runIntoLedger(spark, src,
        base.resolve("cp").toString, new graft.ledger.Ledger(spark, ledger.toString))
    }
    assert(e.getMessage.contains("stage at least one file"))
    assert(!Files.exists(ledger) && !Files.exists(base.resolve("cp")))
  }
}
