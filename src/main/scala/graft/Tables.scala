package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ParquetFooters

/** Canonical readers for the driver-provided parquet testdata
  * (`/root/testdata/sf*`, see TESTDATA.md).
  *
  * Scale notes (100 TB posture): every reader returns a plain parquet scan so
  * Catalyst keeps predicate pushdown / column pruning / partition pruning.
  * Nothing here collects or caches on the driver, and no read of a file or
  * a flat directory runs a schema-inference job: the schema comes from a
  * footer read on the driver ([[ParquetFooters]]).
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The driver has shipped `events.parquet` with `ts` as parquet
    * TIMESTAMP(NANOS) in some rounds and native TIMESTAMP(MICROS) in others,
    * so every reader must adapt to the footer it actually finds. NANOS is
    * rejected by Spark 4 ([PARQUET_TYPE_ILLEGAL]) unless
    * `spark.sql.legacy.parquet.nanosAsLong=true` maps it to LongType;
    * [[session]] sets that, and this converts to a micros-precision
    * TimestampType with exact integer division (`div`, not `/`, because nanos
    * since epoch exceed 2^53 and double division would lose precision).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = ParquetFooters.read(spark, s"$dir/events.parquet")
    normalizeTs(raw, raw.schema)
  }

  /** Three `ts` physical types have shipped across testdata regenerations:
    * TIMESTAMP(NANOS) (→ LongType under nanosAsLong), TIMESTAMP(MICROS,
    * adjustedToUTC=true) (→ TimestampType), and TIMESTAMP(MICROS,
    * adjustedToUTC=false) (→ TimestampNTZType). All three normalize to
    * TimestampType; the NTZ cast reinterprets in the session timezone, which
    * [[session]] pins to UTC — the same naive-as-UTC reading the DuckDB
    * oracle applies to the identical file.
    */
  private def normalizeTs(df: DataFrame,
                          schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (!schema.fieldNames.contains("ts")) df
    else schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos-as-long source
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df // already TimestampType (native micros, or a ScaleUp replica)
    }

  /** Streaming twin of [[table]], and the one file-stream reader: file
    * streams need an explicit schema, and hard-coding one breaks silently
    * when the testdata is regenerated with a different `ts` physical type
    * (an r6 lesson: LongType over a TIMESTAMP(MICROS) file reads raw
    * micros, `div 1000` then lands every event in January 1970 — one giant
    * window, exploded interval joins). Probe the real footer schema on the
    * driver ([[ParquetFooters]]), stream with THAT, and normalize `ts` after
    * load exactly like the batch path.
    *
    * The file source needs a directory: the shared testdata keeps each
    * table as a single FILE (streamed through its parent dir, glob-filtered
    * to its name), while ScaleUp replicas and staged inputs are a DIRECTORY
    * of part files (streamed as it is — new files landing later are picked
    * up by later triggers). Hadoop FS, not java.io.File, so hdfs:// and
    * s3a:// layouts resolve the same way.
    *
    * `oneFilePerBatch` drains one file per micro-batch (the admission
    * shapes' staged files); otherwise a drain takes everything present as
    * one batch, which the ledger ingest needs to pick one survivor among
    * copies in different files.
    */
  def stream(spark: SparkSession, path: String,
             oneFilePerBatch: Boolean = false): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val isDir = fs.exists(p) && fs.getFileStatus(p).isDirectory
    val rawSchema =
      try ParquetFooters.read(spark, path).schema
      catch {
        // ONLY the empty-staging-dir case gets the staging hint; any other
        // AnalysisException (missing path, corrupt footer, permissions)
        // keeps its real error
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
          throw new IllegalArgumentException(
            s"stream($path): no parquet file present to probe the schema " +
              "from; stage at least one file before building the stream", e)
      }
    val reader = spark.readStream.schema(rawSchema)
    val perBatch =
      if (oneFilePerBatch) reader.option("maxFilesPerTrigger", 1) else reader
    val stream =
      if (isDir) perBatch.parquet(path)
      else perBatch.option("pathGlobFilter", p.getName).parquet(p.getParent.toString)
    normalizeTs(stream, rawSchema)
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else ParquetFooters.read(spark, s"$dir/$name.parquet")

  /** The local core count every main runs at: `$SPARK_GRAFT_CPUS`, else
    * every processor this JVM may use.
    */
  def cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** [[session]] at [[cores]]. */
  def session(appName: String): SparkSession = session(appName, cores)

  /** Session factory used by mains and tests: UTC (oracle parity), shuffle
    * partitions sized to local cores (not the 200 default; the one base
    * of every explicit count, see [[graft.ops.Partitions]]), AQE on,
    * nanos-precision parquet timestamps read as longs ([[events]]), a
    * generated-class cache that holds a session's working set, and `file:`
    * paths through [[NioLocalFileSystem]] and, for `FileContext` (streaming
    * checkpoints and state stores), [[NioLocalFs]]: no `chmod` or
    * `readlink` fork per file; `hdfs:`/`s3a:` paths are unaffected.
    */
  def session(appName: String, cores: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      // Spark's generated-class cache is one LRU per JVM (Guava, 4
      // segments), sized once by CodeGenerator's static initialiser from
      // this static conf, so it must be set here, before the first query.
      // At the default 100 entries, perfbench's etl_daily (~130 distinct
      // classes per JVM) and gate_mix (261) evicted their classes before
      // reusing them, and each warm DAG run recompiled ~70 of them; at
      // 1000, a few times the larger working set, it compiles 4
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // the cache is keyed by class loader too, and with per-session
      // artifact isolation each session's tasks get their own: every
      // streaming query runs in a fresh clone of the session, so q33
      // recompiled its 14 classes on every run. Nothing here adds
      // session artifacts (jars, files) to isolate
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NioLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
