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

  /** Streaming twin of [[table]]: file streams need an explicit schema, and
    * hard-coding one breaks silently when the driver regenerates testdata
    * with a different `ts` physical type (an r6 lesson: LongType over a
    * TIMESTAMP(MICROS) file reads raw micros, `div 1000` then lands every
    * event in January 1970 — one giant window, exploded interval joins).
    * Probe the real footer schema on the driver ([[ParquetFooters]]), stream
    * with THAT, and normalize `ts` after load exactly like the batch path.
    *
    * The file source needs a directory: the driver's testdata keeps each
    * table as a single FILE in `dir` (glob-filter it), while ScaleUp
    * replicas write a DIRECTORY of part files (point at it directly — a
    * leaf-name glob would match nothing inside and silently stream zero
    * rows). Hadoop FS, not java.io.File, so hdfs:// and s3a:// layouts
    * resolve the same way.
    */
  def tableStream(spark: SparkSession, dir: String, leaf: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir, leaf)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val isDir = fs.exists(p) && fs.getFileStatus(p).isDirectory
    val rawSchema = ParquetFooters.read(spark, p.toString).schema
    val stream =
      if (isDir) spark.readStream.schema(rawSchema).parquet(p.toString)
      else spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", leaf).parquet(dir)
    normalizeTs(stream, rawSchema)
  }

  /** Stream every parquet file under `dir` (no leaf glob — new files landing
    * later are picked up by subsequent triggers), schema probed from the
    * files already present. Used by StreamBench's stage-then-redeliver dirs.
    */
  def dirStream(spark: SparkSession, dir: String): DataFrame = {
    val rawSchema =
      try ParquetFooters.read(spark, dir).schema
      catch {
        // ONLY the empty-staging-dir case gets the staging hint; any other
        // AnalysisException (missing path, corrupt footer, permissions)
        // keeps its real error
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
          throw new IllegalArgumentException(
            s"dirStream($dir): no parquet file present to probe the schema " +
              "from; stage at least one file before building the stream", e)
      }
    normalizeTs(spark.readStream.schema(rawSchema).parquet(dir), rawSchema)
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
