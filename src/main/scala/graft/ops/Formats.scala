package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** Interchange-format seams beyond parquet — the ingest/egress surface a
  * corpus pipeline actually meets in the wild: columnar ORC for
  * warehouse-side exchange, and line-delimited JSON (the de-facto raw
  * format of web-crawl corpus dumps) read defensively, with malformed
  * lines QUARANTINED instead of failing the task — the same
  * corrupt-bytes contract as the multimodal decoders ([[Multimodal]]):
  * at 100 TB there is always a bad record, and one of them must never
  * kill a 1000-executor stage.
  *
  * Both ops round-trip through real Spark sources (`orc(...)`,
  * `json(...)` with PERMISSIVE + columnNameOfCorruptRecord), so the
  * gates prove the actual source machinery — schema application,
  * partition discovery/pruning, corrupt-record routing — not a
  * simulation of it.
  */
object Formats {

  /** Write `df` as ORC partitioned by `partitionCol`, read it back.
    * Partition values are directory-encoded on write and re-discovered
    * on read, so the partition column comes back LAST in the schema and
    * (with type inference on) may change type for numeric-looking
    * values — callers select columns explicitly. Reading with a
    * partition-column filter prunes directories before any ORC byte is
    * touched (pinned by FormatsSpec's explain check, the posture that
    * matters when the partition count is large).
    */
  def orcRoundTrip(df: DataFrame, path: String,
                   partitionCol: String): DataFrame = {
    df.write.mode("overwrite").partitionBy(partitionCol).orc(path)
    df.sparkSession.read.orc(path)
  }

  /** Write the single string column `lineCol` as raw text (one line per
    * row — JSONL when the lines are JSON), then read it back through
    * Spark's JSON source in PERMISSIVE mode with `schema`: well-formed
    * lines parse into the schema columns, malformed ones surface as a
    * row with all schema columns NULL and the raw line preserved in
    * `corruptCol` — quarantined WITH evidence, never a task failure and
    * never silently dropped. (Spark refuses a query that references
    * ONLY the corrupt column; the gates aggregate it alongside parsed
    * columns, which is also the honest shape — quarantine counts belong
    * next to the good-row stats they were separated from.)
    */
  def jsonlQuarantineRead(lines: DataFrame, path: String,
                          schema: StructType, lineCol: String = "line",
                          corruptCol: String = "_corrupt_record"): DataFrame = {
    lines.select(col(lineCol)).write.mode("overwrite").text(path)
    val full = StructType(schema.fields :+
      StructField(corruptCol, StringType, nullable = true))
    lines.sparkSession.read
      .schema(full)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
  }

  /** RFC-4180 CSV round trip — the lowest-common-denominator interchange
    * seam, and the one where fidelity actually goes to die: this pins
    * the four classic mangles. Quote-escaping is `""` (RFC 4180), NOT
    * backslash — Spark's csv default escape is `\`, which silently
    * mis-reads files written by standards-following producers, so both
    * sides set `escape` to the quote char. NULL is written as `\N` and
    * the empty string as a quoted empty field, so the two survive the
    * trip DISTINCT (the default collapses both to empty). Embedded
    * newlines ride quoted fields, so the read is always multi-line —
    * which makes files NON-SPLITTABLE (one task per file); at 100 TB
    * either normalize newlines out before export or keep files small —
    * a documented trade, not a surprise.
    */
  def csvRoundTrip(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite")
      .option("header", "true")
      .option("escape", "\"")
      .option("nullValue", "\\N")
      .csv(path)
    df.sparkSession.read
      .schema(df.schema)
      .option("header", "true")
      .option("escape", "\"")
      .option("nullValue", "\\N")
      .option("multiline", "true")
      .csv(path)
  }

  /** Schema-evolution read over a directory of parquet batches whose
    * schemas DIFFER (columns added over the corpus's life — the normal
    * state of a long-lived 100 TB table): `mergeSchema=true` unions the
    * footer schemas, and rows from pre-evolution batches surface the
    * added columns as NULL — never a read error, never silent column
    * loss. Cost note, and why this is an explicit seam instead of a
    * default: merging reads EVERY file's footer up front (at millions of
    * files that is the slow step) — production tables should evolve
    * through a catalog/declared schema and use this path for
    * catalog-less raw drops only.
    */
  def evolvedParquetRead(spark: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  /** Avro Object Container File interchange — the row-oriented exchange
    * format of Kafka/stream-adjacent pipelines. This build carries the
    * core `org.apache.avro` library but NOT the `spark-avro` datasource
    * module, so the container IO is implemented directly on the public
    * Avro API: ONE OCF per input partition on write (task-local
    * sequential IO, no driver involvement beyond the job), and on read
    * one task per container file decoding through a STREAMING iterator —
    * a file is never buffered whole, so a multi-GB container costs one
    * record of memory at a time. Supported column types: long, int,
    * double, string, boolean, binary; nullability maps to
    * union(null, T) both ways.
    */
  def writeAvro(df: DataFrame, path: String): Long = {
    val schema = df.schema
    val json = avroSchemaJson(schema)
    new java.io.File(path).mkdirs()
    df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      val sch = new org.apache.avro.Schema.Parser().parse(json)
      val out = new java.io.File(path, f"part-$pid%05d.avro")
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](sch))
      w.create(sch, out)
      var n = 0L
      try {
        rows.foreach { r =>
          val rec = new org.apache.avro.generic.GenericData.Record(sch)
          var i = 0
          while (i < schema.length) {
            rec.put(i,
              if (r.isNullAt(i)) null
              else schema(i).dataType match {
                case BinaryType =>
                  java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]](i))
                case _ => r.get(i)
              })
            i += 1
          }
          w.append(rec)
          n += 1
        }
      } finally w.close()
      Iterator.single(n)
    }.sum().toLong
  }

  /** Read a [[writeAvro]] layout back as a DataFrame with `schema`. */
  def readAvro(spark: org.apache.spark.sql.SparkSession, path: String,
               schema: StructType): DataFrame = {
    val files = Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".avro")).map(_.getAbsolutePath).sorted
    val fields = schema.fields
    val rows = spark.sparkContext
      .parallelize(files, math.max(1, files.length))
      .flatMap { fp =>
        val reader = org.apache.avro.file.DataFileReader.openReader(
          new java.io.File(fp),
          new org.apache.avro.generic.GenericDatumReader[
            org.apache.avro.generic.GenericRecord]())
        new Iterator[Row] {
          private var open = true
          override def hasNext: Boolean = {
            if (!open) return false
            val h = reader.hasNext
            if (!h) { reader.close(); open = false }
            h
          }
          override def next(): Row = {
            val rec = reader.next()
            Row.fromSeq(fields.indices.map { i =>
              rec.get(i) match {
                case null => null
                case u: org.apache.avro.util.Utf8 => u.toString
                case b: java.nio.ByteBuffer =>
                  val a = new Array[Byte](b.remaining()); b.get(a); a
                case v => v
              }
            })
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }

  /** [[writeAvro]] then [[readAvro]] — the fidelity-gate form. */
  def avroRoundTrip(df: DataFrame, path: String): DataFrame = {
    val schema = df.schema
    writeAvro(df, path)
    readAvro(df.sparkSession, path, schema)
  }

  private def avroType(dt: DataType): String = dt match {
    case LongType => "\"long\""
    case IntegerType => "\"int\""
    case DoubleType => "\"double\""
    case StringType => "\"string\""
    case BooleanType => "\"boolean\""
    case BinaryType => "\"bytes\""
    case other => throw new IllegalArgumentException(
      s"avro seam supports primitive columns only, got $other")
  }

  private val AvroName = "[A-Za-z_][A-Za-z0-9_]*".r

  private def avroSchemaJson(schema: StructType): String = {
    val unsafe = schema.fieldNames.filterNot(AvroName.matches)
    require(unsafe.isEmpty,
      s"avro field names must be simple identifiers: ${unsafe.toSeq}")
    // a default is only legal when it matches the FIRST union branch, so
    // nullable fields carry "default": null and required ones carry none
    val fs = schema.fields.map { f =>
      if (f.nullable)
        s"""{"name": "${f.name}", "type": ["null", ${avroType(f.dataType)}], "default": null}"""
      else
        s"""{"name": "${f.name}", "type": ${avroType(f.dataType)}}"""
    }
    s"""{"type": "record", "name": "graft_row", "fields": [${fs.mkString(", ")}]}"""
  }
}
