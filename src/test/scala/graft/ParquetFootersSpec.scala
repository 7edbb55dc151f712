package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.ParquetFooters

/** The footer-schema read is `spark.read.parquet` without its inference job:
  * same schema, same rows, for every timestamp encoding the ETL's inputs
  * arrive in, a map column, and a ledger whose files list their columns in
  * different orders.
  */
class ParquetFootersSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-footers").toString

  /** `df` written with the session's `conf` settings in force. */
  private def written(df: DataFrame, conf: (String, String)*): String = {
    val out = tmp() + "/t"
    withConf(conf: _*)(df.write.parquet(out))
    out
  }

  private def sameAsInferred(paths: String*): Unit = {
    val inferred = spark.read.parquet(paths: _*)
    val got = ParquetFooters.read(spark, paths: _*)
    assert(got.schema == inferred.schema)
    assert(got.collect().map(_.toString).sorted.toSeq ==
      inferred.collect().map(_.toString).sorted.toSeq)
  }

  private val stamps = Seq(("r1", "2021-11-10 13:00:00", "k", "v"),
    ("r2", "2021-11-11 09:30:00", "k2", "v2"))
    .toDF("ref", "s", "mk", "mv")
    .select($"ref", $"s".cast("timestamp").as("ts"), map($"mk", $"mv").as("meta"))

  test("INT96, TIMESTAMP_MICROS and TIMESTAMP_NTZ timestamps and a map column read as inference reads them") {
    val key = "spark.sql.parquet.outputTimestampType"
    sameAsInferred(written(stamps, key -> "INT96"))
    sameAsInferred(written(stamps, key -> "TIMESTAMP_MICROS"))
    sameAsInferred(written(stamps.withColumn("ts", $"ts".cast("timestamp_ntz"))))
    // a single file, and several directories at once
    val dir = written(stamps.repartition(2))
    val file = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get.toString
    sameAsInferred(file)
    sameAsInferred(dir, written(stamps, key -> "INT96"))
  }

  test("a ledger whose files list their columns in different orders reads as inference reads it") {
    val ledger = s"${tmp()}/ledger"
    def records(refs: String*) = refs.toDF("manufacturer_ref")
      .select($"manufacturer_ref", lit("DRM").as("device_type"),
        current_timestamp().as("start"), current_timestamp().as("end"),
        map(lit("dreem_uid"), lit("U0")).as("meta"), sha2($"manufacturer_ref", 256).as("hash"),
        lit(null).cast("string").as("device_serial"),
        lit(null).cast("string").as("device_id"),
        lit(null).cast("string").as("patient_id"),
        lit(null).cast("string").as("dmp_dataset"),
        lit(null).cast("string").as("dmp_id"), lit(false).as("is_uploaded"))
    // init with hash after meta, then a file that lists hash first, as
    // appends of earlier versions wrote it (the anti-join's key led)
    new graft.ledger.Ledger(spark, ledger).init(records("r0"))
    val later = records("r1", "r2")
    later.select("hash", later.columns.filter(_ != "hash"): _*)
      .write.mode("append").parquet(s"$ledger/open")
    val orders = Files.list(Paths.get(ledger, "open"))
      .filter(_.toString.endsWith(".parquet")).toArray.map(f =>
        spark.read.parquet(f.toString).columns.toSeq).distinct
    assert(orders.length == 2, orders.toSeq)
    sameAsInferred(s"$ledger/open")
    assert(new graft.ledger.Ledger(spark, ledger).read().schema ==
      spark.read.parquet(s"$ledger/open").schema)
  }

  test("a path a listing cannot pin to files falls back to inference") {
    val dir = tmp()
    stamps.write.partitionBy("ref").parquet(s"$dir/t")
    assert(ParquetFooters.read(spark, s"$dir/t").schema == spark.read.parquet(s"$dir/t").schema)
    assert(ParquetFooters.read(spark, s"$dir/*").schema == spark.read.parquet(s"$dir/*").schema)
    intercept[org.apache.spark.sql.AnalysisException](ParquetFooters.read(spark, s"$dir/none"))
  }
}
