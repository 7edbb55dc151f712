package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** S4 — the reference's 2-column key→value lookup CSVs
  * (`dreem_uid_to_serial.csv`, `serial_to_id.csv`;
  * ideafast_etl/hooks/ucam.py:138-188): headerless, whole-file loaded into a
  * dict and `lru_cache`d per path.
  *
  * Spark mapping: a declared-schema CSV scan marked for broadcast — the
  * broadcast IS the cache (built once, shipped to every executor, reused by
  * every join in the plan). Duplicate keys keep the SMALLEST value — "file
  * order" is not meaningful in a distributed scan, so min-wins is the
  * deterministic policy under any partitioning (the reference's dict build
  * keeps the last row; duplicate keys are a data error either way).
  */
object LookupCsv {

  def read(spark: SparkSession, path: String,
           keyName: String, valueName: String): DataFrame = {
    val raw = spark.read
      .schema(StructType(Seq(
        StructField(keyName, StringType), StructField(valueName, StringType))))
      .option("header", "false")
      .csv(path)
    // min-wins dedup on the key → safe for equi-join enrichment; on one
    // partition, since the side is broadcast whole: no shuffle, one job
    broadcast(raw.coalesce(1).groupBy(col(keyName))
      .agg(min(col(valueName)).as(valueName)))
  }
}
