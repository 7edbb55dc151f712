package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.Tables

/** Dev utility: build a key-shifted N× replica of a testdata directory so
  * scaling behavior can be MEASURED rather than argued
  * (`runMain graft.tools.ScaleUp <srcDir> <outDir> <factor>`).
  *
  * Fact tables replicate with shifted primary keys (event_id / o_orderkey /
  * l_orderkey / doc_id / vec_id); foreign keys to the dimension tables stay
  * in range, so per-key DENSITY also grows — deliberately the harsher test
  * for the join/aggregation shapes (hot keys get 10× hotter).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    val spark = Tables.session("graft-scaleup")

    def replicate(name: String, idCols: Map[String, Long]): Unit = {
      val base = Tables.table(spark, src, name)
      // events.ts: write back as int64 nanos — the representation every
      // repo consumer reads (Tables.events' nanos-as-long branch, the
      // streaming gates' pinned LongType schema). NOT byte-identical to
      // the source: parquet TIMESTAMP(NANOS) is unwritable from Spark, and
      // sub-microsecond digits were already truncated on read. Oracle SQL
      // that does timestamp arithmetic on ts therefore runs against the
      // SOURCE dirs only (where the driver's gate runs it), never a
      // replica — the replica serves the Spark-side Bench.
      val faithful =
        if (name == "events") base.withColumn("ts", expr("unix_micros(ts) * 1000"))
        else base
      val copies = (0 until factor).map { i =>
        idCols.foldLeft(faithful) { case (df, (c, stride)) =>
          df.withColumn(c, col(c) + lit(i * stride))
        }
      }
      copies.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
    }
    def copy(name: String): Unit =
      Tables.table(spark, src, name).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/$name.parquet")

    Seq("region", "nation", "customer", "supplier", "part").foreach(copy)
    replicate("events", Map("event_id" -> 10000000L))
    replicate("orders", Map("o_orderkey" -> 100000000L))
    replicate("lineitem", Map("l_orderkey" -> 100000000L))
    replicate("documents", Map("doc_id" -> 1000000L))
    replicate("embeddings", Map("vec_id" -> 1000000L))
    println(s"[scaleup] wrote ${factor}x of $src to $out")
    spark.stop()
  }
}
