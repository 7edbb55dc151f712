package graft
import java.nio.file.{Files, Paths}
import graft.connect.MiniJson
import graft.connect.MiniJson.{JObj, JStr}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes (dev runs; the
    // driver always dumps the full suite)
    val only: String => Boolean = if (args.length > 2) {
      val prefixes = args(2).split(",").toSeq
      name => prefixes.exists(name.startsWith)
    } else _ => true
    val spark = Tables.session("graft-verify")
    TempDirs.sweepStale() // crashed earlier runs leave graft-* litter
    new java.io.File(outDir).mkdirs()
    def cached(): Int = org.apache.spark.sql.graftbridge.Bridge.cachedEntries(spark)
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      val before = cached()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // a gate owns nothing past its own run: a relation it left cached
      // is its failure
      val left = cached() - before
      if (left > 0)
        System.err.println(s"[verify] $name failed: left $left cached relation(s)")
      // the parquet write above fully forced the query, so its scratch
      // dirs (stage/out/checkpoint) are dead — drop them now, not at exit
      TempDirs.sweep()
    }
    val json = MiniJson.render(
      JObj(SparkEntry.oracleSql.map { case (k, v) => k -> JStr(v) }))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
