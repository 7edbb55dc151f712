package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Dev utility: print the formatted physical plan of a named query and time
  * its forced execution. Usage:
  *   sbt "runMain graft.tools.Explain <queryName> [sfDir]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Tables.session("graft-explain")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    // per-stage wall breakdown: where a multi-exchange query's time goes
    val stages = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long, Int, String)]
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          stages += ((si.stageId,
            si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
            si.numTasks, si.name.takeWhile(_ != '\n')))
        }
      })
    for (round <- 1 to 2) { // round 1 absorbs JIT/codegen; round 2 is steady
      stages.clear()
      // time construction + force together, like the bench: streaming
      // gates drain and collect-based gates train INSIDE the lambda
      val t0 = System.nanoTime()
      val dfr = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      dfr.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      println(f"[explain] $name round $round construct ${(t1 - t0) / 1e9}%.2f s" +
        f" + force ${(t2 - t1) / 1e9}%.2f s = ${(t2 - t0) / 1e9}%.2f s")
      graft.TempDirs.sweep()
    }
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
    stages.sortBy(_._2).foreach { case (id, sub, done, n, nm) =>
      println(f"[stage] id=$id%-4d wall=${(done - sub) / 1000.0}%6.3fs tasks=$n%-3d $nm")
    }
    spark.stop()
  }
}
