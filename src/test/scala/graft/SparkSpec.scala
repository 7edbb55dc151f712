package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide SparkSession built by the
  * mains' own factory, [[Tables.session]], at 4 cores (small shuffle width
  * for test speed).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body` with the session's `conf` settings in force, restored after. */
  def withConf[T](conf: (String, String)*)(body: => T): T = {
    val before = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every query `body` runs, in order. */
  def queriesRun(body: => Unit): Seq[QueryExecution] = {
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    // listener events arrive asynchronously but in order, so `body`'s are
    // exactly those between a start and an end marker query's: an event
    // still queued from an earlier query must not count
    val start = s"plans_start_${System.nanoTime()}"
    val marker = s"plans_marker_${System.nanoTime()}"
    @volatile var started = false
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == start)) started = true
        else if (qe.analyzed.output.exists(_.name == marker)) drained.countDown()
        else if (started) runs.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.range(1).toDF(start).collect()
      body
      spark.range(1).toDF(marker).collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    runs.asScala.toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // catalog tables (BucketedSpec) land in a per-JVM scratch dir, never the
    // repo's ./spark-warehouse; a static conf, so it is set before the
    // session is built (SparkConf reads spark.* system properties)
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    Tables.session("graft-tests", "4")
  }
}
