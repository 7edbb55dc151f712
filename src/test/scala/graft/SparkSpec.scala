package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
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

  /** `body` with a listener registered by `add` and removed by `remove`.
    * Listener events arrive asynchronously but in order, so the bus is
    * drained before `add` (an event still queued from an earlier query must
    * not count) and before `remove` (every event of `body` must). */
  private def hearing[T](add: => Unit, remove: => Unit)(body: => T): T = {
    Bridge.drainListenerBus(spark)
    add
    try { val out = body; Bridge.drainListenerBus(spark); out }
    finally remove
  }

  /** `body`, with `listener` hearing exactly the Spark events it causes. */
  def listening[T](listener: SparkListener)(body: => T): T =
    hearing(spark.sparkContext.addSparkListener(listener),
      spark.sparkContext.removeSparkListener(listener))(body)

  /** Every query `body` runs, in order. */
  def queriesRun(body: => Unit): Seq[QueryExecution] = {
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        runs.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    hearing(spark.listenerManager.register(listener),
      spark.listenerManager.unregister(listener))(body)
    runs.asScala.toSeq
  }

  /** The shuffle map stages `body` runs: each completed stage that wrote
    * shuffle output (a skipped stage, whose output is reused, runs none). */
  def shuffleStagesRun(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    listening(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          n.incrementAndGet()
    })(body)
    n.get
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
