package graft

import org.apache.spark.sql.SparkSession
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
