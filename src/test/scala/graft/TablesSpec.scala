package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Every gate table read takes its schema from a footer read on the driver:
  * no Spark job runs, and the frame is the one `spark.read.parquet` gives.
  */
class TablesSpec extends SparkSpec {

  /** The Spark jobs started while `body` ran. */
  private def jobs(body: => Unit): Int = {
    val n = new AtomicInteger
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    })(body)
    n.get
  }

  test("Tables.table reads all ten sf0.001 tables with no Spark job, as spark.read.parquet reads them") {
    val sf = "/root/testdata/sf0.001"
    var read = Seq.empty[(String, StructType)]
    assert(jobs {
      read = Tables.names.map(n => n -> Tables.table(spark, sf, n).schema)
    } == 0)
    for ((n, schema) <- read) {
      val inferred = spark.read.parquet(s"$sf/$n.parquet")
      // events: the inferred schema after `ts` normalization
      val want = StructType(inferred.schema.map(f =>
        if (n == "events" && f.name == "ts") f.copy(dataType = TimestampType)
        else f))
      assert(schema == want, n)
    }
  }

  test("Tables.stream probes its schema with no Spark job") {
    val sf = "/root/testdata/sf0.001"
    val dir = TempDirs.create("graft-tables-dir")
    Tables.table(spark, sf, "orders").write.mode("overwrite").parquet(dir.toString)
    var schemas = Seq.empty[StructType]
    assert(jobs {
      schemas = Seq(Tables.stream(spark, s"$sf/events.parquet").schema,
        Tables.stream(spark, dir.toString).schema)
    } == 0)
    assert(schemas == Seq(Tables.events(spark, sf).schema,
      spark.read.parquet(dir.toString).schema))
  }
}
