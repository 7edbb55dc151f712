package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** One AvailableNow drain: start the query over everything its source holds
  * now, block until that is processed, and report how many input rows the
  * drain read. Every streaming gate, StreamBench and [[IncrementalIngest]]
  * drain through here, so the trigger, the checkpoint, the state-store
  * provider and the state partition count are set in one place.
  *
  * State partitions: streaming state is hash-partitioned by
  * `spark.sql.shuffle.partitions` AT CHECKPOINT CREATION and pinned for the
  * checkpoint's lifetime, and every stateful operator pays per-partition
  * state-store open/commit I/O each micro-batch, regardless of row volume
  * (measured: the stream-stream join drains in 9.2 s with 32 state
  * partitions and 2.6 s with 4, same rows). A drain therefore runs at
  * [[StatePartitions]]; the session's batch width is restored afterwards.
  * A foreachBatch body runs its batch queries at the same width (Spark
  * runs them in the query's session, which carries the checkpoint's
  * partition count).
  */
object Drain {

  /** State partitions of every drain (sized to bench-scale state; a
    * production job sizes them to expected state volume). */
  val StatePartitions: Int = 8

  /** Drain into a driver-memory table in `mode` ("complete" or "append")
    * and return its rows with the input row count. The table is read
    * without leaving a temp view behind: the view the memory sink registers
    * is dropped once the returned frame holds the sink's plan. An
    * append-mode memory sink cannot restart from its checkpoint; a drain
    * that runs again on one checkpoint uses [[toFiles]].
    */
  def toMemory(stream: DataFrame, checkpoint: String, mode: String,
               provider: Option[String] = None): (DataFrame, Long) = {
    val spark = stream.sparkSession
    val name = "drain_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val rows = run(spark, stream.writeStream.format("memory").queryName(name)
      .outputMode(mode), checkpoint, provider)
    val out = spark.table(name)
    spark.catalog.dropTempView(name)
    (out, rows)
  }

  /** Drain in append mode into the parquet directory `path`. */
  def toFiles(stream: DataFrame, checkpoint: String, path: String,
              provider: Option[String] = None): Long =
    run(stream.sparkSession, stream.writeStream.format("parquet")
      .option("path", path).outputMode("append"), checkpoint, provider)

  /** Drain through `body`, called once per micro-batch. */
  def eachBatch(stream: DataFrame, checkpoint: String,
                provider: Option[String] = None)(body: DataFrame => Unit): Long =
    run(stream.sparkSession, stream.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) => body(batch)
    }, checkpoint, provider)

  /** Start, await, and sum `numInputRows` over the query's progress
    * reports (the last `spark.sql.streaming.numRecentProgressUpdates` of
    * them, 100 by default: more micro-batches than that undercount). A
    * plan that scans its source twice (a self-join, a union of two reads,
    * a foreachBatch body reading its batch twice) counts each row twice. */
  private def run(spark: SparkSession, writer: DataStreamWriter[Row],
                  checkpoint: String, provider: Option[String]): Long = {
    def go(): StreamingQuery = {
      val key = "spark.sql.shuffle.partitions"
      val width = spark.conf.get(key)
      spark.conf.set(key, StatePartitions.toString)
      try {
        val q = writer.option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow()).start()
        // no stop(): a drained query has already left spark.streams.active,
        // and stopping its exiting thread measurably slows every drain
        q.awaitTermination()
        q
      } finally spark.conf.set(key, width)
    }
    val q = provider.fold(go())(StateStores.withProvider(spark, _)(go()))
    q.recentProgress.map(_.numInputRows).sum
  }
}
