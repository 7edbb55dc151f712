package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted against one span (or one layer). */
final class Counts {
  var jobs, tasks, inputRows, outputBytes, outputRows, shuffleBytes,
      spillBytes, gcMs, resultBytes, executions, collects = 0L
  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; inputRows += o.inputRows
    outputBytes += o.outputBytes; outputRows += o.outputRows
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    gcMs += o.gcMs; resultBytes += o.resultBytes
    executions += o.executions; collects += o.collects
  }
  def toJson: String =
    Seq("jobs" -> jobs, "tasks" -> tasks, "input_rows" -> inputRows,
      "output_bytes" -> outputBytes, "output_rows" -> outputRows,
      "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
      "gc_ms" -> gcMs, "result_bytes" -> resultBytes,
      "executions" -> executions, "collects" -> collects)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}

/** One timed interval: a DAG run, a stage, a gate pass or a gate. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and Spark work counts, kept in memory and written at the end.
  *
  * The benchmark opens a span around each call into the program; the span
  * id travels to Spark as a local property of the calling thread, so every
  * job (including those of streaming threads started inside the span)
  * carries it. A `SparkListener` sums task metrics per span and per layer;
  * a `QueryExecutionListener` counts the Dataset actions of each span. A
  * job's layer is the package of the first program frame of its call site.
  */
final class Tracer(spark: SparkSession) {
  private val Key = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  /** Work per (span id, layer); spans and layers are sums over it. */
  private val work = new ConcurrentHashMap[(Int, String), Counts]()
  private val stageOwner = new ConcurrentHashMap[Int, (Int, String)]()
  private val execOwner = new ConcurrentHashMap[Long, (Int, String)]()
  private val execLayer = new ConcurrentHashMap[Long, String]()
  /** QueryExecution.id -> SQL execution id, and actions awaiting it. */
  private val queryExec = new ConcurrentHashMap[Long, Long]()
  private val actions = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean)]()

  private def counts(k: (Int, String)) = work.computeIfAbsent(k, _ => new Counts)

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        execLayer.put(x.executionId, Tracer.layerOf(x.details))
      case x: SparkListenerSQLExecutionEnd =>
        PerfbenchAccess.queryIdOf(x).foreach(q => queryExec.put(q, x.executionId))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val span = prop(Key).map(_.toInt).getOrElse(-1)
      val exec = prop("spark.sql.execution.id").map(_.toLong)
      // the result stage carries the job's call site; a job that AQE
      // submits from its own thread pool takes its SQL action's call site
      val own = Tracer.layerOf(e.stageInfos.sortBy(_.stageId).lastOption
        .map(_.details).getOrElse(""))
      val layer = if (own != "other") own
        else exec.flatMap(id => Option(execLayer.get(id))).getOrElse(own)
      val owner = (span, layer)
      exec.foreach(id => execOwner.putIfAbsent(id, owner))
      e.stageIds.foreach(s => stageOwner.put(s, owner))
      val c = counts(owner)
      c.synchronized(c.jobs += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val owner = Option(stageOwner.get(e.stageId)).getOrElse((-1, "other"))
      val m = e.taskMetrics
      if (m != null) {
        val c = counts(owner)
        c.synchronized {
          c.tasks += 1
          c.inputRows += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.outputRows += m.outputMetrics.recordsWritten
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          c.gcMs += m.jvmGCTime
          c.resultBytes += m.resultSize
        }
      }
    }
  }

  /** Counts Dataset actions. The listener bus calls it before this
    * tracer's SparkListener sees the execution's end event, which links the
    * action to its SQL execution, so actions are attributed in [[flush]].
    */
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, funcName: String): Unit =
      actions.add((qe.id, funcName.startsWith("collect")))
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe, f)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, f)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    flush()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Time `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
      System.nanoTime())
    spans += s
    stack = s :: stack
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Key, outer)
    }
  }

  /** Wait until the listener bus has delivered every queued event, then
    * attribute the recorded actions to their spans and layers.
    */
  def flush(): Unit = {
    PerfbenchAccess.drainListeners(spark)
    var a = actions.poll()
    while (a != null) {
      val (query, collect) = a
      val c = counts(Option(queryExec.get(query))
        .flatMap(e => Option(execOwner.get(e))).getOrElse((-1, "other")))
      c.synchronized {
        c.executions += 1
        if (collect) c.collects += 1
      }
      a = actions.poll()
    }
  }

  private def sum(keep: ((Int, String)) => Boolean): Counts = {
    val out = new Counts
    work.asScala.foreach { case (k, c) => if (keep(k)) out.add(c) }
    out
  }

  private def subtree(id: Int): Set[Int] =
    spans.iterator.filter(_.parent == id).map(_.id)
      .foldLeft(Set(id))((acc, c) => acc ++ subtree(c))

  /** Work of span `id` and its descendants, optionally of one layer. */
  def total(id: Int, layer: Option[String] = None): Counts = {
    val ids = subtree(id)
    sum { case (s, l) => ids(s) && layer.forall(_ == l) }
  }

  def toJson: String = {
    val ss = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"work":""" +
        sum(_._1 == s.id).toJson + "}"
    }.mkString("[", ",\n", "]")
    val layers = work.keySet.asScala.map(_._2).toSeq.sorted
      .map(l => s""""$l":${sum(_._2 == l).toJson}""").mkString("{", ",\n", "}")
    s"""{"spans":$ss,\n"layers":$layers}"""
  }
}

object Tracer {
  /** Layer of a job: the package of the first program frame of its call
    * site, e.g. `graft.ledger` for a job submitted inside `Ledger.scala`,
    * `graft` for `EtlJob.scala`, `perfbench` for the benchmark's own forcing.
    */
  def layerOf(callSiteLong: String): String =
    callSiteLong.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("perfbench."))
      .map { frame =>
        val cls = frame.takeWhile(_ != '(').split('.').dropRight(1)
        cls.dropRight(1).mkString(".")
      }.getOrElse("other")
}
