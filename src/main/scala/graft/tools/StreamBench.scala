package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.queries.Pipeline
import graft.queries.Pipeline.{AdmissionShape, LedgerShape, Shape, StreamShape}
import graft.streaming.Drain

/** Streaming steady-state bench: `graft.Bench`'s numbers for the
  * streaming gates are COLD starts (fresh checkpoint, full drain, JVM/codegen
  * warmup inside the measurement). This tool measures what a production
  * incremental pipeline actually feels: the SECOND AvailableNow drain
  * against the same checkpoint, after new input lands.
  *
  * Method, per shape of [[Pipeline.shapes]] (the gates' own queries, run
  * through [[Drain]]): stage the shape's input in a scratch dir; drain
  * once (cold — builds state from zero); copy the SAME files in again under
  * new names (a redelivery — identical volume, zero schema drift) and
  * drain again (warm — state loaded from checkpoint, every incoming row
  * probes existing state). A stream shape stages its table's file; an
  * admission shape stages its gate's odd-key slice as 4 files, streamed
  * one per micro-batch, and builds its frozen index outside the drains.
  * Each pass runs under one state-store provider, the default (HDFS-backed)
  * then RocksDB; the transformWithState shapes (RocksDB-only) and the
  * stateless admission shapes (provider-independent) run in the RocksDB
  * pass only.
  *
  * Output: one JSON line whose `timings` hold each (shape, provider,
  * cold|warm) drain's seconds and `rows` the input rows that drain read.
  */
object StreamBench {

  /** Seconds and input rows per `shape/provider/cold|warm` key. */
  final case class Report(timings: mutable.LinkedHashMap[String, Double],
                          rows: mutable.LinkedHashMap[String, Long])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.session("graft-streambench")
    graft.TempDirs.sweepStale() // litter from crashed earlier runs
    val r = run(spark, sfDir)
    def obj[V](m: Iterable[(String, V)])(v: V => String) =
      m.map { case (k, x) => "\"" + k + "\":" + v(x) }.mkString("{", ",", "}")
    val timings = obj(r.timings)(s => (math.round(s * 1000) / 1000.0).toString)
    val rows = obj(r.rows)(_.toString)
    println(s"""{"metric":"stream_bench","sf":"$sfDir","timings":$timings,"rows":$rows}""")
    spark.stop()
  }

  /** Time the cold and warm drain of each of `shapes` over the tables in
    * `sfDir`, under each provider the shape runs on. Fails, naming the
    * shape, when a warm drain read no rows: the redelivery did not reach
    * its source, so the warm time would measure nothing.
    */
  def run(spark: SparkSession, sfDir: String,
          shapes: Seq[Shape] = Pipeline.shapes): Report = {
    val report = Report(mutable.LinkedHashMap.empty, mutable.LinkedHashMap.empty)
    for (provider <- Seq("hdfs", "rocksdb")) {
      val work = Files.createTempDirectory(s"graft-streambench-$provider")
      try {
        val mine = shapes.filter(sh => provider == "rocksdb" || !rocksDbOnly(sh))
        // absorb JVM/codegen/stream-machinery warmup outside the
        // measurements (the first streaming query in a JVM pays JIT +
        // codegen compilation)
        mine.headOption.foreach { sh =>
          open(spark, sfDir, sh, work.resolve("warmup"))(drain => drain(provider))
        }
        for (sh <- mine) {
          val dir = work.resolve(sh.name)
          open(spark, sfDir, sh, dir) { drain =>
            for (pass <- Seq("cold", "warm")) {
              if (pass == "warm") Pipeline.redeliver(dir.resolve("src").toString)
              val t0 = System.nanoTime()
              val n = drain(provider)
              val key = s"${sh.name}/$provider/$pass"
              report.timings(key) = (System.nanoTime() - t0) / 1e9
              report.rows(key) = n
              require(pass == "cold" || n > 0,
                s"$key read 0 rows: the redelivered files never reached the source")
            }
          }
        }
      } finally graft.TempDirs.deleteRecursively(work)
    }
    report
  }

  /** transformWithState needs RocksDB, and a stateless admission shape is
    * provider-independent, so both are measured once, under RocksDB. */
  private def rocksDbOnly(sh: Shape): Boolean = sh match {
    case s: StreamShape => s.rocksDb
    case _: AdmissionShape => true
    case _: LedgerShape => false
  }

  /** Stage `sh`'s input under `dir/src` and run `body` with its drain (one
    * call per drain, under the given provider; returns the rows it read).
    * A frozen index is built here and lives while `body` runs, so no drain
    * is charged for it.
    */
  private def open(spark: SparkSession, sfDir: String, sh: Shape, dir: Path)(
      body: (String => Long) => Unit): Unit = {
    val src = dir.resolve("src").toString
    val cp = dir.resolve("cp").toString
    val out = dir.resolve("out").toString
    sh match {
      case s: StreamShape =>
        Files.createDirectories(dir.resolve("src"))
        Files.copy(Paths.get(sfDir, s"${s.table}.parquet"),
          dir.resolve("src").resolve("batch_000.parquet"))
        val q = s.query(spark, sfDir, () => Tables.stream(spark, src))
        // an append-mode memory sink cannot restart from its checkpoint
        body(if (s.mode == "complete") p => Drain.toMemory(q, cp, s.mode, Some(p))._2
          else p => Drain.toFiles(q, cp, out, Some(p)))
      case a: AdmissionShape =>
        a.withDrain(Tables.table(spark, sfDir, a.table), src, cp, out)(
          drain => body(p => drain(Some(p))))
      case l: LedgerShape =>
        // stateless foreachBatch: the provider has nothing to hold
        val drain = l.prepare(Tables.table(spark, sfDir, l.table), src, cp,
          new graft.ledger.Ledger(spark, dir.resolve("ledger").toString))
        body(_ => drain())
    }
  }
}
