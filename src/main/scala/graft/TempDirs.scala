package graft

import java.nio.file.{Files, Path}

/** Process-wide registry of the scratch dirs (stage/out/checkpoint) that
  * streaming/format gates create per invocation, so the harness mains can
  * delete them between queries.
  *
  * Why this exists (round-16): every gate that stages files for an
  * AvailableNow drain or writes a format seam called
  * `Files.createTempDirectory("graft-…")` and never deleted it — and the
  * bench re-invokes each query lambda per timed run, so one full
  * Verify+Bench sweep left 400+ dirs in /tmp. The r15 draw2 sweep measured
  * q113 at 24.6 s against a littered /tmp vs 7.0 s clean — a 3.5×
  * measurement distortion caused by the harness itself. The fix lives in
  * code, not run-book discipline: lambdas register here, mains sweep
  * between queries (outside the timed section) and a shutdown hook catches
  * stragglers.
  *
  * A dir is only safe to delete once no live DataFrame still reads it, so
  * `sweep()` must be called BETWEEN fully-forced queries, never inside a
  * lambda.
  */
object TempDirs {
  private val registered = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  @volatile private var hookInstalled = false

  /** Drop-in replacement for Files.createTempDirectory(prefix). The dir's
    * name carries this JVM's PID (`<prefix>-pid<N>-<random>`), the owner
    * marker [[sweepStale]] checks; in the name it survives a write that
    * overwrites the dir's contents and adds no file to a dir Spark reads. */
  def create(prefix: String): Path = {
    if (!hookInstalled) synchronized {
      if (!hookInstalled) {
        Runtime.getRuntime.addShutdownHook(new Thread(() => sweep()))
        hookInstalled = true
      }
    }
    val p = Files.createTempDirectory(s"$prefix-pid${ProcessHandle.current.pid}-")
    registered.add(p)
    p
  }

  private val OwnerTag = "-pid(\\d+)-".r

  /** The owner PID [[create]] put in `dir`'s name, if it has one. */
  private[graft] def owner(dir: Path): Option[Long] =
    OwnerTag.findFirstMatchIn(dir.getFileName.toString).map(_.group(1).toLong)

  private def alive(pid: Long): Boolean =
    ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)

  /** Best-effort recursive delete; never throws (a busy file at JVM exit
    * must not mask the query result). */
  def deleteRecursively(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala
          .foreach(f => try Files.deleteIfExists(f) catch { case _: Exception => () })
      }
    } catch { case _: Exception => () }

  /** Delete every dir registered since the last sweep. Call only between
    * fully-forced queries (the returned DataFrames lazily read these dirs
    * until the noop/parquet write completes). */
  def sweep(): Unit = {
    var p = registered.poll()
    while (p != null) { deleteRecursively(p); p = registered.poll() }
  }

  /** Delete stale graft-* dirs a crashed earlier run left in `in`
    * (java.io.tmpdir by default) — call once at main startup, before any
    * query runs. A graft main running CONCURRENTLY (sbt test alongside
    * Bench, Verify overlapping StreamBench) must not lose live
    * checkpoints/staging, so a dir is deleted only when its mtime is over
    * an hour old (r16 ADVICE) AND the owner PID in its name (see [[create]])
    * is not alive: a live run older than an hour keeps its dirs. A graft-*
    * dir with no owner in its name goes by age alone.
    */
  def sweepStale(in: Path = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir", "/tmp"))): Unit = {
    val cutoff = System.currentTimeMillis() - 60L * 60L * 1000L
    try {
      import scala.jdk.CollectionConverters._
      Files.list(in).iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft-"))
        .filter(p =>
          try Files.getLastModifiedTime(p).toMillis < cutoff
          catch { case _: Exception => false })
        .filterNot(p => owner(p).exists(alive))
        .foreach(deleteRecursively)
    } catch { case _: Exception => () }
  }
}
