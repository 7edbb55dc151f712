package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

class TempDirsSpec extends AnyFunSuite {

  private val me = ProcessHandle.current.pid

  /** A graft-* dir under `root` whose mtime is two hours old. */
  private def stale(root: Path, name: String): Path = {
    val d = Files.createDirectory(root.resolve(name))
    Files.createFile(d.resolve("part-0"))
    Files.setLastModifiedTime(d,
      FileTime.fromMillis(System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    d
  }

  private def withRoot(body: Path => Unit): Unit = {
    val root = Files.createTempDirectory("tempdirs-spec")
    try body(root) finally TempDirs.deleteRecursively(root)
  }

  test("create names its dir after the owning JVM's PID") {
    val d = TempDirs.create("graft-tempdirs-spec")
    try assert(TempDirs.owner(d).contains(me))
    finally TempDirs.deleteRecursively(d)
  }

  test("sweepStale keeps a dir older than the cutoff while its owner PID is alive") {
    withRoot { root =>
      val live = stale(root, s"graft-q33-cp-pid$me-123")
      TempDirs.sweepStale(root)
      assert(Files.exists(live.resolve("part-0")))
    }
  }

  test("sweepStale deletes an old dir whose owner PID is dead, and an old untagged one") {
    withRoot { root =>
      val gone = new ProcessBuilder("true").start()
      gone.waitFor()
      assert(!gone.toHandle.isAlive)
      val dead = stale(root, s"graft-q33-cp-pid${gone.pid}-123")
      val untagged = stale(root, "graft-legacy123")
      val young = Files.createDirectory(root.resolve(s"graft-q56-cp-pid${gone.pid}-9"))
      TempDirs.sweepStale(root)
      assert(!Files.exists(dead))
      assert(!Files.exists(untagged))
      assert(Files.exists(young), "a dir younger than the cutoff is never swept")
    }
  }
}
