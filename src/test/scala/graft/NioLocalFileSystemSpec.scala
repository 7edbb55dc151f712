package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import org.apache.hadoop.conf.Configuration
import java.util.concurrent.{Callable, CountDownLatch, Executors}

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

class NioLocalFileSystemSpec extends SparkSpec {

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def perm(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** A fresh, uncached instance of `fs` with umask 000, so a requested mode
    * reaches setPermission unchanged. */
  private def init[F <: FileSystem](fs: F): F = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.permissions.umask-mode", "000")
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def withDir(body: NioPath => Unit): Unit = {
    val root = Files.createTempDirectory("nio-fs-spec")
    try body(root) finally TempDirs.deleteRecursively(root)
  }

  test("the shared session's file:/// filesystem is NioLocalFileSystem") {
    val fs = FileSystem.get(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[NioLocalFileSystem.Raw])
  }

  test("created files, .crc sidecars and dirs get the stock RawLocalFileSystem's modes") {
    withDir { root =>
      val nio = init(new NioLocalFileSystem)
      val stock = init(new LocalFileSystem) // forks chmod: the reference path
      for (octal <- Seq("644", "600", "444", "755", "700")) {
        def made(fs: FileSystem, side: String): (NioPath, NioPath, NioPath) = {
          val dir = root.resolve(s"$side-$octal")
          assert(fs.mkdirs(new Path(dir.toUri), perm(octal)))
          val file = new Path(root.resolve(s"$side-$octal.bin").toUri)
          fs.create(file, perm(octal), true, 4096, 1.toShort, 1L << 20, null)
            .close()
          (dir, root.resolve(s"$side-$octal.bin"),
            root.resolve(s".$side-$octal.bin.crc"))
        }
        val (nd, nf, nc) = made(nio, "nio")
        val (sd, sf, sc) = made(stock, "stock")
        val want = Integer.parseInt(octal, 8)
        assert(Files.exists(nc), s"$octal: .crc sidecar written")
        assert((mode(nd), mode(nf), mode(nc)) == (mode(sd), mode(sf), mode(sc)),
          s"mode $octal")
        assert((mode(nd), mode(nf), mode(nc)) == (want, want, want), s"mode $octal")
      }
    }
  }

  test("a sticky 01777 dir and a dir under a setgid parent keep chmod's modes (fallback)") {
    withDir { root =>
      val nio = init(new NioLocalFileSystem)
      val stock = init(new LocalFileSystem)
      // mkdirs masks the sticky bit off (FsPermission.applyUMask), so a
      // sticky dir is made by setPermission, as on the stock filesystem
      for ((fs, side) <- Seq(nio -> "nio", stock -> "stock")) {
        val d = new Path(root.resolve(s"sticky-$side").toUri)
        assert(fs.mkdirs(d))
        fs.setPermission(d, perm("1777"))
      }
      assert(mode(root.resolve("sticky-nio")) == Integer.parseInt("1777", 8))
      assert(mode(root.resolve("sticky-stock")) == Integer.parseInt("1777", 8))

      // chmod 0755 keeps a directory's setgid bit, which a new subdir of a
      // setgid dir inherits; chmod(2) through NIO would clear it
      val shared = root.resolve("shared")
      Files.createDirectory(shared)
      assert(new ProcessBuilder("chmod", "2775", shared.toString)
        .start().waitFor() == 0)
      for ((fs, side) <- Seq(nio -> "nio", stock -> "stock"))
        assert(fs.mkdirs(new Path(shared.resolve(side).toUri), perm("755")))
      assert(mode(shared.resolve("nio")) == mode(shared.resolve("stock")))
      assert(mode(shared.resolve("nio")) == Integer.parseInt("2755", 8))
    }
  }

  test("create(p, overwrite = false) refuses an existing file and leaves it as it was") {
    withDir { root =>
      val fs = init(new NioLocalFileSystem)
      val p = new Path(root.resolve("taken").toUri)
      val out = fs.create(p, false)
      try out.write(7) finally out.close()
      intercept[FileAlreadyExistsException](fs.create(p, false))
      assert(Files.readAllBytes(root.resolve("taken")).toSeq == Seq(7.toByte))
    }
  }

  test("8 threads racing create(p, overwrite = false) on one path: exactly one wins") {
    withDir { root =>
      val fs = init(new NioLocalFileSystem)
      val pool = Executors.newFixedThreadPool(8)
      try for (round <- 1 to 20) {
        val p = new Path(root.resolve(s"lock-$round").toUri)
        val start = new CountDownLatch(1)
        val racers = (1 to 8).map(id => pool.submit(new Callable[Option[Int]] {
          def call(): Option[Int] = {
            start.await()
            try {
              val out = fs.create(p, false)
              try out.write(id) finally out.close()
              Some(id)
            } catch { case _: FileAlreadyExistsException => None }
          }
        }))
        start.countDown()
        val winners = racers.flatMap(_.get())
        assert(winners.size == 1, s"round $round: winners $winners")
        assert(Files.readAllBytes(root.resolve(s"lock-$round")).toSeq ==
          Seq(winners.head.toByte))
      } finally pool.shutdownNow()
    }
  }
}
