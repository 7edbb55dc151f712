package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.{Callable, CountDownLatch, Executors}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path,
  RawLocalFileSystem}
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

  /** A `FileContext` over `impl` for `file:` with umask 000. */
  private def context(impl: String): FileContext = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.permissions.umask-mode", "000")
    conf.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getFileContext(URI.create("file:///"), conf)
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

  test("the shared session's FileContext for file:/// is NioLocalFs") {
    val fc = FileContext.getFileContext(URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(fc.getDefaultFileSystem.asInstanceOf[NioLocalFs].getRawFs
      .isInstanceOf[NioLocalFs.Raw])
  }

  test("getFileLinkStatus answers as the stock RawLocalFileSystem for files, dirs, symlinks and missing paths") {
    withDir { root =>
      val nio = init(new NioLocalFileSystem.Raw)
      val stock = init(new RawLocalFileSystem) // forks readlink: the reference
      val file = Files.write(root.resolve("f"), Array[Byte](1, 2, 3))
      val dir = Files.createDirectory(root.resolve("d"))
      Files.createSymbolicLink(root.resolve("link"), file)
      Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
      def seen(st: FileStatus) = (st.getPath, st.isFile, st.isDirectory,
        st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None,
        st.getLen, st.getPermission, st.getOwner, st.getGroup,
        st.getModificationTime)
      /** The status, or the class of what was thrown. */
      def answer(fs: FileSystem, p: Path) =
        scala.util.Try(seen(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass)
      val missing = root.resolve("missing")
      // the stock filesystem sees a link only through a scheme-less path (it
      // runs `readlink` on the path's string); FileContext passes file: ones
      for (p <- Seq(file, dir, root.resolve("link"), root.resolve("dangling"),
          missing); h <- Seq(new Path(p.toUri), new Path(p.toString)))
        assert(answer(nio, h) == answer(stock, h), h)
      for (p <- Seq("link", "dangling"))
        assert(nio.getFileLinkStatus(new Path(root.resolve(p).toString)).isSymlink, p)
      intercept[java.io.FileNotFoundException](
        nio.getFileLinkStatus(new Path(missing.toString)))
    }
  }

  test("FileContext mkdir, create and rename(OVERWRITE) leave the stock LocalFs's modes and .crc files") {
    withDir { root =>
      val sides = Seq("nio" -> context(classOf[NioLocalFs].getName),
        "stock" -> context("org.apache.hadoop.fs.local.LocalFs"))
      /** Each entry under `base`, relative, with its mode. */
      def tree(base: NioPath): Seq[(String, Int)] = {
        val all = Files.walk(base)
        try all.iterator().asScala.filter(_ != base)
          .map(p => base.relativize(p).toString -> mode(p)).toSeq.sorted
        finally all.close()
      }
      for ((side, fc) <- sides; octal <- Seq("644", "600", "755", "700")) {
        val dir = new Path(root.resolve(s"$side/$octal/a/b").toUri)
        fc.mkdir(dir, perm(octal), true)
        def write(name: String, byte: Int): Path = {
          val p = new Path(dir, name)
          val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE,
            CreateFlag.OVERWRITE), Options.CreateOpts.perms(perm(octal)))
          try out.write(byte) finally out.close()
          p
        }
        val target = write("delta", 1)
        // a checkpoint commit: write a temp file, rename it over the target
        fc.rename(write(".delta.tmp", 2), target, Options.Rename.OVERWRITE)
        val defaults = new Path(dir, "defaults")
        fc.create(defaults, java.util.EnumSet.of(CreateFlag.CREATE)).close()
        assert(Files.readAllBytes(root.resolve(s"$side/$octal/a/b/delta")).toSeq ==
          Seq(2.toByte))
      }
      val nio = tree(root.resolve("nio"))
      assert(nio.exists(_._1.endsWith(".delta.crc")), nio)
      assert(nio == tree(root.resolve("stock")))
    }
  }

  /** The processes this JVM started while `body` ran: each one's command
    * and the frames of its stack outside `java.`/`jdk.`. */
  private def processesStarted(body: => Unit): Seq[(String, Seq[String])] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => e.getString("command") -> Option(e.getStackTrace).toSeq
          .flatMap(_.getFrames.asScala).map(f =>
            s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          .filterNot(f => f.startsWith("java.") || f.startsWith("jdk.")))
    } finally { rec.close(); Files.delete(out) }
  }

  test("q33, a RocksDB-provider drain and an EtlJob day start no process from Hadoop or graft code") {
    val sf = "/root/testdata/sf0.001"
    val opts = EtlJobSpecLive.smallDay(spark,
      Files.createTempDirectory("graft-forks-etl"))
    val shape = graft.queries.Pipeline.ingestDedup
    val started = processesStarted {
      SparkEntry.queries("q33_streaming_ingest")(spark, sf)
        .write.format("noop").mode("overwrite").save()
      graft.streaming.Drain.toMemory(shape.query(spark, sf,
        () => Tables.stream(spark, s"$sf/${shape.table}.parquet")),
        TempDirs.create("graft-forks-cp").toString, shape.mode, Some("rocksdb"))
      EtlJob.run(spark, opts, EtlJobSpecLive.transport())
    }
    // what Spark itself starts is out of graft's reach: its RocksDB provider
    // deletes local state dirs with `rm -rf` (JavaUtils.deleteRecursively),
    // RocksDB's loader probes libc once, the heartbeat reads the page size
    // once
    val (ours, others) = started.partition(_._2.exists(f =>
      f.startsWith("org.apache.hadoop.") || f.startsWith("graft.")))
    others.groupBy { case (c, st) => (c.takeWhile(_ != ' '), st.headOption) }
      .foreach { case (k, v) => info(s"started by Spark: ${v.size} x $k") }
    assert(ours.size == 0, "processes: " +
      ours.groupBy(_._1.takeWhile(_ != ' ')).map { case (c, v) => s"${v.size} x $c" })
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
