package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem,
  FileAlreadyExistsException, FileStatus, FSDataOutputStream, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The `file:` filesystem [[Tables.session]] installs
  * (`spark.hadoop.fs.file.impl`): Hadoop's checksummed `LocalFileSystem`
  * (`.crc` sidecars are still written and verified) over a raw filesystem
  * that sets permissions in-process.
  *
  * Without the native libhadoop, `RawLocalFileSystem.setPermission` forks
  * `chmod` for every file, `.crc` sidecar and directory a write creates —
  * about 540 processes per EtlJob DAG run. [[NioLocalFileSystem.Raw]] applies
  * the same mode bits with `Files.setPosixFilePermissions` instead.
  *
  * It also makes `create(…, overwrite = false)` exclusive, which the ledger's
  * writer lock relies on (see [[NioLocalFileSystem.Raw]]).
  *
  * [[NioLocalFs]] is its `FileContext` twin.
  */
class NioLocalFileSystem(raw: NioLocalFileSystem.Raw) extends LocalFileSystem(raw) {
  def this() = this(new NioLocalFileSystem.Raw)
}

/** The `file:` `AbstractFileSystem` [[Tables.session]] installs
  * (`spark.hadoop.fs.AbstractFileSystem.file.impl`), which `FileContext`
  * uses: streaming checkpoints and state stores write through it. It is
  * Hadoop's `LocalFs` (checksummed, over `RawLocalFs`) with
  * [[NioLocalFileSystem.Raw]] under it in place of `RawLocalFileSystem`, so
  * it sets modes without forking `chmod` and answers `getFileLinkStatus`
  * for a non-link without forking `readlink`. Written out, not subclassed:
  * `LocalFs`' and `RawLocalFs`' constructors are package-private.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}

object NioLocalFs {
  /** `RawLocalFs` over [[NioLocalFileSystem.Raw]], with its three overrides. */
  class Raw(uri: URI, conf: Configuration) extends DelegateToFileSystem(uri,
      new NioLocalFileSystem.Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1 // no default port for file:///

    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults

    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults

    override def isValidName(src: String): Boolean = true // any local path
  }
}

object NioLocalFileSystem {
  private val unixAttrs =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** `RawLocalFileSystem` whose `setPermission` runs in-process. It keeps
    * Hadoop's own path wherever NIO would set a different mode than
    * `chmod <%04o mode>` does: a sticky bit (NIO sets only the nine rwx
    * bits), a directory carrying setuid/setgid (`chmod 0755` keeps those on
    * a directory, chmod(2) clears them), and a non-POSIX default filesystem.
    *
    * Its `create(…, overwrite = false)` — the overload every create of the
    * checksummed filesystem reaches — claims the file with an atomic
    * create-new (`Files.createFile`, O_EXCL) before Hadoop opens it, so of
    * two racing creators exactly one wins. Hadoop's own checks `exists` and
    * then opens, and both racers can pass the check.
    */
  class Raw extends RawLocalFileSystem {
    override def create(f: Path, permission: FsPermission, overwrite: Boolean,
        bufferSize: Int, replication: Short, blockSize: Long,
        progress: Progressable): FSDataOutputStream = {
      def open() = super.create(f, permission, true, bufferSize, replication,
        blockSize, progress)
      if (overwrite) return open()
      val file = pathToFile(f).toPath
      Option(f.getParent).foreach(p => mkdirs(p))
      try Files.createFile(file) catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"File already exists: $f")
      }
      try open() catch { case e: Throwable => Files.deleteIfExists(file); throw e }
    }

    /** Hadoop's own answer forks `readlink` for every path; for anything
      * that is not a symlink it then returns `getFileStatus`, which this
      * returns directly. A symlink, dangling or not, keeps Hadoop's path.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt // rwx bits, plus 01000 if sticky
      val file = pathToFile(p).toPath
      if (!unixAttrs || (mode & ~0x1ff) != 0 || setIdDir(file)) // 0x1ff = 0777
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, rwx(mode))
    }
  }

  /** The nine rwx bits of `mode` (PosixFilePermission's ordinal 0 is 0400). */
  private def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values
      .filter(b => (mode & (0x100 >> b.ordinal)) != 0).foreach(s.add)
    s
  }

  private def setIdDir(file: java.nio.file.Path): Boolean = {
    val st = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    // S_IFMT == S_IFDIR && (S_ISUID | S_ISGID)
    (st & 0xf000) == 0x4000 && (st & 0xc00) != 0
  }
}
