package graft.fs

import java.io.File
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw `file:` filesystem without a child process per file.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` sets the mode of
  * every file and directory it creates by running `chmod`, and reads a link
  * target by running `readlink`. A lake write creates a data file, its
  * `.crc` file and each missing directory level, so an EP2 load starts
  * about a dozen processes; a streaming checkpoint renames each of its log
  * files through three link-status lookups.
  *
  * This subclass does both through `java.nio.file` and gives the same
  * result:
  *  - the same mode bits, on the same (link-resolved) file;
  *  - the same link status: a path that is not a symbolic link gets its
  *    plain file status, as when `readlink` prints nothing.
  *
  * It keeps Hadoop's own code where NIO cannot match it: when `libhadoop`
  * is loaded (no process is started then), for a mode with bits above 0777
  * (sticky, setuid, setgid), on a non-POSIX filesystem, and for a path that
  * is a symbolic link.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (NativeIO.isAvailable || (mode & ~0x1ff) != 0 || !NioRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(
      pathToFile(p).toPath, NioRawLocalFileSystem.permissions(mode))
  }

  // Hadoop looks the link up at `new File(f.toString)`, as done here.
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The permission set of the low nine mode bits; `values` runs from
    * OWNER_READ (0400) down to OTHERS_EXECUTE (0001).
    */
  private def permissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) set.add(p)
    }
    set
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the `FileContext` API, which Spark's
  * streaming checkpoints write through): Hadoop's `LocalFs` — a `ChecksumFs`
  * over `RawLocalFs` — with [[NioRawLocalFileSystem]] underneath. Hadoop
  * instantiates it through the `(URI, Configuration)` constructor and, like
  * `LocalFs`, it serves the local filesystem URI whatever `uri` says.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]: the same local
  * server defaults and name check, on Hadoop's own local filesystem URI.
  */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
