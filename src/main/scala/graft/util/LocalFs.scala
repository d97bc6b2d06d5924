package graft.util

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus, FsConstants, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileContext filesystem with no shell commands: Hadoop's
  * `LocalFs` over [[ForkFreeRawLocalFileSystem]]. Without libhadoop,
  * stock `RawLocalFileSystem` starts a `chmod` process for every
  * permission it sets and a `readlink` process for every link status it
  * reads, and Spark's streaming checkpoints (offsets, commits, source
  * logs, state deltas, checksum sidecars) do both for every file they
  * write. Still a `ChecksumFs`, so `.crc` sidecars are written, and
  * checked on every read: `ChecksumFs` verifies only `open(path,
  * bufferSize)`, and `FilterFs` hands the one-argument `open(path)` that
  * Spark's checkpoint file manager calls straight to the raw filesystem,
  * so here that call goes through the checked one. [[graft.Engine.tune]]
  * routes the session's FileContext here through [[LocalFs.ImplKey]]. */
final class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawLocalFs(conf)) {
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

object LocalFs {
  /** The Hadoop key that names the `file` scheme's FileContext class. */
  val ImplKey = "fs.AbstractFileSystem.file.impl"
  /** Hadoop's own value of [[ImplKey]] (core-default.xml). */
  val HadoopDefault = "org.apache.hadoop.fs.local.LocalFs"
}

/** `org.apache.hadoop.fs.local.RawLocalFs`, whose constructors are
  * package-private, over [[ForkFreeRawLocalFileSystem]]. */
final class RawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults
  override def getServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `RawLocalFileSystem` with the two shell-outs replaced by java.nio. */
final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  /** Plain rwx bits go through `Files.setPosixFilePermissions`; a sticky
    * bit or a store without POSIX attributes keeps Hadoop's path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // OWNER_READ .. OTHERS_EXECUTE are declared in bit order 0400 .. 0001
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b))
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
        case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
      }
    }
  }

  /** Hadoop runs `readlink` on the `file:`-prefixed path string, which
    * never names a link, and so returns `getFileStatus`: the same answer,
    * without the process. A real symlink keeps Hadoop's path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}
