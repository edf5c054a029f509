package graft.store

import java.net.URI
import java.nio.file.{FileSystemException, Files, LinkOption}
import java.nio.file.attribute.PosixFilePermission

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its child processes.
  *
  * Without the native Hadoop library (`libhadoop`), `RawLocalFileSystem`
  * shells out for two calls that every local write makes:
  *   - `setPermission` runs `chmod` — once per file it creates (each
  *     `.crc` sidecar too) and once per directory `mkdirs(f, perm)` makes,
  *     so a parquet part, a commit-protocol directory, an `HDFSMetadataLog`
  *     mkdirs and a mutation-log file each cost a fork of several ms;
  *   - `getFileLinkStatus` runs `readlink` — several times per FileContext rename,
  *     which is every atomic write of Spark's default streaming
  *     `CheckpointFileManager` (offsets, commits, sink metadata).
  *
  * Here `setPermission` sets the same 9 mode bits with
  * `Files.setPosixFilePermissions` (one `chmod(2)`), and
  * `getFileLinkStatus` of a path that is not a symlink is its
  * `getFileStatus`, exactly what Hadoop returns once `readlink` prints
  * nothing. What NIO cannot express the same way goes to `super`, which
  * then behaves (and forks) exactly as before: a symlink, a sticky bit
  * asked for, a file that already carries setuid/setgid/sticky bits
  * (`chmod` keeps a directory's setgid bit; NIO would clear it), a
  * missing file, a store without the `unix` attribute view, and any
  * error NIO raises, so failures keep Hadoop's exceptions. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    val plain = Try(Files.getAttribute(f, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int])
      .toOption.exists { m =>
        (m & GraftRawLocalFileSystem.S_IFMT) != GraftRawLocalFileSystem.S_IFLNK &&
          (m & 0x0e00) == 0 // no setuid (04000), setgid (02000) or sticky (01000)
      }
    if (!plain || permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(f, GraftRawLocalFileSystem.bits(permission.toShort))
      catch { case _: FileSystemException => super.setPermission(p, permission) }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object GraftRawLocalFileSystem {
  private val S_IFMT = 0xf000 // 0170000
  private val S_IFLNK = 0xa000 // 0120000

  /** The low 9 mode bits as NIO permissions: `PosixFilePermission`'s
    * declaration order (owner r/w/x, group r/w/x, others r/w/x) is the
    * bit order 0400 down to 0001. */
  private def bits(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
      if ((mode & (1 << (8 - i))) != 0) s.add(pp)
    }
    s
  }
}

/** graft's `fs.file.impl`: a checksummed `LocalFileSystem` (`.crc`
  * sidecars written and verified as before) over
  * [[GraftRawLocalFileSystem]]. `rename` onto an existing file returns
  * false, as the class Hadoop resolves for `file:` next to Spark's Hive
  * jars does (Hive's `ProxyLocalFileSystem`); plain `LocalFileSystem`
  * would overwrite. It is a `LocalFileSystem`, so code that branches on
  * that type (the store lease) is unchanged. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem) {
  @annotation.nowarn("cat=deprecation")
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** graft's `fs.AbstractFileSystem.file.impl` — the FileContext path
  * Spark's default streaming `CheckpointFileManager` writes through: Hadoop's
  * `LocalFs` (`ChecksumFs` over `RawLocalFs`) with
  * [[GraftRawLocalFileSystem]] underneath. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))

/** `RawLocalFs` with graft's raw filesystem: the same delegation and
  * the same four overrides. */
private[store] class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @annotation.nowarn("cat=deprecation")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
