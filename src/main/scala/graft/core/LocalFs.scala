package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without a process per call. Without
  * `libhadoop.so`, the stock class runs `chmod` for every
  * `setPermission` (each created file, its `.crc`, each `mkdirs` level)
  * and `readlink` for every `getFileLinkStatus` (four per
  * FileContext rename with overwrite). Both are answered here through
  * NIO; what NIO cannot express defers to the stock code. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through NIO. Sticky, setuid and setgid bits, and
    * a store with no POSIX view, take the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(new FsPermission(mode).toString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** A non-link's status is its plain status, which is what the stock
    * code returns after its `readlink` finds no target; a missing path
    * still throws `FileNotFoundException`. A real link takes the stock
    * path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local `FileSystem` (`.crc` sidecars
  * kept) over [[NoForkRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[NoForkRawLocalFileSystem]]; the stock
  * class hard-codes `new RawLocalFileSystem()`. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("mirrors AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed local
  * `AbstractFileSystem` that FileContext (Spark's checkpoint and sink
  * metadata logs) resolves `file:` to. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(uri, conf))
