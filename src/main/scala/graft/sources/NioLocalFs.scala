package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` raw filesystem that starts no process for the calls Spark's
  * checkpoint and state-store writes make.
  *
  * Hadoop's [[RawLocalFileSystem]] shells out for two of them: without
  * native `libhadoop` it runs `chmod` on every file and directory it
  * creates, and on every host it runs `readlink` on every
  * `getFileLinkStatus` — twice per `FileContext` rename, which is how Spark
  * commits every checkpoint log entry and state-store delta. These two
  * overrides answer the same questions through `java.nio.file`; everything
  * else (streams, rename, listing, checksums in the wrapper) is the stock
  * class.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The 9 rwx bits through NIO; sticky or other special bits, which NIO
    * cannot set, and file stores without POSIX attributes go to `chmod`.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.bits(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** Only a real symlink needs the stock lookup. For any other path the
    * stock `readlink` fails (as it also does on every qualified `file:/…`
    * string) and the stock answer is `getFileStatus(f)`.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  // PosixFilePermission's declaration order is owner rwx, group rwx, others
  // rwx: bit 8 down to bit 0 of the mode
  private val ordered = PosixFilePermission.values()

  private def bits(mode: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- ordered.indices if (mode & (1 << (8 - i))) != 0) out.add(ordered(i))
    out
  }
}

/** Checksummed `file:` FileSystem (`fs.file.impl`) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `AbstractFileSystem` (`FileContext`) side, shaped like Hadoop's
  * `RawLocalFs`, whose constructors are package-private.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Checksummed `file:` AbstractFileSystem (`fs.AbstractFileSystem.file.impl`),
  * Hadoop's `LocalFs` over [[NioRawLocalFs]].
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
