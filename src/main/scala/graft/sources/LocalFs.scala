package graft.sources

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException, NoSuchFileException}
import java.nio.file.attribute.{GroupPrincipal, PosixFilePermissions, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme without a subprocess per operation.
  *
  * Without the Hadoop native library, stock `RawLocalFileSystem` forks
  * `chmod` for every file it creates and directory it makes
  * (`setPermission`), and `readlink` for every link status, which each
  * `FileContext` rename asks for its source and its destination.
  * The state store and the checkpoint writers create and rename a few
  * files per partition per micro-batch, so a batch forked hundreds of
  * processes. This layer does both through `java.nio` and is otherwise
  * the stock class: same files, `.crc` sidecars, on-disk modes, status
  * fields and rename semantics. `GraftSession.builder` binds it for both
  * Hadoop filesystem APIs (`LocalFsSpec` pins the parity and the forks).
  *
  * Left on the stock path, because they are rare and NIO cannot express
  * them: a permission with the sticky bit, a chmod of a path that
  * carries setuid/setgid/sticky bits (chmod(1) keeps a directory's), and
  * the lazy `ls -ld` a local status runs when asked for its permission,
  * owner or group. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit || (mode(file) & SpecialBits) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(permission.toString))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    // As stock: the link is read at `new File(f.toString)`, which for a
    // scheme-qualified path names no file, so such a path never reads
    // as a link; its status is the followed one either way.
    val target = readLink(new File(f.toString))
    if (target.isEmpty) getFileStatus(f)
    else {
      val status = linkStatus(f, new Path(target))
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath, status.getSymlink))
      status
    }
  }

  /** A link's status carries its target's attributes, as stock reads
    * them (`ls -ld` of the canonical path), or defaults if it dangles. */
  private def linkStatus(f: Path, target: Path): FileStatus =
    try {
      val followed = getFileStatus(f)
      val a = Files.readAttributes(pathToFile(f).toPath, "unix:mode,owner,group")
      new FileStatus(followed.getLen, false, followed.getReplication, followed.getBlockSize,
        followed.getModificationTime, followed.getAccessTime,
        new FsPermission((a.get("mode").asInstanceOf[Int] & PermissionBits).toShort),
        a.get("owner").asInstanceOf[UserPrincipal].getName,
        a.get("group").asInstanceOf[GroupPrincipal].getName, target, f)
    } catch {
      case _: FileNotFoundException | _: NoSuchFileException =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
    }
}

object ForkFreeRawLocalFileSystem {
  /** setuid, setgid and sticky: octal 7000. */
  private val SpecialBits = 0xe00
  /** The bits `FsPermission.valueOf` keeps of an `ls -ld` mode string:
    * sticky and rwx, octal 1777. */
  private val PermissionBits = 0x3ff

  private def mode(file: java.nio.file.Path): Int =
    Files.getAttribute(file, "unix:mode").asInstanceOf[Int]

  /** `readlink <f>` without the process: the raw target, or "" when `f`
    * is no link or cannot be read. */
  private def readLink(f: File): String =
    try Files.readSymbolicLink(f.toPath).toString.trim
    catch { case _: IOException | _: InvalidPathException => "" }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over the fork-free
  * raw layer. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` raw layer: stock `RawLocalFs` with the fork-free
  * `FileSystem` behind it. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: stock `LocalFs` (checksums over
  * the raw layer, always rooted at `file:///`) over the fork-free raw
  * layer. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
