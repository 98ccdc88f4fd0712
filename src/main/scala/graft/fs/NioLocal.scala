package graft.fs

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` that never forks. Without a native `libhadoop`,
  * stock Hadoop runs `chmod` for every permissioned create/mkdir and
  * `readlink` for every `FileContext` rename — a dozen processes per
  * state-store delta commit. Both are answered in-process through
  * `java.nio.file`, with the same results (`LocalFsSpec`).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod(2) via NIO; setuid/setgid/sticky modes keep the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode: Int = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists OWNER_READ … OTHERS_EXECUTE, i.e. bits 8 … 0.
      val perms = PosixFilePermission.values.zipWithIndex
        .collect { case (bit, i) if (mode & (0x100 >> i)) != 0 => bit }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
    }
  }

  /** Hadoop's non-native `deprecatedGetFileLinkStatusInternal` plus the
    * target qualification of `getFileLinkStatus`, with the link read
    * in-process. Like the stock code, the link is looked up at
    * `new File(f.toString)`.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    val fi = try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty =>
        // A dangling link: File.exists is false for it.
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  /** `FileUtil.readLink` without the `readlink` process: the raw link
    * target, or "" when `f` is not a symlink or cannot be read.
    */
  private def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString else ""
    } catch { case _: IOException | _: InvalidPathException => "" }
}

/** `fs.file.impl`: the checksummed local `FileSystem` over
  * [[NioRawLocalFileSystem]] (parquet writers, sinks).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFs` over [[NioRawLocalFileSystem]]; the overrides are
  * `RawLocalFs`'s own, whose constructors are package-private.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed local
  * `FileContext` filesystem (Spark's checkpoint file manager), the
  * counterpart of Hadoop's `LocalFs`.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
