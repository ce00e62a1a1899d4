package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{PosixFilePermission, UserPrincipal}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` that launches no processes. Without the native
  * Hadoop library the stock class runs `chmod` for every `setPermission`
  * (twice in each checksummed `create`: the file and its `.crc`) and
  * `readlink` plus `ls -ld` for every `getFileLinkStatus` (several per
  * `FileContext.rename`), a few milliseconds each. Both are done here
  * through `java.nio` instead; the two cases it cannot express, setting
  * the sticky bit and the status of a symlink, stay with the stock code.
  * The status comes from one `unix:` attribute read, not the POSIX view,
  * which drops the sticky bit that `ls -ld` reports. */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {
  import ForklessRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort.toInt
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // declared OWNER_READ first, OTHERS_EXECUTE last: mode bits 8 down to 0
      for ((perm, i) <- PosixFilePermission.values.zipWithIndex
           if (mode & (0x100 >> i)) != 0) perms.add(perm)
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  override def getFileLinkStatus(p: Path): FileStatus = {
    val f = pathToFile(p)
    val a = try Files.readAttributes(f.toPath, StatAttrs, LinkOption.NOFOLLOW_LINKS)
      catch { case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $p does not exist") }
    val mode = a.get("mode").asInstanceOf[Int]
    if ((mode & S_IFMT) == S_IFLNK) super.getFileLinkStatus(p)
    else new FileStatus(a.get("size").asInstanceOf[Long], (mode & S_IFMT) == S_IFDIR,
      1, getDefaultBlockSize(p), millis(a.get("lastModifiedTime")),
      millis(a.get("lastAccessTime")),
      // what `ls -ld` reports: the rwx bits and the sticky bit (octal 01777),
      // not setuid/setgid
      new FsPermission((mode & 0x3ff).toShort),
      a.get("owner").asInstanceOf[UserPrincipal].getName,
      a.get("group").asInstanceOf[UserPrincipal].getName,
      new Path(f.getPath).makeQualified(getUri, getWorkingDirectory))
  }
}

object ForklessRawLocalFileSystem {
  private val StatAttrs = "unix:mode,size,lastModifiedTime,lastAccessTime,owner,group"
  // st_mode file-type field and its directory and symlink values (octal
  // 0170000, 0040000, 0120000)
  private val S_IFMT = 0xf000
  private val S_IFDIR = 0x4000
  private val S_IFLNK = 0xa000

  private def millis(t: AnyRef): Long =
    t.asInstanceOf[java.nio.file.attribute.FileTime].toMillis
}

/** `file:` for the `FileSystem` API: the stock checksummed `LocalFileSystem`
  * over [[ForklessRawLocalFileSystem]]. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** `file:` for the `FileContext` API, which Spark's checkpoint manager
  * uses: the stock `LocalFs` stack (a `ChecksumFs` over a `RawLocalFs`)
  * with the raw file system swapped. */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessRawLocalFs(uri, conf))

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[ForklessRawLocalFileSystem]]. */
private class ForklessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForklessRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as AbstractFileSystem.getServerDefaults()", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
