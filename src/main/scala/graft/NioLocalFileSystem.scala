package graft

import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local `file:` filesystem every engine session runs on
  * (`spark.hadoop.fs.file.impl` in [[GraftSession]]): Hadoop's own
  * checksummed `LocalFileSystem`, except that permission bits are set and
  * read in-process through `java.nio`.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` forks a `chmod`
  * for every file it creates (the `.crc` sibling included) and every
  * directory it makes, and an `ls -ld` the first time a listed file's
  * permission is read, which Spark does for every file a scan lists.
  * Through the store specs that is about 26 forks a second; on a 4-core
  * VM creating 300 small files took 4.0-5.1 s with the forks and
  * 0.26-0.61 s without, and reading 600 listed files' permissions 3.8 s
  * against 0.1 s. Create, rename (which still refuses an existing
  * destination), delete, listing and checksums stay Hadoop's code.
  * [[NioLocalFs]] is the same for the `FileContext` API that streaming
  * checkpoints and state stores write through. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `LocalFs` (`fs.AbstractFileSystem.file.impl`) over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: java.net.URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: java.net.URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** `chmod` without the fork; a mode with set-id or sticky bits, which
    * `java.nio` cannot set, still goes through Hadoop's `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = new java.util.HashSet[PosixFilePermission]()
      Bits.indices.foreach(i => if ((mode & (1 << i)) != 0) bits.add(Bits(i)))
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }

  override def getFileStatus(f: Path): FileStatus =
    new NioFileStatus(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(new NioFileStatus(_))
}

object NioRawLocalFileSystem {
  /** POSIX permission of mode bit `i` (bit 0 = others' execute). */
  private val Bits = Array(
    PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_READ)

  /** A local file's status whose permission, owner and group are read
    * on first use, as Hadoop's own local status reads them, but with one
    * `lstat` in place of an `ls -ld`. Like `ls -ld`, a symlink reports
    * its own attributes; a file gone by then fails the read, as `ls`
    * failing does. */
  private class NioFileStatus(st: FileStatus) extends FileStatus(
      st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, null, null, null,
      if (st.isSymlink) st.getSymlink else null, st.getPath) {

    @volatile private var loaded = false

    private def load(): Unit = if (!loaded) synchronized {
      if (!loaded) {
        val attrs = try {
          Files.readAttributes(new java.io.File(getPath.toUri).toPath,
            classOf[PosixFileAttributes], LinkOption.NOFOLLOW_LINKS)
        } catch {
          case e: java.io.IOException => throw new RuntimeException(
            s"Error while reading the permissions of $getPath", e)
        }
        var mode = 0
        Bits.indices.foreach(i => if (attrs.permissions.contains(Bits(i))) mode |= 1 << i)
        setPermission(new FsPermission(mode.toShort))
        setOwner(attrs.owner.getName)
        setGroup(attrs.group.getName)
        loaded = true
      }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
  }
}
