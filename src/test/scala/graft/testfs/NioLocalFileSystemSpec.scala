package graft.testfs

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import graft.{NioLocalFileSystem, NioLocalFs, SparkSuite}
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** Every session built by `graft.GraftSession` writes `file:` paths
  * through [[NioLocalFileSystem]] and [[NioLocalFs]]; what they set and
  * report must be what the OS holds, as with Hadoop's forked `chmod` and
  * `ls`. */
class NioLocalFileSystemSpec extends SparkSuite {

  private def conf = spark.sparkContext.hadoopConfiguration

  test("the session's file: paths go through the in-process permission filesystems") {
    assert(FileSystem.get(new java.net.URI("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("permissions set and read in-process are the ones the OS reports") {
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    val dir = new Path(Files.createTempDirectory("niofs").toUri.toString)
    val f = new Path(dir, "a.bin")
    val out = fs.create(f)
    out.write(1)
    out.close()
    val umask = FsPermission.getUMask(conf)
    assert(fs.getFileStatus(f).getPermission == FsPermission.getFileDefault.applyUMask(umask))
    Seq("rw-r-----", "rwx------", "r--r--r--", "rwxrwxrwx", "rw--w---x", "-wxr-x-w-").foreach { s =>
      fs.setPermission(f, FsPermission.valueOf("-" + s))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(f.toUri))) == s)
      assert(fs.getFileStatus(f).getPermission.toString == s)
      assert(fs.listStatus(dir).filter(_.getPath.getName == "a.bin").map(_.getPermission.toString).toSeq == Seq(s))
    }
    val st = fs.getFileStatus(f)
    assert(st.getOwner == Files.getOwner(Paths.get(f.toUri)).getName)
    assert(st.getLen == 1L && !st.isDirectory)
    val sub = new Path(dir, "sub")
    assert(fs.mkdirs(sub))
    assert(fs.getFileStatus(sub).getPermission == FsPermission.getDirDefault.applyUMask(umask))
    assert(fs.getFileStatus(sub).isDirectory)
    fs.delete(dir, true)
  }
}
