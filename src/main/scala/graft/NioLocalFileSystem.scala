package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system with a fork-free
  * `setPermission`. Without libhadoop (Spark's jars ship none),
  * `RawLocalFileSystem.setPermission` forks `/bin/chmod` through
  * `Shell.execCommand`, and every Parquet writer and every commit-protocol
  * step calls it: 28 forks per es_export call (BASELINE.md "Local FS
  * note"). [[Session.confs]] registers this class as `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The raw layer: the same nine mode bits set through
    * `Files.setPosixFilePermissions`. A mode with bits beyond 0777 (sticky,
    * setuid, setgid) keeps Hadoop's own code path. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // "rwxr-x---" for 0750: bit 0400 first, as `ls -l` prints them
        val rwx = (0 until 9).map(i => if ((mode & (0x100 >> i)) != 0) "rwx"(i % 3) else '-').mkString
        Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
      }
    }
  }
}
