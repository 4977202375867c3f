package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system over [[NioLocalFileSystem.Raw]],
  * registered as the `file` scheme by [[GraftSession.builder]].
  *
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and it runs after every file and directory
  * the file system creates: each Spark write forks at least 7 times, and
  * each table commit 4 times (the temp snapshot, the segment and their
  * `.crc` files). `Raw` sets the same mode through `java.nio` instead. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  // PosixFilePermission's declaration order is owner rwx, group rwx,
  // others rwx: the permission at index i is mode bit 0400 >> i
  private val ModeBits = PosixFilePermission.values().toSeq.zipWithIndex
    .map { case (p, i) => p -> (0x100 >> i) }

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      // the sticky bit has no java.nio form: leave it to the stock path
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        ModeBits.collect { case (perm, bit) if (mode & bit) != 0 => perm }.toSet.asJava)
    }
  }
}
