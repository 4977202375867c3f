package graft.core

import java.nio.file.{FileSystems, Files, LinkOption, Paths}
import java.nio.file.attribute.{GroupPrincipal, PosixFilePermission, UserPrincipal}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system over [[NioLocalFileSystem.Raw]],
  * registered as the `file` scheme by [[GraftSession.builder]].
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` forks a process
  * for two things. `setPermission` forks `chmod`, and it runs after every
  * file and directory the file system creates: each Spark write forks at
  * least 7 times, and each table commit 4 times (the temp snapshot, the
  * segment and their `.crc` files). And each status it returns forks
  * `ls -ld` the first time a caller asks it for its owner, group or
  * permission. `Raw` sets the same modes and answers the same questions
  * through `java.nio` instead. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  // PosixFilePermission's declaration order is owner rwx, group rwx,
  // others rwx: the permission at index i is mode bit 0400 >> i
  private val ModeBits = PosixFilePermission.values().toSeq.zipWithIndex
    .map { case (p, i) => p -> (0x100 >> i) }

  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      // the sticky bit has no java.nio form: leave it to the stock path
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        ModeBits.collect { case (perm, bit) if (mode & bit) != 0 => perm }.toSet.asJava)
    }

    override def getFileStatus(p: Path): FileStatus = withNioOwnership(super.getFileStatus(p))

    override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(withNioOwnership)

    // a directory's listing is built from getFileStatus: wrap each once
    private def withNioOwnership(st: FileStatus): FileStatus = st match {
      case _: Status => st
      case _ if !unixView || st.isSymlink => st
      case _ => new Status(st, pathToFile(st.getPath).getPath)
    }
  }

  /** `st`, whose owner, group and permission are read through `java.nio`
    * on first ask, as `ls -ld` reports them: the entry itself, not a
    * link's target, and the mode's permission and sticky bits. */
  final class Status private[NioLocalFileSystem] (st: FileStatus, file: String)
      extends FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, null, null, null, st.getPath) {
    @transient private lazy val attrs =
      Files.readAttributes(Paths.get(file), "unix:mode,owner,group", LinkOption.NOFOLLOW_LINKS)
    override def getPermission: FsPermission =
      new FsPermission((attrs.get("mode").asInstanceOf[Int] & 0x3ff).toShort)
    override def getOwner: String = attrs.get("owner").asInstanceOf[UserPrincipal].getName
    override def getGroup: String = attrs.get("group").asInstanceOf[GroupPrincipal].getName
  }
}
