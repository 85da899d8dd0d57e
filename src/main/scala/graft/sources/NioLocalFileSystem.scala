package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system over [[NioRawLocalFileSystem]]:
  * `file:` paths read and write as with the stock `LocalFileSystem`, but
  * setting a plain rwx mode starts no process. `Sessions` registers it as
  * `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` sets the mode through
  * `java.nio` when it is only user, group and other rwx bits. Without
  * libhadoop the stock one runs `chmod` through Hadoop `Shell`, one forked
  * process for every file and directory a write creates; modes with the
  * sticky bit still go that way.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission's order, OWNER_READ .. OTHERS_EXECUTE, is the
      // mode's bits from 0400 down to 0001
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (0x100 >>> i)) != 0) perms.add(perm)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }
}
