package graft.storage

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without a forked process per file.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs `chmod` as a
  * child process, and Hadoop calls it for every file and directory it
  * creates: about 80 forks on a one-row pipeline day. Here the same bits
  * are set through `java.nio`, in-process (`rw-r--r--` files and
  * `rwxr-xr-x` dirs under the default umask). Modes `java.nio` cannot
  * express, the sticky bit, keep Hadoop's own path.
  *
  * [[graft.GraftSession.builder]] registers it for the `file` scheme.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(Seq(permission.getUserAction,
            permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString))
        catch {
          case _: UnsupportedOperationException => super.setPermission(p, permission)
        }
  }
}
