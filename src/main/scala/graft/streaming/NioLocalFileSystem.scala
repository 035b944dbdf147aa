package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` filesystem, but setting permission bits
  * through `java.nio` instead of a process. Without libhadoop,
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file and
  * directory created with a permission: a checkpointed stream drain
  * starts about 1,300 of them. Checksum sidecars, paths and the bits
  * set are unchanged. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  class Raw extends RawLocalFileSystem {
    /** Plain `rwx` bits go through `Files.setPosixFilePermissions`; a
      * sticky bit, or a filesystem without a POSIX view, takes the
      * stock path. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      if (permission.getStickyBit ||
          Files.getFileAttributeView(file, classOf[PosixFileAttributeView]) == null)
        super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        // PosixFilePermission's order is owner rwx, group rwx, others
        // rwx: ordinal i is mode bit 8 - i
        Files.setPosixFilePermissions(file, PosixFilePermission.values
          .filter(b => (mode >> (8 - b.ordinal) & 1) == 1).toSet.asJava)
      }
    }
  }
}
