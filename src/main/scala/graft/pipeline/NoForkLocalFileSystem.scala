package graft.pipeline

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._

/** Hadoop's checksummed `file:` FileSystem over [[NoForkLocalFileSystem.Raw]], which sets
  * permissions in-process. Without the native Hadoop library, `RawLocalFileSystem`
  * forks a `chmod` process for every file, `.crc` sidecar and directory a write creates;
  * this class makes the same change with `Files.setPosixFilePermissions`. Everything
  * else is Hadoop's own code, so written bytes and sidecars are unchanged.
  *
  * `runToSinks` selects it per write with `fs.file.impl` plus
  * `fs.file.impl.disable.cache=true`: `FileSystem`'s cache is keyed by scheme,
  * authority and user, not by the impl setting, so with the cache on the write would
  * get the cached default `file:` instance back.
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkLocalFileSystem.Raw)

object NoForkLocalFileSystem {
  /** `RawLocalFileSystem` whose `setPermission` sets the nine rwx bits in-process. A mode
    * with the sticky bit (the only other bit `FsPermission` carries), or a file store
    * without POSIX attributes, goes to Hadoop's own method.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // PosixFilePermission lists owner rwx, group rwx, others rwx: bits 8 down to 0
        val perms = PosixFilePermission.values.toSeq.zipWithIndex
          .collect { case (perm, i) if (mode & (0x100 >> i)) != 0 => perm }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }
  }
}
