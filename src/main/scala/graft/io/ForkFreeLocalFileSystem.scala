package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.util.Shell

/** Checksummed local file system whose `setPermission` is a JVM call. The
  * stock one, without libhadoop's NativeIO, forks a `chmod` for every file,
  * `.crc`, directory and `_SUCCESS` a write creates. Handed to one write as
  * `fs.file.impl` (with `fs.file.impl.disable.cache=true`), so the JVM-wide
  * `file:` instance is left as it is.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    // sticky bit: not settable through NIO, keep the shell path
    if (NativeIO.isAvailable || Shell.WINDOWS || (mode & ~0x1ff) != 0)
      super.setPermission(p, permission)
    else {
      // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. mode bits 8 .. 0
      val perms = PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
    }
  }
}
