package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, FileSystems, Files, Path => NioPath}
import java.nio.file.attribute.{FileTime, PosixFilePermission, UserPrincipal}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
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

/** The same for `FileContext` users such as Spark's default streaming
  * checkpoint manager, as `fs.AbstractFileSystem.file.impl`: Hadoop's
  * `LocalFs`, a `ChecksumFs` over a `RawLocalFs`, with
  * [[ForkFreeRawLocalFileSystem]] under it. A checkpoint log entry is a
  * create (one `chmod` each for the file and its `.crc`) and a rename with
  * overwrite (a `readlink` for each end of both renames); here none forks.
  * Hadoop instantiates it through a (URI, Configuration) constructor; like
  * `LocalFs`, it ignores the URI.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private and build
  * their own `RawLocalFileSystem`), with its overrides.
  */
private[io] class ForkFreeRawLocalFs(conf: Configuration)
  extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local file systems differ in what they accept; leave it to the OS
  override def isValidName(src: String): Boolean = true
}

/** `RawLocalFileSystem` whose permission and link calls are JVM calls where
  * the stock one, without NativeIO, forks `chmod`, `readlink` and `ls -ld`.
  * Each defers to Hadoop when NativeIO is loaded or on Windows.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

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

  override def getFileLinkStatus(f: Path): FileStatus =
    if (hadoopLinks) super.getFileLinkStatus(f)
    else {
      val st = linkStatus(f)
      // qualified, as the stock call returns it
      if (st.isSymlink)
        st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
    }

  override def getLinkTarget(f: Path): Path =
    if (hadoopLinks) super.getLinkTarget(f) else linkStatus(f).getSymlink

  /** The stock non-native link status, field for field: a file or directory
    * reports itself; a link reports the length, times, mode and owner of
    * what it points to (`ls -ld` runs on the canonical path), not a
    * directory, and its unqualified target; a dangling link reports
    * Hadoop's placeholder; a missing path is not found.
    */
  private def linkStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val p = file.toPath
    if (!Files.isSymbolicLink(p)) {
      val a = attrs(p).getOrElse(throw new FileNotFoundException(s"File $f does not exist"))
      new FileStatus(a.size, a.isDir, 1, getDefaultBlockSize(f), a.mtime, a.atime, a.perm,
        a.owner, a.group, new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    } else {
      val target = new Path(Files.readSymbolicLink(p).toString)
      attrs(p) match {
        case Some(to) =>
          new FileStatus(to.size, false, 1, getDefaultBlockSize(f), to.mtime, to.atime,
            to.perm, to.owner, to.group, target, f)
        case None =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }
}

object ForkFreeRawLocalFileSystem {
  private lazy val hadoopLinks = NativeIO.isAvailable || Shell.WINDOWS ||
    !FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private final case class Attrs(size: Long, isDir: Boolean, mtime: Long, atime: Long,
                                 perm: FsPermission, owner: String, group: String)

  /** One `stat` through the "unix" view; None where `File.exists` is false. */
  private def attrs(p: NioPath): Option[Attrs] =
    try {
      val a = Files.readAttributes(p, "unix:size,isDirectory,lastModifiedTime,lastAccessTime,mode,owner,group")
      def time(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
      def name(k: String) = a.get(k).asInstanceOf[UserPrincipal].getName
      // rwx bits plus the sticky bit, as `ls -ld` shows them
      val mode = a.get("mode").asInstanceOf[Integer].intValue & 0x3ff
      Some(Attrs(a.get("size").asInstanceOf[java.lang.Long], a.get("isDirectory").asInstanceOf[java.lang.Boolean],
        time("lastModifiedTime"), time("lastAccessTime"), new FsPermission(mode.toShort),
        name("owner"), name("group")))
    } catch { case _: FileSystemException => None }
}
