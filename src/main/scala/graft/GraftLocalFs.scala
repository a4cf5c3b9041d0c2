package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` AbstractFileSystem of every graft session, built the way
  * Hadoop's `LocalFs` is: a `ChecksumFs` (the `.crc` sidecars) over a
  * `DelegateToFileSystem` wrapping a raw local file system. FileContext
  * reaches local files only through it, so Spark's checkpoint manager (the
  * offset log, the commit log, the HDFS-backed state store, the source
  * metadata) runs on it unchanged.
  *
  * The one difference is [[GraftLocalFs.RawFs]]: without libhadoop, Hadoop's
  * `RawLocalFileSystem` forks `chmod` for every file and directory it
  * creates and `readlink` for both paths of every FileContext rename, about
  * a hundred process starts per streaming trigger. `RawFs` answers those two
  * primitives with syscalls. The constructor signature is the one
  * `AbstractFileSystem.createFileSystem` calls; like `LocalFs` it ignores
  * the URI, since `file:` has one root.
  */
final class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftLocalFs.RawDelegate(conf))

object GraftLocalFs {

  /** The Hadoop setting that selects the `file:` AbstractFileSystem. */
  val confKey = "fs.AbstractFileSystem.file.impl"

  /** `RawLocalFileSystem` with `chmod` and `readlink` done in process. */
  final class RawFs extends RawLocalFileSystem {

    /** The same mode bits through the file's POSIX attribute view (what
      * `Files.setPosixFilePermissions` uses); the sticky bit, which NIO
      * cannot set, and stores without a POSIX view keep Hadoop's path.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val view = Files.getFileAttributeView(pathToFile(p).toPath,
        classOf[PosixFileAttributeView])
      val sticky = (mode & 0x200) != 0 // octal 01000
      if (sticky || view == null) super.setPermission(p, permission)
      else view.setPermissions(posixBits(mode))
    }

    /** A path that is not a symlink has the status it resolves to (this is
      * what Hadoop returns once `readlink` prints nothing, a missing path
      * included); symlinks keep Hadoop's path.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  // PosixFilePermission is declared OWNER_READ .. OTHERS_EXECUTE, which is
  // mode bit 8 down to bit 0.
  private def posixBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(p)
    }
    set
  }

  /** Hadoop's `RawLocalFs` over [[RawFs]] (its constructors are package
    * private, so the four overrides are restated).
    */
  private[graft] final class RawDelegate(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new RawFs, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
