package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with `chmod` and `readlink` done in-process.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks `/bin/chmod` for every directory, data file and `.crc` sidecar a
  * write creates, and for every offset and commit file of a streaming
  * checkpoint. A process start per file costs far more than writing a small
  * file, and it was the largest data-independent cost of a lake write on a
  * local disk.
  * [[Raw]] sets the same mode (already umask-applied by its callers) with
  * `Files.setPosixFilePermissions`, which is `chmod(2)` as the native library
  * calls it; a sticky bit (which the POSIX view cannot express) and a file
  * store without POSIX permissions still take Hadoop's own path. Likewise
  * `getFileLinkStatus` (every `FileContext` rename calls it) tests for a
  * symlink through `java.nio` instead of forking `readlink`; only a real
  * symlink takes Hadoop's path.
  *
  * Both of Hadoop's APIs get it: [[Checksummed]] for `FileSystem` (what
  * Spark's writers and `Sink` use) and [[Context]] for `FileContext` (what
  * Spark's streaming checkpoint manager writes through). They are the stock
  * `LocalFileSystem` and `LocalFs` over [[Raw]], so the same files, `.crc`
  * sidecars, renames and modes land on disk. [[graft.GraftSession.builder]]
  * installs them as `fs.file.impl` and `fs.AbstractFileSystem.file.impl`.
  */
object LocalFs {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

    /** Stock, minus the `readlink` fork for a path that is no symlink
      * (every path a lake or a checkpoint renames): `FileUtil.readLink`
      * forks `readlink` per call, and every `FileContext` rename calls this.
      * The link test looks at `new File(f.toString)`, the file stock reads. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  class Checksummed extends LocalFileSystem(new Raw)

  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  /** `org.apache.hadoop.fs.local.RawLocalFs` over [[Raw]] (its constructors
    * are package-private), with the overrides whose results differ from
    * `DelegateToFileSystem`'s. */
  class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The rwx bits of `mode`: `PosixFilePermission` lists OWNER_READ (0400)
    * down to OTHERS_EXECUTE (0001). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p) }
    set
  }
}
