package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Shell

/** Hadoop's local `file:` file system without subprocesses.
  *
  * Without the native `libhadoop`, stock `RawLocalFileSystem` starts a
  * `chmod` process for every file or directory it creates
  * (`setPermission`) and a `readlink` process for every
  * `getFileLinkStatus`, which `FileContext.rename` calls on both ends.
  * Every checkpoint log entry, state-store commit and index write pays
  * that: 7–11 ms per create and 23–33 ms per rename on a 4-core VM.
  * This class overrides exactly those two operations with `java.nio`;
  * everything else — permissions, `.crc` sidecars, rename and overwrite
  * semantics — is the parent's.
  *
  * `core-site.xml` registers [[GraftLocalFileSystem]] and [[GraftLocalFs]]
  * for `file:`, so every Hadoop `Configuration` picks them up, also in
  * sessions the engine does not build itself (README "Performance
  * notes" covers class-path precedence).
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` as a syscall. Modes nio cannot express (sticky, setuid,
    * setgid) and non-POSIX hosts take the parent's path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if (Shell.WINDOWS || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists owner/group/others read-write-execute,
      // i.e. mode bits 8 down to 0
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(pp)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** Anything that is not a symlink has its plain status, as in the
    * parent; only real links pay the parent's `readlink`.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local file system over
  * [[GraftRawLocalFileSystem]], as `LocalFileSystem` is over
  * `RawLocalFileSystem`.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The `FileContext` view of [[GraftRawLocalFileSystem]], with the
  * overrides of Hadoop's `RawLocalFs`.
  */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: `FileContext`'s checksummed local
  * file system, as `LocalFs` is over `RawLocalFs`. Streaming checkpoint
  * renames go through it.
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))
