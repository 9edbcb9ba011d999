package graft.core

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its per-file subprocesses.
  *
  * Without `libhadoop` (absent from a plain Spark install), stock
  * `RawLocalFileSystem` forks a `chmod` for every file and directory it
  * creates with a permission and a `readlink` for every link-status probe
  * — `FileContext.rename` probes both ends, and the `.crc` sidecar is
  * renamed too. A checkpointed micro-batch writes its offset and commit
  * logs and its state-store files that way, so the forks, not the events,
  * dominated a trigger. This subclass overrides only the two forking
  * paths, with the same results through `java.nio`; everything else —
  * `.crc` sidecars, atomic temp-file renames, statuses — is stock code.
  * `GraftSession.builder` registers the wrappers below for `file:`.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod %04o` as one syscall. GNU chmod keeps a directory's
    * set-user/group-id bits under a four-digit octal mode, so those are
    * carried over; on a file the mode is set exactly. A missing path
    * raises `NoSuchFileException` where the shell raised Hadoop's
    * `ExitCodeException`; both are `IOException`s.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val setIds = // 06000
      if (Files.isDirectory(file)) Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00
      else 0
    // 01777: sticky bit and rwx for user, group, other
    Files.setAttribute(file, "unix:mode", Integer.valueOf(permission.toShort & 0x3ff | setIds))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Stock's link status, step for step: the target is read from
    * `new File(f.toString)` (so a scheme-qualified path never reads as a
    * link, as with the shell `readlink`), and a link's status is its
    * target's with the link's path. Only the `readlink` fork is gone:
    * building a real link's status still reads its permission through
    * stock's `ls`, as before (checkpoint directories hold no links).
    */
  private def linkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty => // dangling link
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }

  /** What `readlink <file>` prints, trimmed; "" when it is not a link. */
  private def readLink(file: File): String =
    try {
      val p = file.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim else ""
    } catch { case _: IOException | _: InvalidPathException => "" }
}

/** `fs.file.impl`: the `FileSystem` API with `.crc` checksums, as stock
  * `LocalFileSystem` wraps its raw filesystem.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` API (Spark's
  * checkpoint file manager), as stock `LocalFs` = `ChecksumFs` over
  * `RawLocalFs`. Like stock, it always serves `file:///`; the URI is
  * taken only because `AbstractFileSystem` constructs implementations
  * through a `(URI, Configuration)` constructor.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Stock `RawLocalFs` (whose constructors are package-private) over the
  * fork-free raw filesystem.
  */
class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
