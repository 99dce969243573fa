package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Fork-free local filesystem for every `file:` read and write the engine
  * makes: streaming checkpoints (offset/commit logs), state-store
  * changelogs and checksums, relay and sink files, reliable lineage cuts.
  *
  * Without `libhadoop` (the Spark distribution ships none), Hadoop's
  * [[RawLocalFileSystem]] runs `chmod` in a child process for every file and
  * directory it creates with a permission, and `readlink` for every
  * `getFileLinkStatus` — which `FileContext.rename` calls on both ends of
  * every checkpoint-file commit. On a micro-batch of a few KB those forks,
  * not the data, are most of the log and state commit time.
  *
  * This subclass does both in-process through `java.nio.file` and keeps
  * Hadoop's own code for the cases NIO cannot express exactly:
  *  - `setPermission` with a sticky bit, or on a path that carries
  *    setuid/setgid bits (a 4-digit `chmod` keeps a directory's setgid;
  *    `setPosixFilePermissions` would clear it);
  *  - `getFileLinkStatus` on a real symlink (dangling or not).
  * Permissions, `.crc` side files and rename semantics are the stock ones;
  * `LocalFileSystemSpec` compares both against [[RawLocalFileSystem]]. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    def hasSetIdBits = // setuid | setgid (06000)
      (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00) != 0
    try {
      if (permission.getStickyBit || hasSetIdBits) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, NioRawLocalFileSystem.posix(permission))
    } catch {
      case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f) // what Hadoop returns once readlink finds no link
}

object NioRawLocalFileSystem {
  /** The rwx bits of `p`; `PosixFilePermission.values` runs OWNER_READ
    * (0400) down to OTHERS_EXECUTE (0001). */
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = p.toShort.toInt
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (1 << (8 - i))) != 0) out.add(perm)
    }
    out
  }
}

/** `fs.file.impl`: the checksummed [[LocalFileSystem]] over the fork-free
  * raw filesystem. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` side (`fs.AbstractFileSystem.file.impl`), which Spark's
  * streaming checkpoint file manager uses: Hadoop's `RawLocalFs` over the
  * fork-free raw filesystem. Its constructors are package-private, so its
  * four overrides are repeated here. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("use getServerDefaults(Path)", "Hadoop 2.9")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (checksums over the raw context filesystem) with
  * [[NioRawLocalFs]] underneath; like `LocalFs`, it always binds `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
