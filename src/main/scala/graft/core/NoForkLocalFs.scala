package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local (`file://`) file system without process forks.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` shells out for
  * two calls on the streaming hot path: `setPermission` runs `chmod`
  * (every checkpoint temp file, `mkdirs` and parquet output file) and
  * `getFileLinkStatus` runs `readlink` (every `FileContext.rename`, i.e.
  * every checkpoint and state-store commit). One `live_pipeline` run
  * forked 3,484 processes this way (916 `chmod`, 2,568 `readlink`),
  * about 1.5 ms each. This subclass
  * answers both from `java.nio.file` instead; everything else is
  * Hadoop's. Registered for the `file://` scheme only
  * ([[ScaleDefaults]]), so HDFS and object stores are untouched.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod through NIO. NIO carries only the nine rwx bits, so a mode
    * with the sticky bit goes to Hadoop's own path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val file = pathToFile(p)
      try Files.setPosixFilePermissions(file.toPath, NoForkRawLocalFileSystem.posix(mode))
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $file does not exist") }
    }
  }

  /** A path that is not a symlink has the same link status as file
    * status (Hadoop returns exactly `getFileStatus` once `readlink`
    * prints nothing); only a real symlink needs Hadoop's resolution. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NoForkRawLocalFileSystem {
  // PosixFilePermission declares OWNER_READ … OTHERS_EXECUTE in mode-bit
  // order, from 0400 down to 0001
  private val Bits = PosixFilePermission.values()

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- Bits.indices if (mode & (1 << (8 - i))) != 0) s.add(Bits(i))
    s
  }
}

/** `FileSystem` API (`fs.file.impl`): checksummed, as Hadoop's default. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `FileContext` API over the same file system, with every override of
  * Hadoop's `org.apache.hadoop.fs.local.RawLocalFs`. Spark's streaming
  * checkpoint manager and state store write through `FileContext`. */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `FileContext` API (`fs.AbstractFileSystem.file.impl`): checksummed,
  * as Hadoop's `org.apache.hadoop.fs.local.LocalFs`. */
class NoForkLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NoForkRawLocalFs(uri, conf))
