package graft.engine

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of a local session: Hadoop's local file
  * system without a process per file operation.
  *
  * Without Hadoop's native library (Spark ships none), the raw local
  * file system runs `chmod` for every permission it sets (each create
  * and mkdirs) and `readlink` for every link status (each `FileContext`
  * rename, which is how the streaming checkpoint and the state stores
  * commit). Each is a forked process and a reader thread. [[Raw]] sets
  * permissions through `java.nio` and answers a qualified path's link
  * status with its file status, which is what the `readlink` answer
  * always came to: it is handed the `file:`-qualified string, names no
  * file and fails. Everything else, the `.crc` checksum files included,
  * is Hadoop's own. */
object LocalFs {

  /** The settings that put these classes under both Hadoop APIs. */
  val settings: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[Checksummed].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[Context].getName)

  class Raw extends RawLocalFileSystem {

    /** Permission bits above 0777 (sticky; FsPermission has no setuid
      * or setgid) still go through Hadoop's `chmod`. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))
        ()
      }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (f.toUri.getScheme != null) getFileStatus(f)
      else super.getFileLinkStatus(f)
  }

  /** `fs.file.impl`: the checksummed file system over [[Raw]]. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`, for `FileContext`: Hadoop's
    * `local.LocalFs` over [[Raw]]. Hadoop constructs it with the path's
    * URI; like `local.LocalFs` it serves `file:///` whatever that is. */
  class Context(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawContext(conf))

  /** Hadoop's `local.RawLocalFs` over [[Raw]]. */
  class RawContext(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    // the OS judges local names
    override def isValidName(src: String): Boolean = true
  }
}
