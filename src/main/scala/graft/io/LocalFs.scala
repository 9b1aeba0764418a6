package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without process forks.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` runs
  * `/bin/chmod` for every file and directory it creates (`setPermission`)
  * and `readlink` for every `getFileLinkStatus`, which
  * `FileContext.rename` calls on both ends of every checkpoint-log
  * rename. A fork costs milliseconds, so a partitioned write or a
  * micro-batch commit pays far more for those spawns than for its bytes.
  * [[NioRawLocalFileSystem]] does the same two things through `java.nio`;
  * everything else — checksums, the commit protocol, atomic
  * overwrite-rename, the permission bits themselves — is Hadoop's own
  * code. [[LocalFs.install]] points both `file://` entry points at it:
  * `FileSystem` (`fs.file.impl`) and `FileContext`
  * (`fs.AbstractFileSystem.file.impl`, which streaming checkpoint logs
  * use). */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The 9 rwx bits through NIO; a sticky bit keeps Hadoop's shell
    * path. (`FsPermission` holds no setuid/setgid bits.) */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  /** For anything but a symlink Hadoop returns `getFileStatus(f)` after
    * its `readlink` fork comes back empty; only real links take that
    * path now. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: checksummed `FileSystem` over the fork-free raw FS. */
class NioLocalFileSystem
  extends org.apache.hadoop.fs.LocalFileSystem(new NioRawLocalFileSystem)

/** The `AbstractFileSystem` face of the raw FS, as Hadoop's `RawLocalFs`. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: checksummed, as Hadoop's `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

object LocalFs {
  /** Route `file://` through the classes above for every Hadoop
    * configuration derived from `conf`. Idempotent. A `FileSystem`
    * resolved before this call stays cached JVM-wide, so a stock
    * instance is closed, which evicts it; the next lookup builds ours. */
  def install(conf: Configuration): Unit = {
    conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    val cached = FileSystem.get(URI.create("file:///"), conf)
    if (!cached.isInstanceOf[NioLocalFileSystem]) cached.close()
  }
}
