package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without a process per file.
  *
  * Without libhadoop the stock class starts a `chmod` process for every
  * file and directory it creates (`setPermission`), and a `readlink` process
  * for every `getFileLinkStatus`, which `FileContext.rename` asks for on
  * both ends. Parquet part files, `_SUCCESS`, commit-protocol directories,
  * the state services' stamps and every streaming offset, commit and
  * state-store delta file pay these. The two overrides do the same thing in
  * process:
  *  - `setPermission` sets the same mode bits through
  *    `Files.setPosixFilePermissions`. Three cases take the inherited
  *    method: a sticky bit, which the POSIX view cannot set; a target that
  *    carries a setuid or setgid bit, which `chmod` keeps on a directory
  *    (a directory made under a setgid one inherits the bit) and the POSIX
  *    view would clear; and a non-POSIX file store;
  *  - `getFileLinkStatus` of a path that is not a symbolic link is its
  *    `getFileStatus`, as the inherited method returns; a link takes the
  *    inherited method.
  *
  * Everything else, `.crc` checksums, rename and overwrite semantics
  * included, is the stock class's. [[ForkFreeLocalFileSystem]] and
  * [[ForkFreeLocalFs]] wrap it for the two Hadoop APIs as Hadoop's
  * `LocalFileSystem` and `LocalFs` wrap the stock class; `Engine.session`
  * installs both for the `file:` scheme. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    try {
      val setId = (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xc00) != 0 // 06000
      if (permission.getStickyBit || setId) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(f, PosixFilePermissions.fromString(Seq(
        permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))
    } catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `FileSystem` API's `file:` scheme: Hadoop's checksummed
  * `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` API's `file:` scheme: Hadoop's `LocalFs` (a
  * `ChecksumFs` over `RawLocalFs`) with [[ForkFreeRawLocalFileSystem]] as
  * the delegate. The delegate repeats `RawLocalFs`'s three overrides,
  * whose constructors are package-private. Like `LocalFs`, it serves the
  * local root whatever URI it is asked for. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })

object LocalFs {

  /** The session settings that install the fork-free classes for `file:`. */
  val sparkConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** `FileSystem.get` caches one `file:` instance per JVM, built from the
    * conf of whoever asked first. If that was a conf without
    * [[sparkConf]], close the cached stock instance: closing drops it from
    * the cache, so the next `get` builds from the session's conf. A closed
    * local filesystem keeps working for whoever still holds it. */
  def claimCache(conf: Configuration): Unit = {
    val fs = FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
    if (!fs.isInstanceOf[ForkFreeLocalFileSystem]) fs.close()
  }
}
