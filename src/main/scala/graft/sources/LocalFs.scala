package graft.sources

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without the per-operation process
  * forks it falls back to when libhadoop is not loaded.
  *
  * Without the native library, stock `RawLocalFileSystem` shells out
  * twice on the hot path of every local write:
  *   - `setPermission` forks `chmod`, and every create and mkdir calls
  *     it (a file create applies the umasked default mode, its `.crc`
  *     sibling is a second create);
  *   - `getFileLinkStatus` forks `readlink`, and FileContext calls it
  *     for both sides of every rename — the streaming checkpoint logs
  *     and state-store files commit through such renames.
  * Each fork costs milliseconds where the syscall costs microseconds
  * (SCALE.md §6, "Local-filesystem fork cost"). This class overrides
  * exactly those two methods with `java.nio` calls that yield the same
  * result, and hands every case nio cannot reproduce to the stock code.
  * Installed for the `file:` scheme by [[graft.GraftSession]] through
  * the two wrappers below. */
final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through nio. A mode with more bits (sticky), or a
    * directory carrying setuid/setgid, goes to the stock `chmod`: GNU
    * chmod keeps a directory's set-id bits under a four-digit octal
    * mode, where nio's chmod(2) would clear them. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || setIdDirectory(file)) super.setPermission(p, permission)
    else {
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      PosixFilePermission.values.foreach { b =>
        if ((mode & (0x100 >> b.ordinal)) != 0) bits.add(b)
      }
      Files.setPosixFilePermissions(file, bits)
    }
  }

  private def setIdDirectory(file: JPath): Boolean = {
    val a = Files.readAttributes(file, "unix:mode,isDirectory")
    a.get("isDirectory").asInstanceOf[Boolean] &&
      (a.get("mode").asInstanceOf[Int] & 0xc00) != 0 // 06000
  }

  /** For anything but a symlink the stock method returns
    * `getFileStatus(f)` after its `readlink` fork finds no target (and,
    * like it, throws FileNotFoundException for a missing path); a real
    * symlink still goes to the stock method. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the stock checksummed local filesystem (`.crc`
  * sidecars included) over [[ForkFreeRawLocalFileSystem]]. */
final class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the FileContext side: Hadoop's
  * `LocalFs` (checksums over `RawLocalFs`) rebuilt over
  * [[ForkFreeRawLocalFileSystem]]. Hadoop's own classes cannot be
  * reused because their constructors are package-private. FileContext
  * calls the (URI, Configuration) constructor by reflection; like the
  * stock class this one always serves file:///. Spark's
  * `CheckpointFileManager.isLocal` matches only Hadoop's classes by
  * type, and nothing in Spark 4.1 reads it. */
final class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[ForkFreeRawLocalFileSystem]], with the
  * same overrides. */
private[sources] final class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("mirrors the deprecated AbstractFileSystem method", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
