package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/**
 * Hadoop's raw local file system with a `setPermission` that does not fork.
 *
 * Without the native `libhadoop` (Spark's jars never ship it),
 * `RawLocalFileSystem.setPermission` runs `Shell.execCommand("chmod", …)`,
 * and Hadoop calls it for every file created with a permission and every
 * directory `mkdirs` makes: three `chmod` processes per parquet part file
 * (its bucket directory, the file, its `.crc`). This class applies the
 * same mode with `Files.setPosixFilePermissions` instead. It defers to
 * Hadoop when the native library is loaded, when the mode has bits beyond
 * `0777` (sticky, setuid, setgid), or when the JVM's file system has no
 * POSIX attribute view.
 */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if (NioChmod && (mode & ~0x1ff) == 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
    else super.setPermission(p, permission)
  }
}

object ForkFreeRawLocalFileSystem {
  private val NioChmod = !NativeIO.isAvailable &&
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // OWNER_READ … OTHERS_EXECUTE: index i is mode bit 0400 >> i
  private val Bits = PosixFilePermission.values

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) s.add(Bits(i)))
    s
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` (`.crc` files
  * written and verified) over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` side (Structured
  * Streaming's checkpoint files), Hadoop's `LocalFs` over
  * [[ForkFreeRawLocalFileSystem]]. Like `LocalFs`, it ignores `uri`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` with [[ForkFreeRawLocalFileSystem]] underneath. */
class ForkFreeRawLocalFs(conf: Configuration)
  extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
    false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("see AbstractFileSystem.getServerDefaults", "")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
