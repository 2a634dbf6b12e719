package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem without a forked `chmod` per file: without
  * Hadoop's native library the stock `setPermission` runs `chmod`
  * through `Shell.execCommand`, so every local create, `.crc` and
  * mkdir starts a process. This one sets the same mode bits with one
  * NIO call; a mode NIO cannot express (the sticky bit) still goes
  * to the stock path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's order is OWNER_READ … OTHERS_EXECUTE, bits 0400 … 01
      PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b))
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
}

/** `fs.file.impl`: the stock checksummed local filesystem (`.crc`
  * files unchanged) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The FileContext twin of Hadoop's `RawLocalFs` (whose constructors are
  * package-private), over [[NioRawLocalFileSystem]], with its three
  * overrides. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: checksummed [[NioRawLocalFs]], as
  * Hadoop's `LocalFs` is over `RawLocalFs` — what FileContext callers
  * such as Spark's streaming checkpoint manager get. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
