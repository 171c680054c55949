package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without child processes.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` runs a `chmod`
  * process for every file and directory it creates with a permission,
  * and a `readlink` process for every `getFileLinkStatus`, which each
  * `FileContext` rename calls. A streaming checkpoint creates several
  * files per micro-batch (offset and commit logs, state-store deltas,
  * their `.crc` files, checkpoint checksum files), so those spawns were
  * most of the micro-batch loop's fixed cost. Only the two spawning
  * methods change:
  *
  *  - `setPermission` sets the same mode with chmod(2) through NIO. A
  *    mode with the sticky bit, and a directory that carries set-ID
  *    bits (which `chmod 0755` keeps and chmod(2) would clear), go to
  *    Hadoop's own code.
  *  - `getFileLinkStatus` answers a path that is not a symlink with
  *    `getFileStatus`, which is what Hadoop returns for it. Real
  *    symlinks go to Hadoop's own code.
  *
  * On a store without the "unix" attribute view both methods are
  * Hadoop's. Wrapped by [[SpawnFreeLocalFileSystem]] and
  * [[SpawnFreeLocalFs]], so `.crc` files and temp-then-rename commits
  * are the stock ones. */
class SpawnFreeRawLocalFileSystem extends RawLocalFileSystem {
  import SpawnFreeRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xfff
    if (!Unix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val file = pathToFile(p).toPath
      val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      if ((current & TypeMask) == Directory && (current & SetIdBits) != 0)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, permissions(mode))
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Unix && !Files.isSymbolicLink(pathToFile(f).toPath)) getFileStatus(f)
    else super.getFileLinkStatus(f)
}

object SpawnFreeRawLocalFileSystem {
  private val Unix = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val TypeMask = 0xf000 // S_IFMT
  private val Directory = 0x4000 // S_IFDIR
  private val SetIdBits = 0xc00 // S_ISUID | S_ISGID

  /** The `rwxrwxrwx` bits of `mode`; `PosixFilePermission` lists them
    * from owner-read (0400) down to others-execute (0001). */
  private def permissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[SpawnFreeRawLocalFileSystem]]. */
class SpawnFreeLocalFileSystem extends LocalFileSystem(new SpawnFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side that
  * Spark's checkpoint file manager uses: Hadoop's `LocalFs` (a
  * `ChecksumFs`) over [[SpawnFreeRawLocalFs]]. Like `LocalFs`, it
  * serves `file:///` whatever URI it is given. */
class SpawnFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new SpawnFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs`, whose constructor is package-private, over
  * [[SpawnFreeRawLocalFileSystem]]: the same delegate and the same
  * four overrides. */
class SpawnFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new SpawnFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
