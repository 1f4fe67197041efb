package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import java.nio.file.{Files, Path => NPath}
import java.nio.file.attribute.PosixFilePermission

/** Hadoop's checksummed local file system with `setPermission` done in
  * process. Without libhadoop, `RawLocalFileSystem` forks `chmod` for
  * every file it creates (the data file and its `.crc` sidecar alike) and
  * every directory it makes: a few ms each, dozens per snapshot commit.
  * Here the mode is set through `java.nio`, the same call libhadoop's
  * `NativeIO.POSIX.chmod` makes, so file bytes, `.crc` sidecars and modes
  * stay what Hadoop writes. A mode `java.nio` cannot express (sticky,
  * setuid, setgid) or a file store without POSIX attributes goes to
  * Hadoop's own path.
  *
  * The snapshot writer installs it on the Hadoop confs it builds
  * ([[NioLocalFileSystem.install]]); the session's conf is left alone. */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!chmod(pathToFile(p).toPath, permission)) super.setPermission(p, permission)
  }

  /** `PosixFilePermission` for mode bit `i` (bit 0 is others' execute). */
  private val Bits = {
    import PosixFilePermission._
    Array(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ, GROUP_EXECUTE, GROUP_WRITE,
      GROUP_READ, OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)
  }

  /** Sets `permission` on `f` in process; false when it cannot (a mode
    * outside the nine rwx bits, or a file store without POSIX attributes),
    * and the caller falls back to Hadoop's own path. */
  private[graft] def chmod(f: NPath, permission: FsPermission): Boolean = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) false
    else {
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      Bits.indices.foreach(i => if ((mode & (1 << i)) != 0) set.add(Bits(i)))
      try { Files.setPosixFilePermissions(f, set); true }
      catch { case _: UnsupportedOperationException => false }
    }
  }

  /** `conf` resolving `file:` to this class. The FileSystem cache keys on
    * scheme, authority and user, not on the conf, so a cached instance
    * would hand back whatever class the first caller asked for: the cache
    * is off for `file:` on these confs. */
  def install(conf: Configuration): Configuration = {
    conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf
  }
}
