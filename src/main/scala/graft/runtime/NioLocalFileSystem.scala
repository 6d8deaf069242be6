package graft.runtime

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with permissions set through java.nio.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process, and Hadoop calls it for every file and directory it creates:
  * `.crc` sidecars, parquet `_temporary` dirs, checkpoint files, backups.
  * Each fork costs about 3 ms; `Files.setPosixFilePermissions` sets the
  * same nine mode bits in-process. A sticky-bit request, which java.nio
  * cannot express, keeps the stock path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioRawLocalFileSystem.posix(permission.toShort))
}

object NioRawLocalFileSystem {
  // declaration order is owner/group/others × read/write/execute,
  // i.e. mode bits 0400 down to 0001
  private val bits = PosixFilePermission.values()

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) s.add(bits(i)))
    s
  }
}

/** [[NioRawLocalFileSystem]] under Hadoop's checksum layer, so `.crc`
  * sidecars and the on-disk layout are those of the stock
  * `LocalFileSystem`.
  *
  * Renaming onto an existing file fails (returns false), as on HDFS.
  * That is what `file://` resolved to before: Spark's jars register
  * Hive's `ProxyLocalFileSystem` for the scheme after Hadoop's own, and
  * this is its only change to `LocalFileSystem`, whose raw POSIX rename
  * would silently replace the file. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

object NioLocalFileSystem {
  private[graft] val ImplKey = "fs.file.impl"

  /** Resolve `file://` through [[NioLocalFileSystem]] under `conf`.
    *
    * Hadoop caches filesystems by scheme and user, not by class: a stock
    * `LocalFileSystem` cached before (say by `FileSystem.getLocal` on a
    * plain `Configuration`) would keep answering for `conf` and fork
    * `chmod` on every create. When the cached instance is not ours,
    * `conf` bypasses the cache for `file://` instead of closing the
    * stale instance, whose holders and delete-on-exit paths are not
    * ours to end. */
  def install(conf: Configuration): Unit = {
    conf.set(ImplKey, classOf[NioLocalFileSystem].getName)
    if (!FileSystem.get(URI.create("file:///"), conf).isInstanceOf[NioLocalFileSystem])
      conf.setBoolean("fs.file.impl.disable.cache", true)
  }
}
