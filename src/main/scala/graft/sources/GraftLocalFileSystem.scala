package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` scheme of every engine session ([[graft.GraftSession]]).
  *
  * Hadoop's `LocalFileSystem`, checksum sidecars included, over a raw
  * file system that applies permission bits in-process. Without
  * libhadoop, the stock `RawLocalFileSystem.setPermission` forks a
  * `chmod` for every file created (data part and `.crc`) and every
  * directory made. Same mode bits; it defers to Hadoop when libhadoop is
  * loaded, for the sticky bit, and where the store has no POSIX
  * attribute view.
  *
  * Without this binding the Spark classpath resolves `file:` to Hive's
  * `ProxyLocalFileSystem` (hive-exec registers it after Hadoop's own).
  * That class only changes `rename`: it refuses a destination that is
  * an existing file instead of replacing it. The rule is kept here, so
  * the binding changes nothing but how mode bits are applied.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw) {
  override def rename(src: Path, dst: Path): Boolean =
    !(exists(dst) && getFileStatus(dst).isFile) && super.rename(src, dst)
}

object GraftLocalFileSystem {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit)
        super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        // PosixFilePermission runs from OWNER_READ (0400) to OTHERS_EXECUTE (0001)
        val bits = PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0)
        try Files.setPosixFilePermissions(pathToFile(p).toPath, java.util.Set.of(bits: _*))
        catch {
          case _: UnsupportedOperationException =>
            super.setPermission(p, permission)
        }
      }
  }
}
