package graft.util

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem of every [[Tables.session]]: Hadoop's
  * checksummed `LocalFileSystem`, except that permissions are set
  * through `java.nio` instead of a `chmod` process. Without Hadoop's
  * native library the stock `RawLocalFileSystem.setPermission` forks
  * one `chmod` per file and directory it creates — every parquet part
  * file, its `.crc`, every partition and generation dir. The bits set
  * are the same; a mode NIO cannot express (sticky, setuid, setgid —
  * asked for, or already on the path, which `chmod` keeps on
  * directories) or a non-POSIX store takes the stock path. It extends
  * `LocalFileSystem` because `FileSystem.getLocal` casts to it. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      val special = 0xe00 // 07000: setuid, setgid, sticky
      try {
        val now = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
        if (((perm.toShort | now) & special) != 0) super.setPermission(p, perm)
        else { Files.setPosixFilePermissions(f, posix(perm.toShort)); () }
      } catch {
        case _: UnsupportedOperationException | _: IllegalArgumentException =>
          super.setPermission(p, perm)
      }
    }
  }

  /** rwx for owner, group, others, in `PosixFilePermission` order. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(b)
    }
    s
  }
}
