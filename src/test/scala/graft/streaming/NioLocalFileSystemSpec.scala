package graft.streaming

import java.nio.file.{Files, LinkOption, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioLocalFileSystem]] sets exactly the bits the stock
  * `RawLocalFileSystem.setPermission` sets, on files and on directories
  * made with `mkdirs(path, perm)`. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def init(fs: FileSystem): FileSystem = {
    val conf = new Configuration()
    // no umask, so every bit of the mode reaches setPermission
    conf.set("fs.permissions.umask-mode", "000")
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }
  private lazy val nio = init(new NioLocalFileSystem)
  private lazy val stock = init(new RawLocalFileSystem)

  /** The full mode (with the sticky bit) as the kernel reports it. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0x3ff
  private def posix(p: JPath) =
    Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS)

  private val modes = Seq(0x0, 0x180, 0x1a0, 0x1a4, 0x1c0, 0x1e8, 0x1ed,
    0x1ff) // 0000 0600 0640 0644 0700 0750 0755 0777

  test("setPermission on a file gives the stock bits for every plain mode") {
    val dir = Files.createTempDirectory("nio_fs")
    modes.foreach { m =>
      val perm = new FsPermission(m.toShort)
      val mine = Files.createFile(dir.resolve(f"nio_$m%o"))
      val theirs = Files.createFile(dir.resolve(f"stock_$m%o"))
      nio.setPermission(new Path(mine.toUri), perm)
      stock.setPermission(new Path(theirs.toUri), perm)
      assert(posix(mine) == posix(theirs), f"mode $m%04o")
      assert(mode(mine) == m, f"mode $m%04o")
    }
  }

  test("mkdirs(path, perm) gives the stock bits for every plain mode") {
    val dir = Files.createTempDirectory("nio_fs")
    modes.foreach { m =>
      val perm = new FsPermission(m.toShort)
      val mine = dir.resolve(f"nio_$m%o")
      val theirs = dir.resolve(f"stock_$m%o")
      assert(nio.mkdirs(new Path(mine.toUri), perm))
      assert(stock.mkdirs(new Path(theirs.toUri), perm))
      assert(posix(mine) == posix(theirs), f"mode $m%04o")
      assert(mode(mine) == m, f"mode $m%04o")
    }
  }

  test("a sticky-bit directory takes the stock path and matches it") {
    val dir = Files.createTempDirectory("nio_fs")
    val perm = new FsPermission(0x3ff.toShort) // 01777
    assert(perm.getStickyBit)
    // mkdirs applies the umask, which drops the sticky bit, so the bit
    // is set on existing directories; the java.nio path cannot set it,
    // so a match with the bit on shows the stock path ran
    val mine = Files.createDirectory(dir.resolve("nio_sticky"))
    val theirs = Files.createDirectory(dir.resolve("stock_sticky"))
    nio.setPermission(new Path(mine.toUri), perm)
    stock.setPermission(new Path(theirs.toUri), perm)
    assert(mode(mine) == mode(theirs))
    assert(mode(mine) == 0x3ff)
  }
}
