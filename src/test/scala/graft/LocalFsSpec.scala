package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ForkFreeRawLocalFileSystem

/** The fork-free `file:` filesystem keeps stock `RawLocalFileSystem`'s
  * semantics for permissions and link status.
  */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private lazy val ours = init(new ForkFreeRawLocalFileSystem)
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val root = Files.createTempDirectory("local-fs-spec")

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    super.afterAll()
  }

  private def hadoop(p: JPath): Path = new Path(p.toUri)

  test("setPermission round-trips 0755, 0644 and 0700 through java.nio") {
    val f = Files.createFile(root.resolve("modes"))
    Seq("755" -> "rwxr-xr-x", "644" -> "rw-r--r--", "700" -> "rwx------").foreach {
      case (octal, rwx) =>
        ours.setPermission(hadoop(f), new FsPermission(octal))
        assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) === rwx, octal)
    }
  }

  test("the sticky bit still applies, through the stock fallback") {
    val d = Files.createDirectory(root.resolve("sticky"))
    ours.setPermission(hadoop(d), new FsPermission("1777"))
    val mode = Files.getAttribute(d, "unix:mode").asInstanceOf[Int]
    assert(Integer.toOctalString(mode & 0xfff) === "1777")
  }

  test("getFileLinkStatus equals stock Hadoop's on a file, a directory and a symlink") {
    val file = Files.write(root.resolve("file"), "x".getBytes("UTF-8"))
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    def fields(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
      s.getModificationTime, s.getPermission, if (s.isSymlink) s.getSymlink else null)
    for {
      p <- Seq(file, dir, link)
      // qualified (`file:/…`) and bare paths take different stock routes
      hp <- Seq(hadoop(p), new Path(p.toString))
    } assert(fields(ours.getFileLinkStatus(hp)) === fields(stock.getFileLinkStatus(hp)), hp)
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
  }
}
