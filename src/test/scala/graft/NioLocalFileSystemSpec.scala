package graft

import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** [[NioLocalFileSystem]] sets the mode bits Hadoop's own local
  * filesystem sets, only without a `chmod` process.
  */
class NioLocalFileSystemSpec extends SparkTestBase {

  private def unixMode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort

  private def initialized[F <: FileSystem](fs: F, umask: String = "022"): F = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  test("setPermission: the NIO raw layer leaves the same bits as Hadoop's for every plain mode") {
    val dir = Files.createTempDirectory("nio-perm-")
    val hadoop = initialized(new RawLocalFileSystem)
    val nio = initialized(new NioLocalFileSystem.Raw)
    for (mode <- Seq("600", "644", "700", "755", "777", "000")) {
      val a = Files.createFile(dir.resolve(s"hadoop-$mode"))
      val b = Files.createFile(dir.resolve(s"nio-$mode"))
      hadoop.setPermission(new Path(a.toUri), new FsPermission(octal(mode)))
      nio.setPermission(new Path(b.toUri), new FsPermission(octal(mode)))
      assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a), mode)
      assert(unixMode(b) == octal(mode), mode)
    }
  }

  test("create and mkdirs apply the umask the same way through both filesystems") {
    for (umask <- Seq("022", "077", "027")) {
      val dir = Files.createTempDirectory(s"nio-umask-$umask-")
      val fss = Seq("hadoop" -> initialized(new LocalFileSystem, umask),
        "nio" -> initialized(new NioLocalFileSystem, umask))
      val modes = fss.map { case (name, fs) =>
        val file = new Path(dir.toUri.toString + s"/$name/sub/f")
        fs.mkdirs(file.getParent, new FsPermission(octal("777")))
        val out = fs.create(file, new FsPermission(octal("666")), true, 4096,
          1.toShort, 1L << 20, null)
        try out.write(1) finally out.close()
        val root = dir.resolve(name)
        // the data file, its .crc sibling and both directories
        Seq("sub", "sub/f", "sub/.f.crc").map(rel => rel -> unixMode(root.resolve(rel)))
      }
      assert(modes(1) == modes(0), s"umask $umask")
      assert(modes(1).toMap.apply("sub/f") == (octal("666") & ~octal(umask)), s"umask $umask")
    }
  }

  test("a mode with the sticky bit takes Hadoop's path and keeps the bit") {
    val d = Files.createTempDirectory("nio-sticky-")
    initialized(new NioLocalFileSystem.Raw)
      .setPermission(new Path(d.toUri), new FsPermission(octal("1777")))
    assert(unixMode(d) == octal("1777"))
  }

  test("the session's file: filesystem is the NIO one and still a LocalFileSystem") {
    // SnapshotLog.commit takes its O_EXCL manifest create only on a
    // LocalFileSystem; the installed class must keep qualifying
    val fs = new Path(Files.createTempDirectory("nio-session-").toUri)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    assert(fs.isInstanceOf[LocalFileSystem])
  }
}
