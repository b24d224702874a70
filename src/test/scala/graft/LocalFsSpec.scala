package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` in a graft session is `LocalFs`, and it writes the modes,
  * reports the links and renames as Hadoop's own local filesystem does.
  *
  * `FileSystem`'s cache is keyed by scheme and user, not by conf: the
  * first `FileSystem.get` of `file:` in a JVM pins the class. A bare
  * `new Configuration()` reaching `file:` before the session would pin
  * Hadoop's class, and the first test would fail; graft's code has none. */
class LocalFsSpec extends SparkTestBase {

  private val local = URI.create("file:///")
  private lazy val conf = spark.sparkContext.hadoopConfiguration
  private lazy val fs = FileSystem.get(local, conf)
  private lazy val umask = FsPermission.getUMask(conf).toShort

  private def withDir(body: JPath => Any): Unit = {
    val dir = Files.createTempDirectory("graft_localfs")
    try body(dir) finally FileSystem.getLocal(conf).delete(new Path(dir.toString), true)
  }

  private def hadoop(p: JPath) = new Path(p.toString)
  private def octal(digits: String) = Integer.parseInt(digits, 8)

  /** The rwx bits from `PosixFilePermission`s (enum order is owner rwx,
    * group rwx, others rwx, i.e. bits 0400 down to 01). */
  private def perms(p: JPath): Int =
    Files.getPosixFilePermissions(p).asScala.iterator.map(b => 0x100 >> b.ordinal).sum

  test("the session's file: bindings are graft's classes") {
    assert(fs.getClass == classOf[LocalFs.ChecksummedFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[LocalFs.RawFileSystem])
    assert(AbstractFileSystem.get(local, conf).getClass == classOf[LocalFs.ChecksummedFs])
  }

  test("a created file has mode 0666 & ~umask, a created dir 0777 & ~umask") {
    withDir { dir =>
      fs.create(hadoop(dir.resolve("f"))).close()
      assert(perms(dir.resolve("f")) == (octal("666") & ~umask))
      assert(perms(dir.resolve(".f.crc")) == (octal("666") & ~umask))
      assert(fs.mkdirs(hadoop(dir.resolve("a/b"))))
      assert(perms(dir.resolve("a")) == (octal("777") & ~umask))
      assert(perms(dir.resolve("a/b")) == (octal("777") & ~umask))
    }
  }

  test("explicit permissions read back") {
    withDir { dir =>
      val f = dir.resolve("f")
      Files.createFile(f)
      for (mode <- Seq(octal("600"), octal("750"))) {
        fs.setPermission(hadoop(f), new FsPermission(mode.toShort))
        assert(perms(f) == mode)
      }
    }
  }

  test("a sticky-bit permission still applies") {
    withDir { dir =>
      fs.setPermission(hadoop(dir), new FsPermission(octal("1777").toShort))
      assert(Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] % octal("10000") == octal("1777"))
    }
  }

  test("getFileLinkStatus reports a symlink and its target") {
    withDir { dir =>
      val target = Files.write(dir.resolve("target"), "x".getBytes(UTF_8))
      val link = Files.createSymbolicLink(dir.resolve("link"), target)
      val st = fs.getFileLinkStatus(hadoop(link))
      assert(st.isSymlink)
      assert(st.getSymlink.toUri.getPath == target.toString)
      assert(!fs.getFileLinkStatus(hadoop(target)).isSymlink)
    }
  }

  test("getFileLinkStatus on a missing path throws FileNotFoundException") {
    withDir { dir =>
      intercept[FileNotFoundException](fs.getFileLinkStatus(hadoop(dir.resolve("missing"))))
      intercept[FileNotFoundException](
        FileContext.getFileContext(local, conf).getFileLinkStatus(hadoop(dir.resolve("missing"))))
    }
  }

  test("a FileContext rename with OVERWRITE replaces its target") {
    withDir { dir =>
      val fc = FileContext.getFileContext(local, conf)
      def write(name: String, text: String): Path = {
        val p = hadoop(dir.resolve(name))
        val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        try out.write(text.getBytes(UTF_8)) finally out.close()
        p
      }
      val (src, dst) = (write("src", "new"), write("dst", "old"))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(src))
      val in = fc.open(dst) // checksummed: the .crc moved with the data
      try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
    }
  }
}
