package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The fork-free local filesystem (sources/LocalFs.scala): installed on
  * the session under both Hadoop APIs, indistinguishable from the stock
  * local filesystem in the permissions and link statuses it produces,
  * and free of process forks on the create path. */
class LocalFsSpec extends SparkSpec {

  private val local = new URI("file:///")

  private def withTempDir[A](body: JPath => A): A = {
    val dir = Files.createTempDirectory("graft-localfs")
    try body(dir)
    finally FileUtils.deleteDirectory(dir.toFile)
  }

  /** Stock and fork-free checksummed filesystems over one configuration. */
  private def pair(conf: Configuration): Seq[(String, LocalFileSystem)] =
    Seq("stock" -> new LocalFileSystem, "forkfree" -> new ForkFreeLocalFileSystem).map {
      case (name, fs) => fs.initialize(local, conf); name -> fs
    }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff // 07777

  /** Relative path -> full permission bits of every entry under `root`. */
  private def modes(root: JPath): Map[String, Int] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_ != root).map(p => root.relativize(p).toString -> mode(p)).toMap
    finally s.close()
  }

  test("the session serves file: through the fork-free classes on both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    // FileSystem.get caches by scheme and user, not by class: a file:
    // instance created before the SparkContext would survive here
    val fs = FileSystem.get(local, conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    val afs = FileContext.getFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass.getName)
  }

  test("created files and directories carry the stock permissions under the same umask") {
    withTempDir { tmp =>
      for (umask <- Seq("022", "027", "077")) {
        val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
        conf.set("fs.permissions.umask-mode", umask)
        val trees = pair(conf).map { case (name, fs) =>
          val root = tmp.resolve(s"$umask-$name")
          val base = new Path(root.toUri)
          fs.mkdirs(new Path(base, "d/e"))
          fs.mkdirs(new Path(base, "m"), new FsPermission("750"))
          fs.create(new Path(base, "d/f")).close()
          fs.create(new Path(base, "g"), new FsPermission("640"), true, 4096,
            1.toShort, 1L << 20, null).close()
          fs.create(new Path(base, "h")).close()
          fs.setPermission(new Path(base, "h"), new FsPermission("604"))
          // the two cases the stock chmod keeps: sticky, and a
          // directory's setgid bit under a four-digit mode
          fs.mkdirs(new Path(base, "t"))
          fs.setPermission(new Path(base, "t"), new FsPermission("1777"))
          fs.mkdirs(new Path(base, "s"))
          assert(new ProcessBuilder("chmod", "g+s", root.resolve("s").toString)
            .start().waitFor() == 0)
          fs.setPermission(new Path(base, "s"), new FsPermission("750"))
          fs.mkdirs(new Path(base, "s/inner"), new FsPermission("700"))
          name -> modes(root)
        }.toMap
        assert(trees("forkfree") == trees("stock"), s"umask $umask")
        // checksums are still written, and the set-id/sticky cases held
        assert(trees("forkfree").contains(".g.crc") && trees("forkfree").contains("d/.f.crc"))
        assert(trees("forkfree")("t") == 0x3ff && (trees("forkfree")("s") & 0x400) != 0)
      }
    }
  }

  test("getFileLinkStatus matches the stock class on links, files and missing paths") {
    withTempDir { tmp =>
      val target = Files.write(tmp.resolve("target"), "x".getBytes)
      val link = Files.createSymbolicLink(tmp.resolve("link"), target)
      val conf = spark.sparkContext.hadoopConfiguration
      val Seq(stock, ours) = pair(conf).map(_._2)
      // the stock readlink only resolves an unqualified path; compare
      // both forms, and require that one of them sees the link
      val forms = Seq(new Path(link.toString), new Path(link.toUri))
      forms.foreach { p =>
        val (a, b) = (stock.getFileLinkStatus(p), ours.getFileLinkStatus(p))
        assert(a.isSymlink == b.isSymlink, p)
        if (a.isSymlink) assert(a.getSymlink == b.getSymlink, p)
        assert(a.getPath == b.getPath && a.getLen == b.getLen, p)
      }
      assert(ours.getFileLinkStatus(forms.head).isSymlink)
      val file = new Path(target.toUri)
      val (a, b) = (stock.getFileLinkStatus(file), ours.getFileLinkStatus(file))
      assert(!b.isSymlink && a.getPath == b.getPath && a.getLen == b.getLen && !b.isDirectory)
      val missing = new Path(tmp.resolve("missing").toUri)
      intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
      intercept[FileNotFoundException](
        FileContext.getFileContext(conf).getFileLinkStatus(missing))
    }
  }

  test("100 creates through the session filesystem fork no process") {
    val stat = Paths.get("/proc/stat")
    assume(Files.isReadable(stat), "no /proc/stat on this host")
    // host-wide count of forks since boot: other processes only add to
    // it, so the fork-free side takes its best of a few windows
    def processes(): Long = Files.readAllLines(stat).asScala
      .find(_.startsWith("processes ")).get.split(" ")(1).toLong
    def forksFor100Creates(fs: FileSystem, dir: JPath): Long = {
      val p0 = processes()
      (1 to 100).foreach(i => fs.create(new Path(dir.resolve(s"f$i").toUri)).close())
      processes() - p0
    }
    withTempDir { tmp =>
      val fs = FileSystem.get(local, spark.sparkContext.hadoopConfiguration)
      val best = (1 to 5).map { k =>
        forksFor100Creates(fs, Files.createDirectory(tmp.resolve(s"ours$k")))
      }.min
      assert(best < 20, s"$best processes started during 100 creates")
      // the control: without libhadoop, the stock class forks chmod for
      // each file and its .crc
      if (!NativeIO.isAvailable) {
        val stock = pair(new Configuration(spark.sparkContext.hadoopConfiguration)).head._2
        val forks = forksFor100Creates(stock, Files.createDirectory(tmp.resolve("stock")))
        assert(forks >= 200, s"stock class: $forks processes")
      }
    }
  }
}
