package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{GraftHadoop, GraftLocalFileSystem}

/** The session's `file:` FileSystem sets modes through the JDK and
  * otherwise behaves as Hadoop's stock `LocalFileSystem`: same modes
  * under the same umask, `.crc` sidecars written and verified, the
  * sticky bit and a missing path handled the stock way. */
class GraftLocalFileSystemSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val local = new URI("file:///")
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_localfs/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }
  /** The graft FS and the stock one, uncached, over one umask. */
  private def pair(umask: String): (FileSystem, FileSystem) = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.permissions.umask-mode", umask)
    val g = new GraftLocalFileSystem
    g.initialize(local, conf)
    val s = new LocalFileSystem
    s.initialize(local, conf)
    (g, s)
  }
  /** The mode bits of a path, sticky / setuid / setgid included. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff
  private def octal(s: String): Int = Integer.parseInt(s, 8)

  test("the session's file: FileSystem is the graft one on the driver " +
       "and inside a task") {
    val driverFs = new Path(tmp("cls")).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(driverFs.getClass === classOf[GraftLocalFileSystem])
    val b = GraftHadoop.confBroadcast(spark)
    val inTask = spark.sparkContext.parallelize(Seq(1), 1).map { _ =>
      FileSystem.get(new URI("file:///"), GraftHadoop.execConf(b))
        .getClass.getName
    }.collect().toSeq
    assert(inTask === Seq(classOf[GraftLocalFileSystem].getName))
  }

  test("created files, their .crc and made directories get the stock " +
       "modes under the same umask") {
    for (umask <- Seq("022", "027", "077")) {
      val (g, s) = pair(umask)
      val root = tmp(s"modes_$umask")
      def both(f: (FileSystem, String) => Unit): (String, String) = {
        f(g, s"$root/graft"); f(s, s"$root/stock")
        (s"$root/graft", s"$root/stock")
      }
      val made = both((fs, d) => assert(fs.mkdirs(new Path(s"$d/a/b"))))
      for (sub <- Seq("", "/a", "/a/b"))
        assert(mode(made._1 + sub) === mode(made._2 + sub), s"umask $umask $sub")
      both { (fs, d) =>
        val o = fs.create(new Path(s"$d/a/b/part"))
        o.write(Array[Byte](1, 2, 3)); o.close()
        val q = fs.create(new Path(s"$d/new/q"), new FsPermission("640"),
          true, 4096, 1.toShort, 1L << 20, null)
        q.close()
      }
      for (f <- Seq("/a/b/part", "/a/b/.part.crc", "/new", "/new/q",
                    "/new/.q.crc"))
        assert(mode(s"$root/graft$f") === mode(s"$root/stock$f"),
          s"umask $umask $f")
      assert(mode(s"$root/graft/a/b/part") === (octal("666") & ~octal(umask)))
      both((fs, d) => fs.setPermission(new Path(s"$d/a/b/part"),
        new FsPermission("751")))
      assert(mode(s"$root/graft/a/b/part") === octal("751"))
      assert(mode(s"$root/graft/a/b/.part.crc") === octal("751"))
      g.close(); s.close()
    }
  }

  test("the .crc is written and a flipped data byte fails the read") {
    val (g, _) = pair("022")
    val dir = tmp("crc")
    val f = s"$dir/data.bin"
    val o = g.create(new Path(f))
    o.write(Array.tabulate[Byte](4096)(_.toByte)); o.close()
    assert(Files.size(Paths.get(s"$dir/.data.bin.crc")) > 0)
    val raf = new java.io.RandomAccessFile(f, "rw")
    try { raf.seek(100); val b = raf.read(); raf.seek(100); raf.write(b ^ 0xff) }
    finally raf.close()
    intercept[ChecksumException] {
      val in = g.open(new Path(f))
      try in.readAllBytes() finally in.close()
    }
    g.close()
  }

  test("a sticky-bit setPermission and a missing path behave as the " +
       "stock FS does") {
    val (g, s) = pair("022")
    val root = tmp("sticky")
    for ((fs, d) <- Seq(g -> s"$root/graft", s -> s"$root/stock")) {
      fs.mkdirs(new Path(d))
      fs.setPermission(new Path(d), new FsPermission("1777"))
    }
    assert(mode(s"$root/graft") === octal("1777"))
    assert(mode(s"$root/graft") === mode(s"$root/stock"))
    val missing = new Path(s"$root/none")
    val eg = intercept[IOException](g.setPermission(missing,
      new FsPermission("644")))
    val es = intercept[IOException](s.setPermission(missing,
      new FsPermission("644")))
    assert(eg.getClass === es.getClass)
    g.close(); s.close()
  }
}
