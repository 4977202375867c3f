package graft.core

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

class NioLocalFileSystemSpec extends SparkSpec {

  /** Creates files and directories through `fs` under `root` and
    * returns every resulting path's full mode (sticky bit included),
    * by path relative to `root`. */
  private def createdModes(fs: FileSystem, root: String): Map[String, Int] = {
    def p(name: String) = new Path(s"file://$root/$name")
    fs.create(p("plain")).close()
    fs.mkdirs(p("dir/nested"))
    fs.create(p("dir/mode640"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null)
      .close()
    fs.mkdirs(p("mode750"), new FsPermission("750"))
    fs.mkdirs(p("sticky"))
    fs.setPermission(p("sticky"), new FsPermission("1777"))
    fs.setPermission(p("plain"), new FsPermission("604"))
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(_ != base).map(f =>
      base.relativize(f).toString -> Files.getAttribute(f, "unix:mode").asInstanceOf[Int])
      .toMap
  }

  test("the session's file system sets the modes the stock local file system sets") {
    val conf = spark.sparkContext.hadoopConfiguration
    FileSystem.getFileSystemClass("file", conf) shouldBe classOf[NioLocalFileSystem]
    val ours = FileSystem.newInstance(URI.create("file:///"), conf)
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), conf)
    try {
      ours shouldBe a[NioLocalFileSystem]
      ours.asInstanceOf[LocalFileSystem].getRaw shouldBe a[NioLocalFileSystem.Raw]
      val viaOurs = createdModes(ours, Files.createTempDirectory("nio-fs").toString)
      val viaStock = createdModes(stock, Files.createTempDirectory("stock-fs").toString)
      // the checksummed file system's .crc siblings included
      viaOurs.keySet should contain(".plain.crc")
      viaOurs shouldBe viaStock
      viaOurs("dir/mode640") & 0x1ff shouldBe Integer.parseInt("640", 8)
      viaOurs("sticky") & 0x3ff shouldBe Integer.parseInt("1777", 8)
    } finally {
      ours.close()
      stock.close()
    }
  }

  test("the session's file system reports the owners, groups and permissions the stock one does") {
    val conf = spark.sparkContext.hadoopConfiguration
    val ours = FileSystem.newInstance(URI.create("file:///"), conf)
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), conf)
    try {
      val root = Files.createTempDirectory("nio-status").toString
      createdModes(stock, root)
      val rootPath = new Path(s"file://$root")
      def ownership(st: FileStatus) = (st.getPath.getName, st.getOwner, st.getGroup, st.getPermission)
      def walk(fs: FileSystem, p: Path): Seq[FileStatus] =
        fs.listStatus(p).toSeq.flatMap(st => st +: (if (st.isDirectory) walk(fs, st.getPath) else Nil))
      val viaOurs = walk(ours, rootPath)
      // answered through java.nio, not the stock status's `ls -ld`
      all(viaOurs) shouldBe a[NioLocalFileSystem.Status]
      viaOurs.map(ownership).sortBy(_._1) shouldBe walk(stock, rootPath).map(ownership).sortBy(_._1)
      viaOurs.map(_.getPermission.getStickyBit) should contain(true)
      Seq("plain", "dir/mode640", "sticky").foreach { rel =>
        val p = new Path(s"file://$root/$rel")
        ownership(ours.getFileStatus(p)) shouldBe ownership(stock.getFileStatus(p))
      }
      ours.getFileStatus(rootPath).getOwner shouldBe System.getProperty("user.name")
    } finally {
      ours.close()
      stock.close()
    }
  }
}
