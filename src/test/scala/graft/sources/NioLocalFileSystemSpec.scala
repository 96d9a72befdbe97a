package graft.sources

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.app.Pipeline

class NioLocalFileSystemSpec extends AnyFunSuite with SparkTestBase {

  private def raw[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  /** the permission bits and the whole mode word (sticky bit included) */
  private def mode(p: JPath) =
    (Files.getPosixFilePermissions(p).asScala.toSet, Files.getAttribute(p, "unix:mode"))

  test("setPermission leaves the same modes as Hadoop's chmod, on files and directories") {
    val nio = raw(new NioRawLocalFileSystem)
    val hadoop = raw(new RawLocalFileSystem)
    val root = Files.createTempDirectory("graft-nio-fs")
    def twins(kind: String, make: JPath => JPath) =
      (make(root.resolve(s"nio-$kind")), make(root.resolve(s"hadoop-$kind")))
    val file = twins("file", Files.createFile(_))
    val dir = twins("dir", Files.createDirectory(_))
    for ((a, b) <- Seq(file, dir); octal <- Seq("644", "755", "600", "700", "777")) {
      val perm = new FsPermission(octal)
      nio.setPermission(new Path(a.toUri), perm)
      hadoop.setPermission(new Path(b.toUri), perm)
      assert(mode(a) == mode(b), s"$octal on ${a.getFileName}")
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(a)) == perm.toString)
    }
    // the sticky bit has no java.nio form: Hadoop's own path sets it
    val sticky = new FsPermission("1777")
    nio.setPermission(new Path(dir._1.toUri), sticky)
    hadoop.setPermission(new Path(dir._2.toUri), sticky)
    assert(mode(dir._1) == mode(dir._2))
    assert((Files.getAttribute(dir._1, "unix:mode").asInstanceOf[Int] & 0x3ff) == 0x3ff) // 01777
  }

  test("a Pipeline.run output tree still holds a .crc beside every .parquet") {
    val out = Files.createTempDirectory("graft-crc")
    Pipeline.run(spark, "sf0.001", out.toString)
    val files = {
      val walk = Files.walk(out)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    }
    val parquet = files.filter(_.getFileName.toString.endsWith(".parquet"))
    assert(parquet.nonEmpty)
    val missing = parquet.filterNot(f => Files.exists(f.resolveSibling(s".${f.getFileName}.crc")))
    assert(missing.isEmpty, s"${missing.size} of ${parquet.size} without a .crc")
  }
}
