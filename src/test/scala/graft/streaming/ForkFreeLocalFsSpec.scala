package graft.streaming

import java.nio.file.{Files, LinkOption, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[ForkFreeLocalFileSystem]] must leave exactly what the stock local
  * filesystem leaves: same files, same permission bits, same commit
  * semantics — only without a child process per call.
  */
class ForkFreeLocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Relative path → permission string of everything under `root`, with
    * the per-write UUID in part-file names masked.
    */
  private def modes(root: JPath): Map[String, String] =
    Files.walk(root).iterator.asScala.filter(_ != root).map { p =>
      root.relativize(p).toString
        .replaceAll("part-(\\d+)-[0-9a-f-]{36}", "part-$1-X") ->
        PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))
    }.toMap

  test("a staged segment's dirs, parquet and .crc files get the stock filesystem's permissions") {
    val hconf = spark.sparkContext.hadoopConfiguration
    Seq(None, Some("027")).foreach { umask =>
      umask.foreach(hconf.set("fs.permissions.umask-mode", _))
      try {
        val base = Files.createTempDirectory("graft-perm")
        val rows = spark.range(0, 64).select(col("id"), (col("id") % 8).as("p"))
        assert(BucketState.stageVersion(rows, s"$base/fork-free", 8).sorted === (0L until 8L))
        // the stock filesystem, also read from this write's conf rather
        // than from the instance cached under the first conf it saw
        rows.repartition(BucketState.writeTasks(spark, 8), col("p"))
          .write.option("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
          .option("fs.file.impl.disable.cache", "true")
          .partitionBy("p").parquet(s"$base/stock")
        val got = modes(base.resolve("fork-free"))
        val want = modes(base.resolve("stock"))
        assert(got.keys.exists(_.endsWith(".parquet.crc")) && got.keys.exists(_.startsWith("p=")))
        assert(got === want, s"umask ${umask.getOrElse("default")}")
        val expected = if (umask.isDefined) "rw-r-----" else "rw-r--r--"
        assert(got("_SUCCESS") === expected)
        graft.Shared.deleteDirTree(base.toString)
      } finally hconf.unset("fs.permissions.umask-mode")
    }
  }

  test("a mode beyond the nine rwx bits takes the stock path") {
    val fs = new ForkFreeRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val d = Files.createTempDirectory("graft-sticky")
    def mode = Files.getAttribute(d, "unix:mode").asInstanceOf[Int] & 0xfff
    fs.setPermission(new Path(d.toUri), new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert(mode === Integer.parseInt("1750", 8))
    fs.setPermission(new Path(d.toUri), new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(mode === Integer.parseInt("640", 8))
    Files.delete(d)
  }

  test("link status matches the stock filesystem, and the rename-over commit replaces in one step") {
    val base = Files.createTempDirectory("graft-link")
    val f = base.resolve("a"); Files.write(f, "x".getBytes("UTF-8"))
    val link = base.resolve("l"); Files.createSymbolicLink(link, f)
    val ours = new ForkFreeRawLocalFileSystem
    val stock = new org.apache.hadoop.fs.RawLocalFileSystem
    Seq(ours, stock).foreach(_.initialize(java.net.URI.create("file:///"), new Configuration()))
    Seq(f, link).foreach { p =>
      val (a, b) = (ours.getFileLinkStatus(new Path(p.toUri)),
        stock.getFileLinkStatus(new Path(p.toUri)))
      assert((a.getPath, a.isSymlink, a.getLen, a.isDirectory) ===
        (b.getPath, b.isSymlink, b.getLen, b.isDirectory))
      if (a.isSymlink) assert(a.getSymlink === b.getSymlink)
    }
    intercept[java.io.FileNotFoundException](ours.getFileLinkStatus(new Path(base.resolve("none").toUri)))

    BucketState.commitManifest(spark, base.toString, Map(1L -> Set(1L)), Some(1L -> 7L))
    val oldCrc = Files.readAllBytes(base.resolve("._CURRENT.crc"))
    val next = BucketState.Manifest(Map(1L -> Set(2L), 2L -> Set(2L)), Some(2L -> 9L))
    BucketState.commitManifest(spark, base.toString, next.buckets, next.fp)
    assert(BucketState.readManifest(spark, base.toString) === next)
    assert(!Files.exists(base.resolve("_CURRENT.tmp")))
    assert(!Files.exists(base.resolve("._CURRENT.tmp.crc")))
    // a reader between the file's rename and its .crc's rename sees the
    // new manifest under the old checksum: it must still read it
    Files.write(base.resolve("._CURRENT.crc"), oldCrc)
    assert(BucketState.readManifest(spark, base.toString) === next)
    graft.Shared.deleteDirTree(base.toString)
  }
}
