package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ExportParquet
import graft.sources.GraftLocalFileSystem

/** The session's `file:` binding ([[GraftSession.fileSystemConf]]): it
  * holds on the driver and inside tasks, and it leaves every mode bit of
  * what it writes as the stock local file system leaves it.
  */
class LocalFileSystemSpec extends AnyFunSuite {
  import SparkTestSession._

  private val fileUri = URI.create("file:///")

  /** What Hadoop resolves `file:` to on this classpath without the binding. */
  private def classpathDefault: FileSystem = {
    val conf = new Configuration()
    val fs = FileSystem.getFileSystemClass("file", conf)
      .getDeclaredConstructor().newInstance()
    fs.initialize(fileUri, conf)
    fs
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toFile

  /** Relative path -> `rwxr-x---` for every entry under `root`, itself
    * included; task-specific file names are folded to `part`. */
  private def modes(root: File): Seq[(String, String)] = {
    val base = root.toPath
    def walk(f: File): Seq[File] =
      f +: Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
    walk(root).map { f =>
      val rel = base.relativize(f.toPath).toString
        .replaceAll("part-\\d+-[0-9a-f-]+", "part")
      rel -> PosixFilePermissions.toString(
        Files.getPosixFilePermissions(f.toPath))
    }.sorted
  }

  test("the session resolves file: to the engine class on the driver and in a task") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(fileUri, conf).getClass == classOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass == classOf[GraftLocalFileSystem])

    val shipped = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    val inTask = spark.sparkContext.parallelize(1 to 4, 4).map { _ =>
      FileSystem.get(URI.create("file:///"), shipped.value.value).getClass.getName
    }.collect().distinct.toSeq
    assert(inTask == Seq(classOf[GraftLocalFileSystem].getName))
  }

  test("create, nested mkdirs and setPermission give the stock modes, under two umasks") {
    for (umask <- Seq(None, Some("077"))) {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val trees = Seq(new LocalFileSystem(), new GraftLocalFileSystem()).map { fs =>
        fs.initialize(fileUri, conf)
        val root = tmp("graft-localfs")
        val base = new Path(root.toURI)
        fs.create(new Path(base, "created")).close()
        fs.mkdirs(new Path(base, "a/b/c"))
        fs.create(new Path(base, "a/b/c/nested")).close()
        fs.create(new Path(base, "f0600")).close()
        fs.setPermission(new Path(base, "f0600"), new FsPermission("600"))
        fs.create(new Path(base, "f0750")).close()
        fs.setPermission(new Path(base, "f0750"), new FsPermission("750"))
        fs.mkdirs(new Path(base, "d0750"))
        fs.setPermission(new Path(base, "d0750"), new FsPermission("750"))
        modes(root).filterNot(_._1.isEmpty)
      }
      assert(trees(0) == trees(1), s"umask $umask")
      val byName = trees(1).toMap
      assert(byName("f0600") == "rw-------" && byName(".f0600.crc") == "rw-------")
      assert(byName("f0750") == "rwxr-x---" && byName("d0750") == "rwxr-x---")
      if (umask.isDefined) {
        assert(byName("created") == "rw-------" && byName("a/b") == "rwx------")
      } else {
        assert(byName("created") == "rw-r--r--" && byName("a/b") == "rwxr-xr-x")
      }
    }
  }

  test("rename follows the classpath default: an existing file is not replaced") {
    val outcomes = Seq(classpathDefault, FileSystem.getLocal(
        spark.sessionState.newHadoopConf())).map { fs =>
      val base = new Path(tmp("graft-localfs-rename").toURI)
      def put(name: String, body: String) = {
        val out = fs.create(new Path(base, name))
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      put("src", "new"); put("dst", "old"); put("other", "x")
      fs.mkdirs(new Path(base, "dir"))
      val ontoFile = fs.rename(new Path(base, "src"), new Path(base, "dst"))
      val ontoNothing = fs.rename(new Path(base, "other"), new Path(base, "moved"))
      val intoDir = fs.rename(new Path(base, "src"), new Path(base, "dir"))
      val dst = new String(Files.readAllBytes(Paths.get(base.toUri.resolve("dst"))), "UTF-8")
      (ontoFile, ontoNothing, intoDir, dst, modes(new File(base.toUri)))
    }
    assert(outcomes(0) == outcomes(1))
  }

  test("a writeBatch export tree has the modes of a stock file-system write") {
    // a second session on the same context, with the classpath's own
    // class and no cache, so its driver and tasks write through that class
    val stockClass = classpathDefault.getClass
    val stock = spark.newSession()
    stock.conf.set("fs.file.impl", stockClass.getName)
    stock.conf.set("fs.file.impl.disable.cache", "true")
    assert(FileSystem.get(fileUri, stock.sessionState.newHadoopConf())
      .getClass == stockClass)

    val hours = 6
    val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli
    val trees = Seq(spark, stock).map { s =>
      val rows = s.range(hours * 10L).select(col("id"),
        (lit(t0) + (col("id") % hours) * 3600000L).as("ms"))
      val out = new File(tmp("graft-localfs-export"), "export")
      ExportParquet.writeBatch(
        ExportParquet.withPartitionCols(rows, col("ms")), out.toString, batchId = 3)
      modes(out)
    }
    assert(trees(0).count(_._1.endsWith(".parquet")) == hours)
    assert(trees(0) == trees(1))
  }
}
