package graft.sources

import java.io.File
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import graft.SparkSpec

/** The session's `file:` file system sets modes through java.nio: a parquet
  * write starts no OS process, and every mode it sets is the one Hadoop's
  * stock local file system sets.
  */
class NioLocalFileSystemSpec extends SparkSpec {

  private def withDir(body: File => Unit): Unit = {
    val tmp = Files.createTempDirectory("niofs").toFile
    try body(tmp)
    finally FileUtils.deleteDirectory(tmp)
  }

  private def mode(f: File): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))

  /** Mode of every file and directory under `root`, by relative path. */
  private def modes(root: File): Map[String, String] =
    FileUtils.listFilesAndDirs(root, org.apache.commons.io.filefilter.TrueFileFilter.TRUE,
      org.apache.commons.io.filefilter.TrueFileFilter.TRUE).asScala
      .map(f => root.toPath.relativize(f.toPath).toString -> mode(f)).toMap

  /** The OS processes `body` starts, by command line. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    val dump = Files.createTempFile("niofs", ".jfr")
    try {
      rec.start()
      body
      rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  test("the session's file: scheme is the NIO file system") {
    val fs = FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem])
  }

  test("a parquet overwrite starts no OS process and sets Hadoop's default modes") {
    withDir { dir =>
      val p = new File(dir, "t.parquet").getPath
      spark.range(0, 40, 1, 4).toDF("id").write.parquet(p)
      val starts = processStarts {
        spark.range(0, 80, 1, 4).toDF("id").write.mode("overwrite").parquet(p)
      }
      assert(starts.isEmpty, s"a write started ${starts.size} processes: ${starts.mkString("; ")}")
      assert(spark.read.parquet(p).count() == 80)
      // what the stock file system sets: the defaults under the default umask
      val conf = new Configuration()
      val umask = FsPermission.getUMask(conf)
      val want = Map(true -> FsPermission.getDirDefault.applyUMask(umask).toString,
        false -> FsPermission.getFileDefault.applyUMask(umask).toString)
      val got = modes(new File(p))
      assert(got.size > 8) // the table dir, 4 part files and their .crc files, _SUCCESS
      got.foreach { case (rel, m) =>
        assert(m == want(new File(p, rel).isDirectory), s"$rel has mode $m")
      }
    }
  }

  test("every plain mode equals the stock file system's; the sticky bit goes through it") {
    withDir { dir =>
      val conf = new Configuration()
      val nio = new NioRawLocalFileSystem
      val stock = new RawLocalFileSystem
      nio.initialize(new java.net.URI("file:///"), conf)
      stock.initialize(new java.net.URI("file:///"), conf)
      val modes = Seq(0, 0x1ff, 0x1ed, 0x1a4, 0x180, 0x1c0, 0x124, 0x92, 0x49, 0x16a, 0x3ff)
      for (m <- modes; isDir <- Seq(false, true)) {
        val perm = new FsPermission(m.toShort)
        val (a, b) = (new File(dir, s"nio-$m-$isDir"), new File(dir, s"stock-$m-$isDir"))
        for (f <- Seq(a, b)) if (isDir) f.mkdir() else f.createNewFile()
        nio.setPermission(new Path(a.getPath), perm)
        stock.setPermission(new Path(b.getPath), perm)
        assert(nio.getFileStatus(new Path(a.getPath)).getPermission ==
          stock.getFileStatus(new Path(b.getPath)).getPermission, s"mode ${m.toOctalString} dir=$isDir")
        assert(mode(a) == mode(b), s"mode ${m.toOctalString} dir=$isDir")
      }
    }
  }
}
