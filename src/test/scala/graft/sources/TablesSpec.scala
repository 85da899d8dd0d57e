package graft.sources

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import org.apache.commons.io.FileUtils
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** `Tables.parquet` opens a table exactly as `spark.read.parquet` does, but
  * infers its schema once per session and per version of the files: the
  * first read in a session runs Spark's one-task inference job, later reads
  * run none, a rewritten path and a new session each infer anew.
  */
class TablesSpec extends SparkSpec {
  /** The shared test tables (TESTDATA.md) and the benchmark's sf0.01 copy. */
  private val testdata = "/root/testdata"
  private val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$testdata/$sf") :+ "perfbench/data/sf0.01"
  /** Every table an operator opens. */
  private val tables = Seq("documents", "embeddings", "lineitem", "orders", "customer", "nation",
    "part", "events")

  /** Runs `body` and counts the Spark jobs it starts. */
  private def jobs[T](s: SparkSession)(body: => T): (T, Int) = {
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestBus.drain(s.sparkContext)
    s.sparkContext.addSparkListener(listener)
    try {
      val out = body
      TestBus.drain(s.sparkContext)
      (out, n.get)
    } finally s.sparkContext.removeSparkListener(listener)
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def withDir(body: String => Unit): Unit = {
    val tmp = Files.createTempDirectory("tables").toFile
    try body(new File(tmp, "t.parquet").getPath)
    finally FileUtils.deleteDirectory(tmp)
  }

  test("every operator input reads with the schema and rows of spark.read.parquet") {
    for (dir <- dirs; name <- tables) {
      val path = s"$dir/$name.parquet"
      assert(new File(path).exists(), s"missing $path")
      val plain = spark.read.parquet(path)
      val memo = Tables.table(spark, dir, name)
      assert(memo.schema == plain.schema, s"$path schema")
      assert(sameRows(memo, plain), s"$path rows")
    }
  }

  test("the first read in a session infers in one job, the second in none") {
    val s = spark.newSession()
    val dir = s"$testdata/sf0.01"
    val (first, inferJobs) = jobs(s)(Tables.docs(s, dir))
    val (second, memoJobs) = jobs(s)(Tables.docs(s, dir))
    assert(inferJobs == 1, s"first read ran $inferJobs jobs")
    assert(memoJobs == 0, s"second read ran $memoJobs jobs")
    assert(second.schema == first.schema)
    val (_, plainJobs) = jobs(s)(s.read.parquet(s"$dir/documents.parquet"))
    assert(plainJobs == 1, s"a plain read ran $plainJobs jobs")
  }

  test("a path rewritten with a different schema returns the new schema") {
    withDir { p =>
      spark.range(3).toDF("id").write.parquet(p)
      assert(Tables.parquet(spark, p).schema.fieldNames.toSeq == Seq("id"))
      spark.range(4).select(col("id"), col("id").cast("string").as("tag"))
        .write.mode("overwrite").parquet(p)
      val (again, n) = jobs(spark)(Tables.parquet(spark, p))
      assert(n == 1, s"rewrite re-inferred in $n jobs")
      assert(again.schema == spark.read.parquet(p).schema)
      assert(again.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
        (0L until 4L).map(i => (i, i.toString)))
    }
  }

  test("a new session infers on its own") {
    withDir { p =>
      spark.range(2).toDF("id").write.parquet(p)
      val (a, b) = (spark.newSession(), spark.newSession())
      assert(jobs(a)(Tables.parquet(a, p))._2 == 1)
      assert(jobs(a)(Tables.parquet(a, p))._2 == 0)
      assert(jobs(b)(Tables.parquet(b, p))._2 == 1, "a second session reused the first's schema")
    }
  }

  test("reading a multi-part table starts no OS process") {
    withDir { p =>
      spark.range(0, 40, 1, 4).toDF("id").write.parquet(p)
      assert(new File(p).listFiles().count(_.getName.endsWith(".parquet")) == 4)
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      val dump = Files.createTempFile("tables", ".jfr")
      try {
        rec.start()
        val n = (1 to 2).map(_ => Tables.parquet(spark, p).count())
        rec.stop()
        assert(n == Seq(40L, 40L))
        rec.dump(dump)
        val starts = RecordingFile.readAllEvents(dump).asScala
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
        assert(starts.isEmpty, s"a read started ${starts.size} processes: ${starts.mkString("; ")}")
      } finally {
        rec.close()
        Files.deleteIfExists(dump)
      }
    }
  }

  test("no spark.read.parquet in the program outside Tables") {
    // Bench.scala is the frozen benchmark harness and keeps its own reads
    val read = """\.read\s*\.\s*(schema\([^)]*\)\s*\.\s*)?(parquet\(|format\("parquet"\))""".r
    val main = new File("src/main/scala")
    assert(main.isDirectory, s"run from the repository root (cwd ${new File(".").getAbsolutePath})")
    val hits = FileUtils.listFiles(main, Array("scala"), true).asScala.toSeq
      .filterNot(f => Set("Tables.scala", "Bench.scala").contains(f.getName))
      .flatMap { f =>
        Files.readAllLines(f.toPath).asScala.zipWithIndex.collect {
          case (line, i) if read.findFirstIn(line).isDefined => s"${f.getPath}:${i + 1}: ${line.trim}"
        }
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
