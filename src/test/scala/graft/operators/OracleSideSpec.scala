package graft.operators

import java.io.File
import java.nio.file.Files
import graft.SparkSpec

/** OracleSide.ensure is the only side-table writer: it must write an absent
  * table, never evaluate its rows over a complete one, and rewrite a
  * directory an interrupted write left without `_SUCCESS`.
  */
class OracleSideSpec extends SparkSpec {

  private def withTable(body: String => Unit): Unit = {
    val tmp = Files.createTempDirectory("oracle-side").toFile
    try body(new File(tmp, "t").getPath)
    finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  private def ids(p: String): Seq[Long] =
    spark.read.parquet(p).collect().map(_.getLong(0)).toSeq.sorted

  test("ensure writes the table when it is absent") {
    withTable { p =>
      OracleSide.ensure(p)(spark.range(3).toDF("id"))
      assert(new File(p, "_SUCCESS").exists())
      assert(ids(p) == Seq(0L, 1L, 2L))
    }
  }

  test("ensure never evaluates rows when _SUCCESS exists") {
    withTable { p =>
      OracleSide.ensure(p)(spark.range(2).toDF("id"))
      OracleSide.ensure(p)(throw new AssertionError("rows evaluated over a complete table"))
      assert(ids(p) == Seq(0L, 1L))
    }
  }

  test("ensure rewrites a directory left without _SUCCESS") {
    withTable { p =>
      val dir = new File(p)
      dir.mkdirs()
      Files.writeString(new File(dir, "part-00000-partial.parquet").toPath, "truncated")
      OracleSide.ensure(p)(spark.range(4).toDF("id"))
      assert(new File(p, "_SUCCESS").exists())
      assert(!new File(dir, "part-00000-partial.parquet").exists())
      assert(ids(p) == Seq(0L, 1L, 2L, 3L))
    }
  }
}
