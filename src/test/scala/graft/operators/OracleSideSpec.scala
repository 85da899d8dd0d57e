package graft.operators

import java.io.File
import java.nio.file.Files
import org.apache.commons.io.FileUtils
import graft.{SparkEntry, SparkSpec}

/** OracleSide.ensure is the only side-table writer: it must write an absent
  * table, never evaluate its rows over a complete one, and rewrite a
  * directory an interrupted write left without `_SUCCESS`. Only the query
  * registry calls it: operators write nothing, and every side table the
  * oracle SQL reads is one the registry writes.
  */
class OracleSideSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

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

  test("operators called directly write no side table") {
    val tmp = Files.createTempDirectory("graft-operators-only").toFile
    try {
      for (t <- Seq("documents", "embeddings")) {
        val src = new File(s"$sf/$t.parquet")
        val dst = new File(tmp, s"$t.parquet")
        if (src.isDirectory) FileUtils.copyDirectory(src, dst) else FileUtils.copyFile(src, dst)
      }
      val dir = tmp.getPath
      ExtractOps.extractMetrics(spark, dir).collect()
      graft.sources.Annotations.gtSummary(spark, dir).collect()
      MultimodalOps.mediaMeta(spark, dir).collect()
      SimilarityOps.annIvf(spark, dir).collect()
      val written = Option(new File(OracleSide.root).list()).toSeq.flatten
        .filter(_.contains(tmp.getName))
      assert(written.isEmpty, s"operators wrote side tables: $written")
    } finally FileUtils.deleteDirectory(tmp)
  }

  test("every side table the oracle SQL reads is written by its registry entry") {
    val Read = """read_parquet\('([^']+)/\*\.parquet'\)""".r
    val sided = SparkEntry.oracleSqlFor(sf).toSeq.flatMap { case (name, sql) =>
      Read.findAllMatchIn(sql).map(_.group(1)).filter(_.startsWith(OracleSide.root))
        .map(name -> _)
    }
    assert(sided.map(_._1).toSet == Set(
      "x1_extract_spans", "x2_extract_metrics", "x3_extract_rotated", "x4_extract_full",
      "src1_gt_summary", "sim2_ann_ivf", "sim5_semdedup", "mm1_media_meta",
      "mm2_image_meta", "mm3_image_detect", "mm4_decode_quarantine", "mm5_detect_stages",
      "mm6_phash_dupes", "mm7_phash_banded"))
    sided.foreach { case (name, path) =>
      FileUtils.deleteDirectory(new File(path))
      SparkEntry.queries(name)(spark, sf)
      assert(new File(path, "_SUCCESS").exists(), s"$name: registry left no table at $path")
    }
  }
}
