package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Extract, GenData}
import graft.schema.{Doc, ExtractedDoc, Media}

/** Order-independent fingerprint of an extraction output: the per-doc
  * xxhash64 of (doc_id, spans) combined by sum and by xor, next to the doc
  * and span counts. A difference in any doc's (kind, text, media_ref, order)
  * changes it.
  */
final case class Digest(docs: Long, spans: Long, sum: Long, xor: Long) {
  def render: String = s"$docs $spans $sum $xor"
}

object Digest {
  private def docHash = xxhash64(col("doc_id"), col("spans"))

  def of(df: DataFrame): Digest = {
    val r = df.agg(count(lit(1)), coalesce(sum(size(col("spans")).cast("long")), lit(0L)),
      coalesce(sum(docHash.bitwiseAND(0xffffffffL)), lit(0L)), coalesce(bit_xor(docHash), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  def parse(s: String): Digest = s.trim.split(" ").map(_.toLong) match {
    case Array(d, n, s1, x) => Digest(d, n, s1, x)
    case other => sys.error(s"bad digest: ${other.mkString(" ")}")
  }

  /** Docs whose (doc_id, spans) differ between two outputs, a doc missing on
    * either side included.
    */
  def mismatchedDocs(a: DataFrame, b: DataFrame): Long =
    a.select(col("doc_id"), docHash.as("ha"))
      .join(b.select(col("doc_id"), docHash.as("hb")), Seq("doc_id"), "full_outer")
      .where(col("ha").isNull || col("hb").isNull || col("ha") =!= col("hb"))
      .count()

  /** The output with the last span of one doc dropped: the negative control
    * every correctness check must flag.
    */
  def dropOneSpan(df: DataFrame): DataFrame = {
    val victim = df.where(size(col("spans")) > 0).agg(min("doc_id")).head().getString(0)
    df.withColumn("spans", when(col("doc_id") === victim,
      slice(col("spans"), lit(1), size(col("spans")) - 1)).otherwise(col("spans")))
  }
}

/** A generated extraction corpus on disk, written doc_id/media_ref
  * range-partitioned: the engine's documented input layout.
  */
final case class Corpus(dir: String, seed: Long, docs: Long) {
  def read(spark: SparkSession): (Dataset[Doc], Dataset[Media]) = {
    import spark.implicits._
    (spark.read.parquet(s"$dir/docs").as[Doc], spark.read.parquet(s"$dir/media").as[Media])
  }
}

object Corpus {
  /** Parquet files per input table: two per core of the `local[4]` session. */
  val InputFiles = 8

  /** Directory of the corpus for (seed, docs, generator fingerprint). */
  def dirFor(cache: String, seed: Long, docs: Long): String =
    s"$cache/corpus/s${seed}_n${docs}_${GenData.Fingerprint}"

  /** Writes the corpus unless it is already complete on disk. */
  def generate(spark: SparkSession, c: Corpus): Unit =
    if (!Files.exists(Paths.get(c.dir, "_READY"))) {
      val tmp = s"${c.dir}.tmp${ProcessHandle.current().pid()}"
      val (d, m) = Extract.generate(c.docs, c.seed)(spark)
      d.repartitionByRange(InputFiles, col("doc_id")).write.mode("overwrite").parquet(s"$tmp/docs")
      m.repartitionByRange(InputFiles, col("media_ref")).write.mode("overwrite").parquet(s"$tmp/media")
      Files.createFile(Paths.get(tmp, "_READY"))
      deleteTree(Paths.get(c.dir))
      Files.move(Paths.get(tmp), Paths.get(c.dir))
    }

  /** The oracle's output for every doc of the corpus, computed by the
    * single-threaded `graft.pipeline.Oracle` one doc per row.
    */
  def oracleFrame(spark: SparkSession, c: Corpus, one: (Long, Long) => ExtractedDoc): DataFrame = {
    import spark.implicits._
    val seed = c.seed
    spark.range(c.docs).map(i => one(seed, i.longValue)).toDF()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally all.close()
    }
}
