package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Extract

/** Driver-facing wrappers around the extraction pipeline. The interleaved doc
  * table is synthesized deterministically at a size matched to the scale
  * factor of `dir` (no external data; BASELINE.json input_hint shape).
  *
  * x1/x3/x4 carry DuckDB-visible VALUE checks (round-3): the per-doc
  * single-threaded oracle (pipeline.Oracle — straight-line extraction, no
  * joins/unions/shuffles, the same independent path ExtractE2ESpec compares
  * against) is a side parquet the query registry writes
  * (SparkEntry.queries), and the DuckDB oracle SQL reads THAT back.
  * A distribution bug (cross-partition ordering, lost docs, re-merge after
  * skew splits) fails the oracle's rows/schema/hash compare instead of
  * hiding behind `no_oracle`. The operators here only compute.
  */
object ExtractOps {

  /** Doc count per driver scale factor. */
  def nDocsFor(dir: String): Long =
    if (dir.contains("sf0.1")) 8000L
    else if (dir.contains("sf0.01")) 2000L
    else 300L

  /** x4's config: every optional reference-tail feature on. */
  val FullConfig: graft.schema.DetectConfig = graft.schema.DetectConfig(
    rotatedBbox = true, useDilation = true, useAngleClf = true, renderCrops = true)

  private def flatSpans(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.kind").as("kind"), col("s.text").as("text"),
        col("s.media_ref").as("media_ref"), col("s.order").as("span_order"))

  /** Side parquet holding the single-threaded oracle's flattened spans. */
  def oracleSpansTable(dir: String, n: Long): String = OracleSide.path("x1_oracle_spans", dir, n)
  def oracleRotatedTable(dir: String, n: Long): String = OracleSide.path("x3_oracle_rotated", dir, n)

  /** Full pipeline, flattened to one row per output span (deterministic
    * order).
    */
  def extractSpans(spark: SparkSession, dir: String): DataFrame =
    configured(spark, dir, graft.schema.DetectConfig.Default)

  /** The reference-default flow (`rotated_bbox=True`, cn_std.py:49) through
    * the distributed pipeline: rotated min-area-rect regions rendered as
    * "[cx,cy,w,h,alpha];score" spans — value-checked by the driver against
    * the config-driven single-threaded oracle's side table.
    */
  def extractSpansRotated(spark: SparkSession, dir: String): DataFrame =
    configured(spark, dir, graft.schema.DetectConfig.ReferenceDefault)

  def oracleFullTable(dir: String, n: Long): String = OracleSide.path("x4_oracle_full", dir, n)

  /** Every optional reference-tail feature ON through the distributed
    * pipeline: rotated boxes + PP `use_dilation` (2x2 mask dilate pre-CCL) +
    * `use_angle_clf` ('180'@0.9 crop rotate) + crop-digest rendering (the
    * `cropped_img` analog — dims + content hash in the span text, so the
    * actual crop PIXELS are part of the value check, not just coordinates).
    * Same config as the full-feature E2E gate; driver-value-checked against
    * the config-driven single-threaded oracle's side table.
    */
  def extractSpansFull(spark: SparkSession, dir: String): DataFrame =
    configured(spark, dir, FullConfig)

  private def configured(spark: SparkSession, dir: String,
                         cfg: graft.schema.DetectConfig): DataFrame = {
    implicit val s: SparkSession = spark
    val (docs, media) = Extract.generate(nDocsFor(dir))
    flatSpans(Extract.run(docs, media, cfg).toDF()).orderBy("doc_id", "span_order")
  }

  /** Fixed side-table path for the exploded extraction spans at size n: the
    * DuckDB oracle re-aggregates the single-threaded oracle's
    * `(doc_id, kind, media_ref)` rows (the extraction content itself is
    * value-checked by x1; what the oracle checks here is the metrics
    * aggregation).
    */
  def sideTable(dir: String, n: Long): String = OracleSide.path("x2_spans", dir, n)

  /** Extraction metrics table (north rule: per-partition/per-kind counts). */
  def extractMetrics(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Extract.runGenerated(nDocsFor(dir))
      .select(explode(col("spans")).as("s"))
      .select(col("s.kind").as("kind"), col("s.media_ref").as("media_ref"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_spans"), countDistinct(col("media_ref")).as("n_media"))
      .orderBy("kind")
  }
}
