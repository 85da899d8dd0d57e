package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, length, md5}
import graft.kernel.Html
import graft.pipeline.GenData

/** hx1: HTML boilerplate stripping over the documents table — the north
  * rule's "HTML boilerplate strip, DOM heuristics" surface, driver-checked
  * by a TRUE independent oracle: each document's text is deterministically
  * wrapped into a full web page (nav/promo/related/footer boilerplate,
  * entities, comments, raw-text script/style — GenData.htmlPayload), the
  * kernel (graft.kernel.Html: tag-soup parser + link-density block scoring)
  * strips it back, and the result must hash-equal the ORIGINAL
  * `documents.text` — the oracle SQL is plain `md5(text)` over the source
  * parquet, no side table, so any parser or heuristic defect is a direct
  * driver mismatch.
  *
  * Scale shape: one scan, embarrassingly parallel per-row map (the kernel is
  * the only object boundary), no data shuffle before the final presentation
  * sort at production split counts — Par.spread adds one only when the scan
  * under-parallelizes (single-file test corpora). At 100 TB this is the same
  * map-only plan as qf1.
  */
object HtmlOps {

  def htmlExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // range-spread on the sort key (Par scaladoc): the render+parse kernel
    // runs once — the final orderBy's range sampler re-executed it before —
    // and the exchange moves source rows, not rendered output
    Par.rangeSpread(Tables.docs(spark, dir)
      .select(col("doc_id"), col("text")), col("doc_id"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, Html.mainContent(GenData.htmlPayload(GenData.DefaultSeed, id, text)))
      }
      .toDF("doc_id", "content")
      .select(col("doc_id"), length(col("content")).as("content_len"),
        md5(col("content")).as("content_md5"))
      .sortWithinPartitions("doc_id")
  }
}
