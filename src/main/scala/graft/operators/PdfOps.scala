package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, length, md5}
import graft.kernel.Pdf
import graft.pipeline.GenData

/** px1: PDF text extraction over the documents table — the north rule's
  * "PDF/layout parse" surface with the same TRUE independent oracle as hx1:
  * each document's text is deterministically serialized into a complete PDF
  * (page tree, mixed literal/hex/TJ show operators, ~half the content
  * streams Flate-compressed — GenData.pdfPayload), the kernel
  * (graft.kernel.Pdf) walks trailer → catalog → pages → content streams and
  * re-extracts the text, and the result must hash-equal the ORIGINAL
  * `documents.text` (`md5(text)` straight off the source parquet).
  *
  * Scale shape: identical to hx1 — one scan, embarrassingly parallel
  * per-row map, no data shuffle at production split counts (Par.spread
  * guards the single-file test-corpus case) before the presentation sort.
  */
object PdfOps {

  def pdfExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // range-spread on the sort key (Par scaladoc): the render+parse kernel
    // runs once — the final orderBy's range sampler re-executed it before —
    // and the exchange moves source rows, not rendered output
    Par.rangeSpread(Tables.docs(spark, dir)
      .select(col("doc_id"), col("text")), col("doc_id"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, Pdf.extractText(GenData.pdfPayload(GenData.DefaultSeed, id, text)))
      }
      .toDF("doc_id", "content")
      .select(col("doc_id"), length(col("content")).as("content_len"),
        md5(col("content")).as("content_md5"))
      .sortWithinPartitions("doc_id")
  }
}
