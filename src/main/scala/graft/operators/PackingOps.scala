package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pretraining: lay every document's tokens into
  * one concatenated stream (doc_id order) and report, per doc, its global
  * token offset and which fixed-length training sequence it starts in — the
  * GPT-convention packing layout (docs concatenated, chopped every `SeqLen`
  * tokens).
  *
  * The global offset is a prefix sum over the corpus in doc_id order. The
  * naive Spark form — `sum(n_tokens).over(Window.orderBy("doc_id"))` — is a
  * SINGLE-PARTITION window: the whole corpus serializes through one task,
  * the textbook 100 TB scale-killer. Instead, the classic two-level
  * distributed prefix sum:
  *   1. bucket docs by `doc_id div bucketSize` (data-derived, so the layout
  *      is deterministic at any parallelism) and aggregate per-bucket token
  *      sums — one map-side-combined shuffle;
  *   2. prefix-sum the BUCKET sums — a single-partition window over only
  *      `n_docs / bucketSize` tiny rows (at 10^12 docs and bucketSize 10^6,
  *      10^6 rows ≈ 16 MB: driver/broadcast scale by construction);
  *   3. broadcast the bucket offsets back and window WITHIN each bucket
  *      (partitionBy bucket — parallel across buckets).
  * The DuckDB oracle computes the same offsets with a flat global-order
  * window, so the driver value-check proves the two-level decomposition
  * exactly equals the sequential prefix sum.
  */
object PackingOps {

  /** Tokens per packed training sequence. */
  final val SeqLen = 2048L

  /** Docs per offset bucket (level-1 granularity). */
  final val DefaultBucketSize = 1L << 20

  /** pack1: `(doc_id, n_tokens, global_offset, seq_id, offset_in_seq)` for
    * every document (empty docs carry 0 tokens and pack at their
    * predecessor's end). `seq_id` is the sequence holding the doc's FIRST
    * token; a doc may spill into later sequences.
    */
  def sequenceOffsets(spark: SparkSession, dir: String): DataFrame =
    sequenceOffsetsOf(Tables.docs(spark, dir))

  /** [[sequenceOffsets]] over an explicit `(doc_id, text)` frame. */
  def sequenceOffsetsOf(d: DataFrame, bucketSize: Long = DefaultBucketSize): DataFrame =
    offsetsCore(d, bucketSize).orderBy("doc_id")

  /** The offsets plan WITHOUT the presentation sort — [[sequenceManifestOf]]
    * aggregates right on top of it, and an inherited global orderBy would
    * hand the optimizer a range-partition sort to (hopefully) eliminate
    * below the aggregate; better to never declare it.
    */
  private def offsetsCore(d: DataFrame, bucketSize: Long): DataFrame =
    // tokensOf, not an inline split: a NULL text would make the inline form
    // read size(null) = -1 (vs the oracle's coalesce-to-0), shifting every
    // later doc's offset (the qf1 null-contract lesson)
    offsetsOverCounts(d.select(col("doc_id"),
      size(TextOps.tokensOf(col("text"))).cast("long").as("n_tokens")), bucketSize)

  /** The two-level distributed prefix sum over a PRE-COUNTED frame —
    * `(doc_id, n_tokens, …carry)` in, the same plus `(global_offset, seq_id,
    * offset_in_seq)` out, carry columns passed through untouched. Shared by
    * [[offsetsCore]] (which derives counts by tokenizing) and pipe4's
    * composed pipeline (whose survivor frame already carries counts).
    */
  private[operators] def offsetsOverCounts(
      t: DataFrame, bucketSize: Long = DefaultBucketSize): DataFrame = {
    val carry = t.columns.filterNot(Set("doc_id", "n_tokens")).map(col).toSeq
    val base = t.withColumn("bkt", expr(s"doc_id div $bucketSize"))
    val bucketW = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    val bucketOffsets = base
      .groupBy("bkt").agg(sum("n_tokens").as("bsum"))
      .withColumn("boff", coalesce(sum("bsum").over(bucketW), lit(0L)))
      .select("bkt", "boff")
    val inBucketW = Window.partitionBy("bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .join(broadcast(bucketOffsets), "bkt")
      .select(Seq(col("doc_id"), col("n_tokens")) ++ carry :+
        (col("boff") + coalesce(sum("n_tokens").over(inBucketW), lit(0L)))
          .as("global_offset"): _*)
      .select(Seq(col("doc_id"), col("n_tokens")) ++ carry ++ Seq(col("global_offset"),
        expr(s"global_offset div $SeqLen").as("seq_id"),
        pmod(col("global_offset"), lit(SeqLen)).as("offset_in_seq")): _*)
  }

  /** pack2: the per-sequence manifest of the [[sequenceOffsets]] layout —
    * for every fixed-length training sequence, which documents place tokens
    * in it: `(seq_id, n_docs, n_starts, first_doc, last_doc, tokens_filled)`.
    * This is the attention-boundary metadata a packed-pretraining dataloader
    * consumes (one row per SeqLen-token window; `n_starts` counts docs whose
    * FIRST token lands here — cross-document attention masking needs the
    * boundary positions, and `n_docs > 1` marks windows that mix documents).
    * Every sequence is full (`tokens_filled == SeqLen`) except the last.
    *
    * Scale shape: a doc expands to `(last_seq - first_seq + 1)` rows via an
    * explicit `sequence(first_seq, last_seq)` array — total expansion is
    * corpus tokens / SeqLen plus one row per doc, i.e. LINEAR with a 1/2048
    * constant; the rollup is a map-side-combined groupBy on the
    * high-cardinality seq_id. The array is materialized in its own select
    * BEFORE the explode (the Generate-hoist pitfall: non-generator
    * expressions sharing a select with explode() are hoisted above the
    * Generate and re-evaluated per exploded row).
    */
  def sequenceManifest(spark: SparkSession, dir: String): DataFrame =
    sequenceManifestOf(Tables.docs(spark, dir))

  /** [[sequenceManifest]] over an explicit `(doc_id, text)` frame. */
  def sequenceManifestOf(d: DataFrame, bucketSize: Long = DefaultBucketSize): DataFrame = {
    val spans = offsetsCore(d, bucketSize)
      .where(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("global_offset"),
        col("seq_id").as("first_seq"),
        sequence(col("seq_id"),
          expr(s"(global_offset + n_tokens - 1) div $SeqLen")).as("seqs"))
    spans
      .select(col("doc_id"), col("n_tokens"), col("global_offset"), col("first_seq"),
        explode(col("seqs")).as("seq_id"))
      .groupBy("seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("seq_id") === col("first_seq"), 1L).otherwise(0L)).as("n_starts"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"),
        sum(least((col("seq_id") + 1) * SeqLen, col("global_offset") + col("n_tokens"))
          - greatest(col("seq_id") * SeqLen, col("global_offset"))).as("tokens_filled"))
      .orderBy("seq_id")
  }
}
