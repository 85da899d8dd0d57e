package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.kernel.Detect
import graft.schema._

/** One media-extraction task after the media join. */
final case class MediaTask(doc_id: String, offset: Int, media_ref: String, payload: Array[Byte])

/** One output span before renumbering: a text span passed through, or one
  * region of a media span as the kernel renders it (Detect.extractRendered).
  */
final case class RSpan(kind: String, text: String, media_ref: String)

/** One assembly input piece: the spans one input span contributes at its
  * offset — the text span itself, or the media span's rendered regions in
  * reading order (none for a payload with no regions, a corrupt or a missing
  * one). Unioning text and media pieces lets the final assembly run off a
  * single doc_id shuffle.
  */
final case class SpanPiece(doc_id: String, offset: Int, spans: Seq[RSpan])

/** The distributed extraction pipeline (SURVEY.md §7.3 step 3):
  *
  *   docs ─ explode media spans ─ join(media) ─ mapPartitions(Detect.extractRendered) ─┐
  *   docs ─ explode text spans ─────────────────────────────────────────────── union ─┴─
  *     groupBy(doc_id) ─ columnar assemble → ExtractedDoc
  *
  * Exactly two shuffles: the media-payload join and the final doc_id group.
  * (A first cut re-joined the docs table after extraction — a third shuffle
  * moving every text span twice; unioning typed pieces removes it.)
  *
  * Every DetectConfig runs this one plan — the analog of the reference's
  * detect kwargs (rotated_bbox, use_angle_clf, crops, dilation, score_mode;
  * schema.DetectConfig): the kernel renders each region to its span text, so
  * the assembly only concatenates spans whatever the config.
  *
  * Scale design: docs and media are both written doc_id-range-partitioned
  * (media_ref embeds its doc_id), so on a real cluster the join co-locates
  * after AQE; media-heavy docs are naturally split across tasks because the
  * unit of kernel work is one media span, not one doc — skew in media count
  * per doc therefore never concentrates in one task before the (cheap,
  * rendered-regions-only) final group. The kernel is within-row pure compute —
  * parallelism comes from partitions only, exactly replacing the reference's
  * driver-side batch loop (/root/reference/cnstd/detector.py:232-245).
  */
object Extract {

  def run(docs: Dataset[Doc], media: Dataset[Media], cfg: DetectConfig = DetectConfig.Default)(
      implicit spark: SparkSession): Dataset[ExtractedDoc] =
    runWithMetrics(docs, media, cfg)._1

  /** run() plus the corrupt/missing-payload counter for lineage recording. */
  def runWithMetrics(docs: Dataset[Doc], media: Dataset[Media], cfg: DetectConfig = DetectConfig.Default)(
      implicit spark: SparkSession): (Dataset[ExtractedDoc], LongAccumulator) = {
    val (pieces, corrupt) = piecesOf(docs, media, cfg)
    val grouped = pieces.toDF()
      .groupBy("doc_id")
      .agg(sortedPieces.as("ps"))
    (assembled(grouped), corrupt)
  }

  /** Skew-salted variant of the final assembly for corpora with pathological
    * media-heavy documents (north rule: "salting of skewed media-heavy
    * partitions"): the doc_id group is salted by contiguous offset buckets so
    * one enormous document spreads over many reducers; partial assemblies are
    * then concatenated in bucket order, which equals global offset order
    * because buckets partition the offset range contiguously. Output is
    * identical to run() (asserted in ExtractE2ESpec).
    *
    * The unit of kernel work is already one media span, so doc-level media
    * skew only concentrates in the (cheap, rendered-regions-only) final
    * group — salting matters when a single doc's span COUNT is itself
    * extreme (millions), not merely its media payloads.
    */
  def runSalted(docs: Dataset[Doc], media: Dataset[Media], bucketSize: Int = 1024)(
      implicit spark: SparkSession): Dataset[ExtractedDoc] = {
    val (pieces, _) = piecesOf(docs, media, DetectConfig.Default)
    val partial = pieces.toDF()
      .withColumn("bucket", (col("offset") / bucketSize).cast("int"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sortedPieces.as("ps"))
    val merged = partial
      .groupBy("doc_id")
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("bucket"), col("ps")))),
        b => b.getField("ps"))).as("ps"))
    assembled(merged)
  }

  /** Kernel phase: explode spans, join media payloads, run
    * Detect.extractRendered under `cfg` per payload in mapPartitions, union
    * with the pass-through text pieces.
    */
  private def piecesOf(docs: Dataset[Doc], media: Dataset[Media], cfg: DetectConfig)(
      implicit spark: SparkSession): (Dataset[SpanPiece], LongAccumulator) = {
    import spark.implicits._
    // explode_outer: a doc with an empty spans array keeps one row (s = null)
    // instead of vanishing — see the text branch below
    val spans = docs.select(col("doc_id"), explode_outer(col("spans")).as("s"))

    // left join: a media span whose payload row is missing must still produce
    // a piece (no regions), otherwise a doc whose only spans are orphaned
    // media would vanish from the output entirely
    val mediaTasks = spans
      .where(col("s.kind") === "media")
      .select(col("doc_id"), col("s.offset").as("offset"), col("s.media_ref").as("media_ref"))
      .join(media, Seq("media_ref"), "left_outer")
      .select(col("doc_id"), col("offset"), col("media_ref"), col("payload"))
      .as[MediaTask]

    val corrupt = spark.sparkContext.longAccumulator("graft.corrupt_or_missing_payloads")
    val mediaPieces: Dataset[SpanPiece] = mediaTasks.mapPartitions { it =>
      it.map { t =>
        // corrupt/missing payloads degrade to zero regions, never fail the task
        val (rendered, dropped) = Detect.extractRenderedSafe(t.payload, cfg)
        if (dropped) corrupt.add(1)
        SpanPiece(t.doc_id, t.offset, rendered.map { case (k, x) => RSpan(k, x, t.media_ref) })
      }
    }

    // The text branch also carries the empty-doc sentinel: a doc whose spans
    // array is empty would otherwise vanish from the output, while the
    // single-threaded oracle emits ExtractedDoc(id, Seq()). explode_outer
    // kept one s=null row per such doc; mapping it to a piece with no spans
    // flattens to zero spans in assembly, so the doc appears with spans=[].
    // Folding the sentinel into this branch (rather than a third union
    // branch) keeps the docs side at exactly two scans+explodes.
    val textPieces: Dataset[SpanPiece] = spans
      .where(col("s").isNull || col("s.kind") =!= "media")
      .select(col("doc_id"),
        coalesce(col("s.offset"), lit(0)).as("offset"),
        when(col("s").isNull, array().cast("array<struct<kind:string,text:string,media_ref:string>>"))
          .otherwise(array(struct(col("s.kind").as("kind"),
            coalesce(col("s.text"), lit("")).as("text"), lit("").as("media_ref")))).as("spans"))
      .as[SpanPiece]

    (mediaPieces.unionByName(textPieces), corrupt)
  }

  /** collect_list of piece structs ordered by offset (offset is the struct's
    * first field, so sort_array orders by it; offsets are unique per doc).
    */
  private def sortedPieces = sort_array(collect_list(struct(col("offset"), col("spans"))))

  /** Columnar assembly over (doc_id, ps), with no object encoders after
    * the kernel boundary: the offset-ordered pieces' spans are concatenated
    * and `order` renumbered 0..n-1. Semantics mirror the single-threaded
    * oracles (pipeline.Oracle; the E2E suite asserts equality, so the
    * implementations cross-check).
    */
  private def assembled(grouped: DataFrame)(implicit spark: SparkSession): Dataset[ExtractedDoc] = {
    import spark.implicits._
    val flat = flatten(transform(col("ps"), _.getField("spans")))
    grouped
      .select(col("doc_id"), transform(flat, (sp, i) =>
        struct(sp.getField("kind").as("kind"), sp.getField("text").as("text"),
          sp.getField("media_ref").as("media_ref"), i.as("order"))).as("spans"))
      .as[ExtractedDoc]
  }

  /** Generate `nDocs` docs + media payloads as distributed Datasets. */
  def generate(nDocs: Long, seed: Long = GenData.DefaultSeed)(
      implicit spark: SparkSession): (Dataset[Doc], Dataset[Media]) = {
    import spark.implicits._
    val ids = spark.range(nDocs)
    val docs = ids.map(i => GenData.doc(seed, i))
    val media = ids.flatMap(i => GenData.media(seed, GenData.doc(seed, i)))
    (docs, media)
  }

  /** End-to-end over generated data. */
  def runGenerated(nDocs: Long, seed: Long = GenData.DefaultSeed)(
      implicit spark: SparkSession): Dataset[ExtractedDoc] = {
    val (docs, media) = generate(nDocs, seed)
    run(docs, media)
  }
}
