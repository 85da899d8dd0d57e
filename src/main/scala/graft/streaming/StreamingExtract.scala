package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.kernel.Detect
import graft.pipeline.GenData
import graft.schema.{DetectConfig, Doc, ExtractedDoc, OutSpan}

/** Optional Structured-Streaming ingestion mode. The reference is batch-only
  * (SURVEY §2.9), so this is the "bolt-on" noted there: documents arrive as
  * parquet files in a directory, each micro-batch extracts them map-only
  * (media payloads resolved inside the partition via a MediaStore — no
  * shuffle, no stateful operators, so no watermark is needed), and the append
  * sink plus checkpointLocation give exactly-once file-source semantics:
  * a restarted query skips files recorded in the checkpoint's source log.
  *
  * Trigger.AvailableNow drains the current backlog and stops — the
  * micro-batch analog of one batch spark-submit run.
  */
object StreamingExtract {

  /** Resolves a media payload by reference inside a task. Implementations
    * must be cheap per lookup (local KV/object store at scale).
    */
  trait MediaStore extends Serializable {
    def fetch(mediaRef: String): Array[Byte]
  }

  /** Deterministic store for the generated corpus (payloads are a pure
    * function of (seed, media_ref) — FIXTURES.md §4).
    */
  final case class GeneratedMediaStore(seed: Long) extends MediaStore {
    def fetch(mediaRef: String): Array[Byte] = GenData.payload(seed, mediaRef)
  }

  /** One doc through the kernels under `cfg`. Matches the batch pipeline's
    * contract (Extract.run): the kernel renders each region, and a corrupt
    * payload or a failed/missing fetch degrades to zero regions for that span
    * instead of failing the query; empty docs are kept.
    */
  def extractOne(doc: Doc, store: MediaStore, cfg: DetectConfig): ExtractedDoc = {
    val flat = doc.spans.sortBy(_.offset).flatMap { s =>
      if (s.kind == "media") {
        val payload = try store.fetch(s.media_ref) catch { case _: Exception => null }
        Detect.extractRenderedSafe(payload, cfg)._1.map { case (k, t) => (k, t, s.media_ref) }
      } else Seq((s.kind, s.text, ""))
    }
    ExtractedDoc(doc.doc_id, flat.zipWithIndex.map { case ((k, t, m), i) => OutSpan(k, t, m, i) })
  }

  /** Start the streaming extraction: docsDir (parquet files, Doc schema) →
    * outDir (append parquet), exactly-once via checkpointDir. `cfg` exposes
    * the full DetectConfig surface (rotated path, angle-clf, crops, dilation)
    * in streaming mode, mirroring ExtractJob's batch flags.
    */
  def start(docsDir: String, outDir: String, checkpointDir: String, store: MediaStore,
            cfg: DetectConfig = DetectConfig.Default)(
      implicit spark: SparkSession): StreamingQuery = {
    import spark.implicits._
    val docs: Dataset[Doc] = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Doc].schema)
      .parquet(docsDir)
      .as[Doc]
    val out = docs.mapPartitions(_.map(d => extractOne(d, store, cfg)))
    out.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
