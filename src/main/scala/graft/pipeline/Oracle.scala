package graft.pipeline

import graft.kernel.{Assemble, Detect}
import graft.schema.{Doc, ExtractedDoc}

/** Straight-line single-threaded oracle: extracts one document with no Spark
  * involved. The E2E suite asserts the distributed pipeline matches this
  * exactly per row — catching distribution bugs (cross-partition ordering,
  * re-merge after skew splits) rather than kernel bugs.
  */
object Oracle {
  def extract(doc: Doc, payloadFor: String => Array[Byte]): ExtractedDoc = {
    val byOffset = doc.spans.collect {
      case s if s.kind == "media" => s.offset -> Detect.extract(payloadFor(s.media_ref))
    }.toMap
    ExtractedDoc(doc.doc_id, Assemble.assemble(doc.spans, byOffset))
  }

  /** Oracle over generated data. */
  def extractGenerated(seed: Long, i: Long): ExtractedDoc = {
    val d = GenData.doc(seed, i)
    extract(d, ref => GenData.payload(seed, ref))
  }

  /** Config-driven oracle matching Extract.run's contract under `cfg`
    * (rendered kernel path, degrade-don't-fail, empty docs kept). Under
    * DetectConfig.Default it must equal `extract`, which renders through
    * Assemble instead (asserted in ExtractE2ESpec).
    */
  def extractConfigured(doc: Doc, payloadFor: String => Array[Byte],
                        cfg: graft.schema.DetectConfig): ExtractedDoc = {
    val flat = doc.spans.sortBy(_.offset).flatMap { s =>
      if (s.kind == "media") {
        val payload = try payloadFor(s.media_ref) catch { case _: Exception => null }
        Detect.extractRenderedSafe(payload, cfg)._1.map { case (k, t) => (k, t, s.media_ref) }
      } else Seq((s.kind, s.text, ""))
    }
    ExtractedDoc(doc.doc_id,
      flat.zipWithIndex.map { case ((k, t, m), i) => graft.schema.OutSpan(k, t, m, i) })
  }
}
