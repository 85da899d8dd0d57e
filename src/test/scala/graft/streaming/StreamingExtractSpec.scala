package graft.streaming

import java.nio.file.Files
import graft.SparkSpec
import graft.pipeline.{Extract, GenData}

/** Streaming ingestion: output must equal the batch pipeline, and a restarted
  * query must process only files not yet recorded in the checkpoint
  * (exactly-once file-source semantics).
  */
class StreamingExtractSpec extends SparkSpec {

  test("config-driven stream (rotated + crops) equals the configured oracle") {
    implicit val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-stream-cfg").toString
    val seed = GenData.DefaultSeed
    val store = StreamingExtract.GeneratedMediaStore(seed)
    val cfg = graft.schema.DetectConfig(rotatedBbox = true, renderCrops = true)
    val docs = (0L until 60L).map(i => GenData.doc(seed, i))
    docs.toDS().repartition(2).write.parquet(s"$base/in/b1")
    val q = StreamingExtract.start(s"$base/in/*", s"$base/out", s"$base/ckpt", store, cfg = cfg)
    q.awaitTermination()
    val out = spark.read.parquet(s"$base/out").as[graft.schema.ExtractedDoc]
      .collect().map(d => d.doc_id -> d.spans).toMap
    assert(out.size == 60)
    (0L until 60L).foreach { i =>
      val want = graft.pipeline.Oracle.extractConfigured(
        GenData.doc(seed, i), ref => GenData.payload(seed, ref), cfg)
      assert(out(want.doc_id) == want.spans, s"doc $i diverges under streaming cfg")
    }
    // the oracle above mirrors the stream's own per-doc code, so also hold the
    // stream to the batch plan under the same config
    val (bd, bm) = Extract.generate(60, seed)
    assert(out == Extract.run(bd, bm, cfg).collect().map(d => d.doc_id -> d.spans).toMap)
    // the rotated crop digests actually flow through the stream
    assert(out.values.flatten.exists(sp => sp.kind == "std_text" && sp.text.contains(";crop=")))
  }

  test("availableNow stream equals batch output and resumes exactly-once") {
    implicit val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-stream").toString
    val seed = GenData.DefaultSeed
    val store = StreamingExtract.GeneratedMediaStore(seed)

    // first batch of arriving files: docs 0..99
    val docs1 = (0L until 100L).map(i => GenData.doc(seed, i))
    docs1.toDS().repartition(3).write.parquet(s"$base/in/batch1")

    val q1 = StreamingExtract.start(s"$base/in/*", s"$base/out", s"$base/ckpt", store)
    q1.awaitTermination()
    val out1 = spark.read.parquet(s"$base/out").as[graft.schema.ExtractedDoc]
      .collect().map(d => d.doc_id -> d.spans).toMap
    assert(out1.size == 100)

    // second batch arrives: docs 100..149; restart drains ONLY the new files
    val docs2 = (100L until 150L).map(i => GenData.doc(seed, i))
    docs2.toDS().repartition(2).write.parquet(s"$base/in/batch2")
    val q2 = StreamingExtract.start(s"$base/in/*", s"$base/out", s"$base/ckpt", store)
    q2.awaitTermination()
    val out2 = spark.read.parquet(s"$base/out").as[graft.schema.ExtractedDoc]
      .collect().map(d => d.doc_id -> d.spans).toMap
    assert(out2.size == 150, "restart must append only the new files (no duplicates)")

    // content equals the batch pipeline over the same corpus
    val (bd, bm) = Extract.generate(150, seed)
    val batch = Extract.run(bd, bm).collect().map(d => d.doc_id -> d.spans).toMap
    assert(out2 == batch)
  }
}
