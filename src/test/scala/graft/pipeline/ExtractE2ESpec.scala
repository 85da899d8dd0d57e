package graft.pipeline

import graft.SparkSpec
import graft.schema._
import graft.kernel.Payload

/** The end-to-end correctness gate: the distributed pipeline must match the
  * single-threaded oracle per row on (kind, text, media_ref, order) — the
  * invariant from BASELINE.json `input_hint` — and be partition-count
  * invariant (the correctness leg of the N vs 4N scaling evidence).
  */
class ExtractE2ESpec extends SparkSpec {
  private val seed = GenData.DefaultSeed
  private val nDocs = 300L
  // every optional reference-tail feature on at once: rotated default path +
  // use_dilation + use_angle_clf + rendered crops (cn_std.py:123,148-169,190-199)
  private val fullCfg = DetectConfig(rotatedBbox = true, useDilation = true,
    useAngleClf = true, renderCrops = true)
  private val configs = Seq(DetectConfig.Default, fullCfg)

  test("generator is deterministic and media refs resolve") {
    val d1 = GenData.doc(seed, 7)
    val d2 = GenData.doc(seed, 7)
    assert(d1 == d2)
    val refs = GenData.mediaRefs(d1)
    refs.foreach { r =>
      assert(GenData.payload(seed, r).sameElements(GenData.payload(seed, r)))
    }
  }

  test("spark pipeline output equals single-threaded oracle for every doc") {
    implicit val s = spark
    import s.implicits._
    val got = Extract.runGenerated(nDocs, seed).collect().map(d => d.doc_id -> d.spans).toMap
    assert(got.size == nDocs)
    var checkedRegions = 0
    (0L until nDocs).foreach { i =>
      val want = Oracle.extractGenerated(seed, i)
      assert(got(want.doc_id) == want.spans, s"mismatch for ${want.doc_id}")
      checkedRegions += want.spans.count(_.media_ref.nonEmpty)
    }
    // the dataset must actually exercise extraction, not just pass-through
    assert(checkedRegions > 100, s"only $checkedRegions extracted spans — generator too weak")
  }

  test("all three stages and filtering actually occur in the generated corpus") {
    val spans = (0L until nDocs).flatMap(i => Oracle.extractGenerated(seed, i).spans)
    val kinds = spans.map(_.kind).toSet
    assert(kinds.contains("text"))
    assert(kinds.contains(Vocab.StdKind))
    assert(kinds.exists(_.startsWith("mfd_")))
    assert(kinds.exists(Vocab.LayoutCategories.drop(1).contains), s"no layout kinds in $kinds")
  }

  test("output is invariant to input partitioning (scaling correctness leg)") {
    implicit val s = spark
    import s.implicits._
    val (docs, media) = Extract.generate(120, seed)
    configs.foreach { cfg =>
      val a = Extract.run(docs.repartition(2), media.repartition(3), cfg)
        .collect().map(d => d.doc_id -> d.spans).toMap
      val b = Extract.run(docs.repartition(11), media.repartition(5), cfg)
        .collect().map(d => d.doc_id -> d.spans).toMap
      assert(a == b, s"partitioning changed the output under $cfg")
    }
  }

  test("salted assembly is identical to the unsalted pipeline") {
    implicit val s = spark
    import s.implicits._
    val (docs, media) = Extract.generate(150, seed)
    val a = Extract.run(docs, media).collect().map(d => d.doc_id -> d.spans).toMap
    // bucketSize 2 forces real multi-bucket splits at this corpus's span counts
    val b = Extract.runSalted(docs, media, bucketSize = 2)
      .collect().map(d => d.doc_id -> d.spans).toMap
    assert(a == b)
  }

  test("corrupt and missing payloads degrade to zero regions, never fail") {
    implicit val s = spark
    import s.implicits._
    val docs = Seq(
      Doc("doc-a", Seq(RawSpan("text", "hello", "", 0), RawSpan("media", "", "m-bad", 1))),
      Doc("doc-b", Seq(RawSpan("media", "", "m-missing", 0))),
      Doc("doc-c", Seq(RawSpan("media", "", "m-neg", 0)))).toDS()
    // bad magic, and an STD header claiming w = -200 over a 64-byte body
    val negWidth = Array[Byte](Payload.Magic, Payload.Version, Vocab.StageStd.toByte,
      0xff.toByte, 0x38, 0, 100) ++ new Array[Byte](64)
    val media = Seq(Media("m-bad", Array[Byte](1, 2, 3)), Media("m-neg", negWidth)).toDS()
    configs.foreach { cfg =>
      val (ds, corrupt) = Extract.runWithMetrics(docs, media, cfg)
      val out = ds.collect().map(d => d.doc_id -> d.spans).toMap
      assert(out("doc-a") == Seq(OutSpan("text", "hello", "", 0)))
      assert(out.contains("doc-b"), "doc with only an orphaned media span must still be emitted")
      assert(out("doc-b").isEmpty)
      assert(out("doc-c").isEmpty)
      // two corrupt payloads plus one missing payload
      assert(corrupt.value == 3, s"corrupt/missing counter under $cfg")
    }
  }

  test("rotated pipeline equals its oracle; both oracles agree on Default") {
    implicit val s = spark
    import s.implicits._
    val cfg = DetectConfig.ReferenceDefault // rotated_bbox=True, cn_std.py:49
    val n = 300
    val (docs, media) = Extract.generate(n, seed)
    val out = Extract.run(docs, media, cfg).collect().map(d => d.doc_id -> d.spans).toMap
    assert(out.size == n)
    (0 until n).foreach { i =>
      val expect = Oracle.extractConfigured(GenData.doc(seed, i), ref => GenData.payload(seed, ref), cfg)
      assert(out(expect.doc_id) == expect.spans, s"doc $i diverges from the rotated oracle")
    }
    // rotated render is actually exercised (5-field rbbox text on std spans)
    assert(out.values.flatten.exists(sp => sp.kind == "std_text" && sp.text.count(_ == ',') == 4),
      "no rotated rbbox renders found — rotated path not exercised")
    // Extract.run renders through the kernel for every config, so under the
    // frozen Default the config-driven oracle must equal the region oracle
    (0 until n).foreach { i =>
      val doc = GenData.doc(seed, i)
      val payloadFor = (ref: String) => GenData.payload(seed, ref)
      assert(Oracle.extractConfigured(doc, payloadFor, DetectConfig.Default) ==
        Oracle.extract(doc, payloadFor), s"doc $i: the two oracles disagree under Default")
    }
  }

  test("full-feature config (angle-clf + crops + dilation) equals its oracle") {
    implicit val s = spark
    import s.implicits._
    val cfg = fullCfg
    val n = 200
    val (docs, media) = Extract.generate(n, seed)
    val out = Extract.run(docs, media, cfg).collect().map(d => d.doc_id -> d.spans).toMap
    assert(out.size == n)
    (0 until n).foreach { i =>
      val expect = Oracle.extractConfigured(GenData.doc(seed, i), ref => GenData.payload(seed, ref), cfg)
      assert(out(expect.doc_id) == expect.spans, s"doc $i diverges from the full-feature oracle")
    }
    // the crop digest actually reaches the output rows
    val stdTexts = out.values.flatten.filter(_.kind == "std_text").map(_.text)
    assert(stdTexts.nonEmpty && stdTexts.forall(_.contains(";crop=")),
      "std spans must carry crop digests under renderCrops")
  }

  test("empty-span docs appear in the output with spans=[] like the oracle") {
    implicit val s = spark
    import s.implicits._
    val docs = Seq(
      Doc("doc-empty", Seq.empty),
      Doc("doc-t", Seq(RawSpan("text", "hi", "", 0)))).toDS()
    configs.foreach { cfg =>
      val out = Extract.run(docs, s.emptyDataset[Media], cfg).collect().map(d => d.doc_id -> d.spans).toMap
      assert(out.keySet == Set("doc-empty", "doc-t"), s"missing docs under $cfg: $out")
      assert(out("doc-empty").isEmpty)
      assert(out("doc-t") == Seq(OutSpan("text", "hi", "", 0)))
    }
    // matches the single-threaded oracle's contract
    assert(Oracle.extract(Doc("doc-empty", Seq.empty), _ => null) == ExtractedDoc("doc-empty", Seq.empty))
  }

  test("docs without media pass through with text spans only") {
    implicit val s = spark
    import s.implicits._
    val doc = Doc("doc-x", Seq(RawSpan("text", "hello", "", 0), RawSpan("text", "world", "", 1)))
    val out = Extract.run(Seq(doc).toDS(), s.emptyDataset[Media]).collect()
    assert(out.toSeq == Seq(ExtractedDoc("doc-x",
      Seq(OutSpan("text", "hello", "", 0), OutSpan("text", "world", "", 1)))))
  }
}
