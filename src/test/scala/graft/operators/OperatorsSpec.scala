package graft.operators

import graft.SparkSpec
import graft.SparkEntry
import org.apache.spark.sql.functions._

/** Correctness gates for the operators whose semantics DuckDB cannot express
  * (hash-based dedup, LSH ANN, multimodal decode) plus a smoke pass over the
  * whole SparkEntry surface. SQL-expressible ops are value-checked against
  * DuckDB by the driver (tools/check_oracle.py emulates that locally).
  */
class OperatorsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("every SparkEntry query runs and entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle for unimplemented queries: $missing")
  }

  test("minhash LSH finds planted near-duplicates with calibrated similarity") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val nearDup = base + " now"        // tiny suffix edit: jaccard near 1
    val unrelated = "completely different content with zero overlapping character sequences here"
    val d = Seq(
      (1L, base), (2L, nearDup), (3L, unrelated),
      (4L, "spark catalyst optimizer rewrites logical plans into physical plans quickly"),
      (5L, "spark catalyst optimizer rewrites logical plans into physical plans slowly"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.minHashPairs(d, minJaccard = 0.5)
      .select("doc_a", "doc_b", "est_sim", "jaccard")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val found = pairs.map(p => (p._1, p._2)).toSet
    assert(found.contains((1L, 2L)), s"missed planted near-dup, got $found")
    assert(found.contains((4L, 5L)), s"missed planted near-dup, got $found")
    assert(!found.exists(p => p._1 == 3L || p._2 == 3L), s"false positive with unrelated doc: $found")
    pairs.foreach { case (_, _, est, jac) =>
      assert(math.abs(est - jac) < 0.35, s"minhash estimate $est too far from exact $jac")
    }
  }

  test("simhash: identical texts collide at hamming 0; near texts are close") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "totally unrelated words nothing shared here at all"))
      .toDF("doc_id", "text")
    val sigs = DedupOps.simHashSignatures(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(3L)) < hamming(sigs(1L), sigs(4L)))
    val pairs = DedupOps.simHashPairs(d).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("banded simhash pairs equal brute-force hamming pairs on random docs") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
      "iota", "kappa", "lambda", "mu")
    // near-dup-rich corpus: half the docs are 1-2-token edits of earlier ones
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 120).foreach { i =>
      if (i > 0 && rng.nextBoolean()) {
        val base = texts(rng.nextInt(texts.length)).split(" ").toBuffer
        base(rng.nextInt(base.length)) = vocab(rng.nextInt(vocab.length))
        texts += base.mkString(" ")
      } else texts += Seq.fill(8 + rng.nextInt(8))(vocab(rng.nextInt(vocab.length))).mkString(" ")
    }
    val d = texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val banded = DedupOps.simHashPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigs = DedupOps.simHashSignatures(d).collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= DedupOps.MaxHamming
    } yield (a, b, h)).toSet
    assert(banded == brute,
      s"banding diverges from brute force: missing=${(brute -- banded).take(5)}, extra=${(banded -- brute).take(5)}")
    assert(brute.nonEmpty, "differential corpus produced no near-dup pairs — fixture too weak")
  }

  test("simhash two-level banding: complete at hamming<=3, bounded hot buckets") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // adversarial corpus: every signature shares band 0's 15 bits (the plain
    // 15-bit banding would put ALL docs in one bucket), random elsewhere
    val shared = rng.nextLong() & 0x7fffL
    val base = Seq.fill(2000)((rng.nextLong() & ((1L << 60) - 1) & ~0x7fffL) | shared)
    // planted near-dups: flip 1..3 random bits of the first 100
    val planted = base.take(100).map { s =>
      var t = s
      (0 until 1 + rng.nextInt(3)).foreach(_ => t ^= 1L << rng.nextInt(60))
      t
    }
    val all = (base ++ planted).zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = all.toDF("doc_id", "simhash")
    val keys = df.select(col("doc_id"), col("simhash"),
      explode(array(DedupOps.simHashKeys(col("simhash")): _*)).as("k"))
    // completeness: every planted pair (hamming <= 3 by construction) shares a key
    val cand = Candidates.pairs(df, "doc_id", DedupOps.simHashKeys(col("simhash")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigOf = all.toMap
    planted.indices.foreach { i =>
      val (a, b) = (i.toLong, (base.size + i).toLong)
      if (java.lang.Long.bitCount(sigOf(a) ^ sigOf(b)) <= 3)
        assert(cand.contains((a, b)), s"planted pair ($a,$b) shares no band key")
    }
    // occupancy: the sub-split spreads the degenerate shared band over the
    // remaining 45 bits — no compound bucket holds more than a tiny fraction
    // of the corpus (plain banding would hold all 2100 in one bucket)
    val maxBucket = keys.groupBy("k").count().agg(max("count")).head().getLong(0)
    assert(maxBucket <= 50, s"hot bucket of $maxBucket docs survived the sub-split")
  }

  test("ANN IVF results are a high-recall subset of brute-force top-k") {
    val exact = SimilarityOps.cosineTopK(spark, sf).select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SimilarityOps.annIvf(spark, sf).select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"ANN recall $recall too low (|exact|=${exact.size}, hit=${(exact & approx).size})")
    // every ANN hit must be a genuinely scored pair (cos computed, rank <= k)
    assert(SimilarityOps.annIvf(spark, sf).where(col("rank") > SimilarityOps.TopK).count() == 0)
  }

  test("ANN IVF equals its single-threaded oracle BIT-FOR-BIT (fixed summation tree)") {
    // the whole point of trainCentroids' block-keyed reduction: the
    // distributed index is deterministic, so the plain-Scala oracle must
    // reproduce every row exactly — including the unrounded rank order
    val dist = SimilarityOps.annIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val oracle = graft.pipeline.Oracle.annIvfOracleRows(spark, sf)
    assert(dist == oracle, {
      val d = dist.toSet; val o = oracle.toSet
      s"IVF diverges from oracle; dist-only=${(d -- o).take(5)} oracle-only=${(o -- d).take(5)}"
    })
  }

  test("multimodal metadata decode covers all stages with valid dimensions") {
    val rows = SparkEntry.queries("mm1_media_meta")(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.length == nDocs)
    val stages = rows.map(_.getAs[Int]("stage")).toSet
    assert(stages == Set(0, 1, 2), s"missing stages: $stages")
    rows.foreach { r =>
      assert(r.getAs[Int]("width") > 0 && r.getAs[Int]("height") > 0)
      assert(r.getAs[Int]("n_regions") >= 0)
      assert(r.getAs[Int]("n_bytes") > 0)
    }
    // distributed output == sequential driver oracle, row for row
    val side = spark.read.parquet(MultimodalOps.oracleTable(sf, nDocs))
      .orderBy("media_ref")
      .select("media_ref", "stage", "width", "height", "n_bytes", "n_regions")
      .collect()
    assert(rows.map(_.toSeq).toSeq == side.map(_.toSeq).toSeq)
  }

  test("mm6: per-image phash columns equal the sequential oracle, row for row") {
    val cols = Seq("media_ref", "format", "width", "height", "phash", "pix_hash")
    val out = SparkEntry.queries("mm6_phash_dupes")(spark, sf).select(cols.map(col): _*).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.length == nDocs)
    val side = spark.read.parquet(MultimodalOps.phashOracleTable(sf, nDocs))
      .orderBy("media_ref")
      .select(cols.map(col): _*)
      .collect()
    val got = out.map(_.toSeq).toSeq
    val want = side.map(_.toSeq).toSeq
    assert(got == want, s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
  }

  test("mm2: distributed real-image decode equals the sequential driver oracle, all formats hit") {
    val out = SparkEntry.queries("mm2_image_meta")(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.length == nDocs)
    val side = spark.read.parquet(MultimodalOps.imageOracleTable(sf, nDocs))
      .orderBy("media_ref")
      .select("media_ref", "format", "width", "height", "channels", "n_bytes", "pix_hash", "n_regions")
      .collect()
    val got = out.map(_.toSeq).toSeq
    val want = side.map(_.toSeq).toSeq
    assert(got == want, s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
    val formats = out.map(_.getAs[String]("format")).toSet
    assert(formats == Set("bmp", "pgm", "ppm", "png", "jpeg"), s"got $formats")
    assert(out.exists(_.getAs[Int]("n_regions") > 0), "decoded scenes must yield regions")
  }

  test("mm3: decode+resize+detect+denormalize equals the sequential oracle, resize is real") {
    val out = SparkEntry.queries("mm3_image_detect")(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.length == nDocs)
    val side = spark.read.parquet(MultimodalOps.imageDetectOracleTable(sf, nDocs))
      .orderBy("media_ref")
      .select("media_ref", "width", "height", "rw", "rh", "n_regions", "box_digest", "sum_area")
      .collect()
    assert(out.map(_.toSeq).toSeq == side.map(_.toSeq).toSeq)
    // the resize policy must actually resample (not be the identity) for
    // most refs, and de-normalized boxes must land in source pixel space
    assert(out.count(r => r.getAs[Int]("rw") != r.getAs[Int]("width")) > nDocs / 2)
    assert(out.exists(_.getAs[Int]("n_regions") > 0))
    out.foreach { r =>
      assert(r.getAs[Long]("sum_area") <=
        r.getAs[Int]("width").toLong * r.getAs[Int]("height") * math.max(1, r.getAs[Int]("n_regions")))
    }
  }

  test("mm5: all three stage tails run on decoded pixels and equal the sequential oracle") {
    val out = SparkEntry.queries("mm5_detect_stages")(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.length == nDocs * 3, s"want 3 rows/ref, got ${out.length}")
    val side = spark.read.parquet(MultimodalOps.stageDetectOracleTable(sf, nDocs))
      .orderBy("media_ref", "stage")
      .select("media_ref", "stage", "width", "height", "n_cands", "n_regions",
        "kind_digest", "box_digest", "sum_area")
      .collect()
    assert(out.map(_.toSeq).toSeq == side.map(_.toSeq).toSeq)
    // every stage present per ref, and each YOLO head must actually fire on
    // some decoded image (candidates proposed AND regions surviving the tail)
    for (stage <- Seq(1, 2)) {
      val rows = out.filter(_.getAs[Int]("stage") == stage)
      assert(rows.length == nDocs)
      assert(rows.exists(_.getAs[Int]("n_cands") > 0), s"stage $stage proposed nothing")
      assert(rows.exists(r => r.getAs[Int]("n_regions") > 0 && r.getAs[Long]("kind_digest") != 0L),
        s"stage $stage emitted no regions on any decoded image")
    }
    // MFD and layout digest streams must differ (different vocabularies/NMS
    // classes), or the stage plumbing collapsed into one head
    val d1 = out.filter(_.getAs[Int]("stage") == 1).map(_.getAs[Long]("kind_digest")).toSeq
    val d2 = out.filter(_.getAs[Int]("stage") == 2).map(_.getAs[Long]("kind_digest")).toSeq
    assert(d1 != d2, "MFD and layout produced identical kind digests")
  }

  test("mm4: corrupt payloads quarantine deterministically, survivors match the oracle") {
    val out = SparkEntry.queries("mm4_decode_quarantine")(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.length == nDocs)
    // distributed output == sequential driver oracle, row for row
    val side = spark.read.parquet(MultimodalOps.quarantineOracleTable(sf, nDocs))
      .orderBy("media_ref")
      .select("media_ref", "status", "err_kind", "format", "width", "height", "pix_hash", "n_bytes")
      .collect()
    assert(out.map(_.toSeq).toSeq == side.map(_.toSeq).toSeq)
    // the mix must actually exercise the quarantine: some rows rejected
    // (~3/16 of refs draw a format-violating corruption), most rows fine,
    // and the planted corruption classes all observed
    val quarantined = out.filter(_.getAs[String]("status") == "quarantined")
    val ok = out.filter(_.getAs[String]("status") == "ok")
    assert(quarantined.nonEmpty && ok.length > out.length / 2,
      s"quarantined=${quarantined.length} ok=${ok.length}")
    val kinds = quarantined.map(_.getAs[String]("err_kind")).toSet
    assert(kinds.contains("hostile_header"), s"decode-bomb header not seen: $kinds")
    assert(kinds.contains("bad_magic"), s"lied magic not seen: $kinds")
    assert(kinds.exists(k => k == "truncated" || k == "crc_mismatch" || k == "corrupt_stream" || k == "malformed"),
      s"truncation/bit-rot class not seen: $kinds")
    // quarantined rows carry no pixel claims; ok rows carry real ones
    quarantined.foreach { r =>
      assert(r.getAs[Int]("width") == -1 && r.getAs[Long]("pix_hash") == 0L)
    }
    assert(ok.exists(_.getAs[Long]("pix_hash") != 0L))
  }

  test("pipe1 composes qf1 + dd1 + txt3 exactly (no drift between the fused and single ops)") {
    import spark.implicits._
    val out = TextOps.trainingPrep(spark, sf).collect()
    assert(out.nonEmpty)
    // every kept doc is accounted for exactly once across the dup groups
    val keptIds = TextOps.qualityFilter(spark, sf)
      .where(col("keep") === 1).select("doc_id").as[Long].collect().toSet
    assert(out.map(_.getAs[Long]("n_dups")).sum == keptIds.size)
    // keepers are kept docs, and their lang/token stats equal the
    // single-operator queries' values for the same doc
    val langBy = TextOps.langId(spark, sf)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    val toksBy = TextOps.tokenCount(spark, sf)
      .select("doc_id", "n_tokens").as[(Long, Int)].collect().toMap
    out.foreach { r =>
      val k = r.getAs[Long]("keeper")
      assert(keptIds(k), s"keeper $k was not quality-kept")
      assert(r.getAs[String]("keeper_lang") == langBy(k), s"lang drift for $k")
      assert(r.getAs[Int]("keeper_tokens") == toksBy(k), s"token drift for $k")
    }
  }

  test("winnowing fingerprints: copies collide, shifted copies mostly overlap") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away today"
    val d = Seq((1L, base), (2L, base), (3L, "PREFIX " + base), (4L, "zz qq completely different material with nothing in common whatsoever here ok"))
      .toDF("doc_id", "text")
    // reuse the query shape against an in-memory table by writing it out
    val tmp = java.nio.file.Files.createTempDirectory("fp").toString
    d.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextOps.fingerprints(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc(1L) == byDoc(2L), "identical docs must have identical fingerprint sets")
    // shifted copy shares most fingerprints (winnowing's guarantee)
    val overlap = (byDoc(1L) & byDoc(3L)).size.toDouble / byDoc(1L).size
    assert(overlap >= 0.5, s"shifted copy shares only $overlap of fingerprints")
    // unrelated doc shares (essentially) nothing
    assert((byDoc(1L) & byDoc(4L)).isEmpty)
  }

  test("block-pair embedding dedup equals the exact all-pairs oracle") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blocked = pairs(SimilarityOps.dedupEmbedding(spark, sf))
    val exact = pairs(EmbeddingReference.dedupEmbeddingExact(spark, sf))
    assert(blocked == exact,
      s"block-pair path diverges: missing=${(exact -- blocked).take(5)}, extra=${(blocked -- exact).take(5)}")
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("repetition stats equal a plain-Scala recompute on the sf corpus") {
    import spark.implicits._
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val expected = texts.map { case (id, text) =>
      val toks = if (text.trim.isEmpty) Array.empty[String] else text.trim.split("\\s+")
      val n = toks.length
      val dup2 = if (n < 2) 0.0
        else 1.0 - toks.sliding(2).map(_.mkString("\u0001")).toSeq.distinct.size.toDouble / (n - 1)
      val distinctRatio = if (n == 0) 0.0 else round4(toks.distinct.length.toDouble / n)
      val topFrac = if (n == 0) 0.0
        else round4(toks.groupBy(identity).values.map(_.length).max.toDouble / n)
      (id, n, distinctRatio, topFrac, round4(dup2))
    }.toSet
    val got = TextOps.repetitionStats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)}, extra=${(got -- expected).take(3)}")
  }

  test("dup-ngram coverage equals a plain-Scala inverted-index recompute") {
    import spark.implicits._
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val docGrams = texts.toSeq.flatMap { case (id, text) =>
      val toks = if (text.trim.isEmpty) Array.empty[String] else text.trim.split("\\s+")
      if (toks.length < DedupOps.DupGramK) None
      else Some(id -> toks.sliding(DedupOps.DupGramK).map(_.mkString(" ")).toSeq.distinct)
    }
    val df = docGrams.flatMap(_._2).groupBy(identity).map { case (g, o) => g -> o.size }
    val expected = docGrams.map { case (id, gs) =>
      val nDup = gs.count(g => df(g) >= 2)
      (id, gs.size.toLong, nDup.toLong, round4(nDup.toDouble / gs.size))
    }.toSet
    val got = DedupOps.dupNgramCoverage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)}, extra=${(got -- expected).take(3)}")
  }

  test("dup spans: planted shared runs are recovered exactly (positions + content md5)") {
    import spark.implicits._
    val K = DedupOps.DupGramK // 8
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val runA = (1 to 10).map(i => s"a$i")               // 10-token shared run
    val gA8 = (1 to K).map(i => s"a$i")                 // exactly-one-gram run
    val gB8 = (1 to K).map(i => s"b$i")
    val d = Seq(
      (1L, (Seq("u1", "u2") ++ runA ++ Seq("v1", "v2")).mkString(" ")),
      (2L, (Seq("w1") ++ runA ++ Seq("z1", "z2", "z3")).mkString(" ")),
      (3L, (1 to 12).map(i => s"q$i").mkString(" ")),   // all-unique: no spans
      (4L, (gA8 ++ (1 to 8).map(i => s"j$i") ++ gB8).mkString(" ")),
      (5L, (gB8 ++ (1 to 8).map(i => s"k$i") ++ gA8).mkString(" "))
    ).toDF("doc_id", "text")
    val got = DedupOps.dupSpansOf(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val mA10 = md5hex(runA.mkString(" "))
    val mA8 = md5hex(gA8.mkString(" "))
    val mB8 = md5hex(gB8.mkString(" "))
    val expected = Array(
      (1L, 3L, 12L, 10L, mA10),   // run sits at tokens 3..12 of doc 1
      (2L, 2L, 11L, 10L, mA10),
      (4L, 1L, 8L, 8L, mA8), (4L, 17L, 24L, 8L, mB8),  // two separate runs
      (5L, 1L, 8L, 8L, mB8), (5L, 17L, 24L, 8L, mA8))
    assert(got.toSeq == expected.toSeq,
      s"got=${got.mkString(", ")}\nexpected=${expected.mkString(", ")}")
  }

  test("cut dup spans: planted docs come back with exactly the shared runs removed") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val runA = (1 to 10).map(i => s"a$i")
    val c8 = (1 to 8).map(i => s"c$i")
    val d = Seq(
      (1L, (Seq("u1", "u2") ++ runA ++ Seq("v1", "v2")).mkString(" ")),
      (2L, (Seq("w1") ++ runA ++ Seq("z1", "z2", "z3")).mkString(" ")),
      (3L, "x1 x2 x3"),                    // shorter than K: passes through
      (7L, c8.mkString(" ")),              // fully duplicated with doc 8:
      (8L, c8.mkString(" "))               // everything cut, empty remainder
    ).toDF("doc_id", "text")
    val got = DedupOps.cutDupSpansOf(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
    val expected = Array(
      (1L, 14L, 1L, 10L, 4L, md5hex("u1 u2 v1 v2")),
      (2L, 14L, 1L, 10L, 4L, md5hex("w1 z1 z2 z3")),
      (3L, 3L, 0L, 0L, 3L, md5hex("x1 x2 x3")),
      (7L, 8L, 1L, 8L, 0L, md5hex("")),
      (8L, 8L, 1L, 8L, 0L, md5hex("")))
    assert(got.toSeq == expected.toSeq,
      s"got=${got.mkString(", ")}\nexpected=${expected.mkString(", ")}")
  }

  test("dup spans: sf-corpus spans agree with dd6 coverage (every dup gram is inside a span)") {
    import spark.implicits._
    // dd6 counts duplicated grams per doc; dd8's spans must cover exactly
    // that many positions: sum over runs of (span_tokens - K + 1) = dd6.n_dup
    // counted over POSITIONS... dd6 counts DISTINCT grams, so the span-side
    // position count is >= the distinct count; equality holds per doc iff no
    // duplicated gram repeats within the doc. Check the robust direction on
    // the real corpus: docs with spans = docs with n_dup > 0, and per doc
    // positions_covered >= distinct_dup_grams.
    val spans = DedupOps.dupSpans(spark, sf)
      .groupBy("doc_id")
      .agg(sum(col("span_tokens") - (DedupOps.DupGramK - 1)).as("pos_cov"))
      .as[(Long, Long)].collect().toMap
    val cov = DedupOps.dupNgramCoverage(spark, sf)
      .select("doc_id", "n_dup").as[(Long, Long)].collect()
      .filter(_._2 > 0).toMap
    assert(spans.keySet == cov.keySet,
      s"docs-with-spans != docs-with-dup-grams: ${(spans.keySet diff cov.keySet).take(3)} / ${(cov.keySet diff spans.keySet).take(3)}")
    cov.foreach { case (id, nDup) =>
      assert(spans(id) >= nDup, s"doc $id: covered positions ${spans(id)} < distinct dup grams $nDup")
    }
  }

  test("SRP-LSH near-dup (single + banded) is a nonempty exact subset of the all-pairs set") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairs(EmbeddingReference.dedupEmbeddingExact(spark, sf))
    // same exact-cosine verification on candidates → srp ⊆ exact, values equal
    val srp = pairs(SimilarityOps.srpNearDup(spark, sf))
    assert((srp -- exact).isEmpty, s"SRP produced non-pairs: ${(srp -- exact).take(5)}")
    assert(srp.nonEmpty, "frozen 8-plane instance must keep the driver value check non-vacuous")
    val banded = pairs(SimilarityOps.srpNearDupBanded(spark, sf))
    assert((banded -- exact).isEmpty, s"banded SRP produced non-pairs: ${(banded -- exact).take(5)}")
    // OR over 4 tables can only widen the candidate set vs any single table
    assert(banded.size >= srp.size || banded.nonEmpty, s"banded ${banded.size} vs single ${srp.size}")
  }

  test("banded SRP recovers planted near-duplicates (recall gate the corpus cannot provide)") {
    // the sf embeddings are spread (max pairwise cos ~0.51, no true
    // near-dups), so LSH recall must be gated on PLANTED duplicates: 20 base
    // vectors get a tiny-noise copy (cos >= 0.99); at the frozen 4x6 banding
    // each planted pair survives with prob ~0.997
    import spark.implicits._
    val rnd = new scala.util.Random(421L)
    def randVec(): Array[Float] = Array.fill(SimilarityOps.Dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val bases = (0 until 100).map(i => (i.toLong, randVec()))
    val planted = bases.take(20).map { case (i, v) =>
      (100L + i, v.map(x => x + (rnd.nextDouble() * 0.02 - 0.01).toFloat))
    }
    val e = (bases ++ planted).map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.srpNearDupBandedFrom(e, threshold = 0.9,
        SimilarityOps.SrpBandTables, SimilarityOps.SrpBandPlanes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wanted = (0 until 20).map(i => (i.toLong, 100L + i)).toSet
    val recall = (wanted intersect out).size.toDouble / wanted.size
    assert(recall >= 0.9, s"banded recall $recall on planted cos>=0.99 pairs (found ${out.size})")
  }

  test("srp plane-count rule: log2(n)+margin shape, and rule-sized buckets keep candidate volume linear") {
    import SimilarityOps.{nPlanesFor, SrpPlaneMargin}
    // rule shape: ceil(log2 n) + margin, capped at 62 (Long-packed bucket)
    assert(nPlanesFor(2L) == 1 + SrpPlaneMargin)
    assert(nPlanesFor(1L << 20) == 20 + SrpPlaneMargin)
    assert(nPlanesFor(1000000000L) == 30 + SrpPlaneMargin)
    assert(nPlanesFor(Long.MaxValue) == 62)
    val pows = (1 to 50).map(k => nPlanesFor(1L << k))
    assert(pows == pows.sorted, "plane count must be monotone in corpus size")
    // occupancy (dd4-style property): at p = nPlanesFor(n) the expected
    // background candidate pairs are ~ n / 2^(margin+1); on a real corpus the
    // floor is the TRUE near-dup pair count (those must collide to be found),
    // so the gate is candidates <= exact pairs + n — linear, never quadratic
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val n = vecs.length.toLong
    val p = nPlanesFor(n)
    assert(p > SimilarityOps.NPlanes, "rule must exceed the frozen oracle instance at sf scale")
    def bucket(v: Seq[Float]): Long = {
      val vd = v.map(_.toDouble).toArray
      (0 until p).foldLeft(0L) { (acc, pl) =>
        var s = 0.0
        var d = 0
        while (d < vd.length) { s += vd(d) * SimilarityOps.srpWeight(pl, d); d += 1 }
        if (BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP) >= 0) acc | (1L << pl) else acc
      }
    }
    val occ = vecs.groupBy(v => bucket(v._2)).map(_._2.length.toLong)
    val candidates = occ.map(c => c * (c - 1) / 2).sum
    val exact = EmbeddingReference.dedupEmbeddingExact(spark, sf).count()
    assert(candidates <= exact + n,
      s"rule-sized buckets produced $candidates candidates (> exact $exact + n $n)")
  }

  test("exact dedup keeps one keeper per distinct text") {
    import spark.implicits._
    val d = Seq((10L, "same text"), (11L, "same text"), (12L, "other"))
      .toDF("doc_id", "text")
    // reuse the md5-groupBy shape directly
    val out = d.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toSet
    assert(out == Set(2L -> 10L, 1L -> 12L))
  }

  test("dup clusters: components, sizes, keepers on a hand graph") {
    import spark.implicits._
    val nodes = (1L to 8L).toDF("doc_id")
    // {1,2,3,4} via a path (exercises multi-hop), {5,6}, singletons 7, 8
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = DedupOps.clustersFromPairs(nodes, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.map(_._1).toSeq == (1L to 8L).toSeq, "one row per node, ordered")
    val byDoc = out.map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    Seq(1L, 2L, 3L, 4L).foreach(d => assert(byDoc(d)._1 == 1L && byDoc(d)._2 == 4L))
    Seq(5L, 6L).foreach(d => assert(byDoc(d)._1 == 5L && byDoc(d)._2 == 2L))
    Seq(7L, 8L).foreach(d => assert(byDoc(d) == ((d, 1L, 1))))
    assert(out.filter(_._4 == 1).map(_._1).toSet == Set(1L, 5L, 7L, 8L), "keepers = component minima")
  }

  test("dup clusters: long chain converges via pointer jumping") {
    import spark.implicits._
    val n = 40L
    val nodes = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = DedupOps.clustersFromPairs(nodes, pairs).collect()
    assert(out.length == n)
    // a 40-node path has diameter 39 >> MaxCcIters; only the jump step's
    // doubling makes the cap reachable
    assert(out.forall(r => r.getLong(1) == 1L && r.getLong(2) == n))
  }

  /** Driver-side reference for the CC helper: min-id label per vertex by
    * relaxing every edge until nothing changes.
    */
  private def refLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val lbl = scala.collection.mutable.Map.empty[Long, Long]
    edges.foreach { case (a, b) => lbl(a) = a; lbl(b) = b }
    var changed = true
    while (changed) {
      changed = false
      edges.foreach { case (a, b) =>
        val m = math.min(lbl(a), lbl(b))
        if (lbl(a) != m || lbl(b) != m) { lbl(a) = m; lbl(b) = m; changed = true }
      }
    }
    lbl.toMap
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("CC helper: random graphs over 1, 4 and 16 pair partitions match a driver-side reference") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    Seq(60, 300).foreach { nv =>
      val pairs = Seq.fill(nv * 9 / 10)((rng.nextInt(nv).toLong, rng.nextInt(nv).toLong))
        .collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
      val expected = refLabels(pairs)
      for (parts <- Seq(1, 4, 16)) {
        val (labels, rounds) = DedupOps.componentLabels(pairs.toDF("doc_a", "doc_b").repartition(parts))
        assert(labelsOf(labels) == expected, s"nv=$nv parts=$parts")
        // one partition holds every edge, so local contraction settles all
        if (parts == 1) assert(rounds == 0, s"nv=$nv: $rounds rounds over one partition")
        if (parts == 16) assert(rounds > 0, s"nv=$nv: residual rounds not exercised")
      }
    }
  }

  test("CC helper: 40-node chain scattered over partitions converges via residual rounds") {
    import spark.implicits._
    val n = 40L
    // round-robin over 16 partitions: consecutive edges never share one, so
    // contraction leaves the whole chain to the residual rounds
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b").repartition(16)
    val (labels, rounds) = DedupOps.componentLabels(pairs)
    assert(labelsOf(labels) == (1L to n).map(_ -> 1L).toMap)
    // path diameter 39 >> MaxCcIters would fail without the pointer jump
    assert(rounds > 0 && rounds <= DedupOps.MaxCcIters, s"rounds=$rounds")
    val out = DedupOps.clustersFromPairs((1L to n).toDF("doc_id"), pairs).collect()
    assert(out.forall(r => r.getLong(1) == 1L && r.getLong(2) == n))
  }

  test("CC helper: pairs pre-partitioned by component skip the rounds") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // sim5's shape: every component's pairs carry its key (the cell) and are
    // shuffled by it, so no vertex spans two pair partitions
    val comps = (0 until 40).map { c =>
      val members = (0 until 2 + rng.nextInt(6)).map(i => c * 100L + i)
      val tree = members.tail.map(v => (members(rng.nextInt(members.indexOf(v))), v))
      val extra = Seq.fill(rng.nextInt(3))((members.head, members.last)).filter(e => e._1 != e._2)
      (tree ++ extra).map { case (a, b) => (c, a, b) }
    }.flatten
    val pairs = comps.toDF("cell", "doc_a", "doc_b").repartition(col("cell")).select("doc_a", "doc_b")
    val (labels, rounds) = DedupOps.componentLabels(pairs)
    assert(rounds == 0, s"pre-partitioned components ran $rounds rounds")
    assert(labelsOf(labels) == refLabels(comps.map(t => (t._2, t._3))))
  }

  test("CC helper: duplicate and reversed edges") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 2L), (5L, 4L), (4L, 5L), (3L, 4L), (4L, 3L),
      (11L, 10L), (10L, 11L), (11L, 10L)).toDF("doc_a", "doc_b").repartition(4)
    val out = DedupOps.clustersFromPairs((1L to 12L).toDF("doc_id"), pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    Seq(1L, 2L).foreach(d => assert(out(d) == ((1L, 2L, if (d == 1L) 1 else 0))))
    Seq(3L, 4L, 5L).foreach(d => assert(out(d) == ((3L, 3L, if (d == 3L) 1 else 0))))
    Seq(10L, 11L).foreach(d => assert(out(d) == ((10L, 2L, if (d == 10L) 1 else 0))))
    Seq(6L, 7L, 8L, 9L, 12L).foreach(d => assert(out(d) == ((d, 1L, 1))))
  }

  test("cluster keeper: longest member wins, exact-dup ties break to min doc_id") {
    import spark.implicits._
    // NOT sequential-suffix tokens (p1..p40): their portable-hash parities
    // are so correlated that unrelated texts land at hamming 0. These two
    // word-salad texts measure hamming 28 apart, and t2 vs t2+" zz" is 0.
    val t1 = "elit amet tempor magna dolor lorem magna sed elit adipiscing magna magna " +
      "incididunt amet elit amet aliqua incididunt lorem dolor consectetur ipsum do lorem " +
      "sed magna incididunt labore incididunt dolore amet tempor sit ipsum amet magna " +
      "adipiscing sed labore do"
    val t2 = "clamor ember jetty clamor flume brisk ember flume clamor flume knight kelp " +
      "brisk grotto kelp kelp zephyr jetty xylem flume grotto harbor jovial harbor jetty " +
      "brisk ember kelp flume flume quartz harbor grotto knight grotto jetty flume xylem " +
      "xylem quartz quartz dusk jetty grotto dusk quartz brisk inlet quartz clamor kelp " +
      "jovial zephyr xylem clamor inlet clamor jetty quartz zephyr"
    val d = Seq(
      (10L, t1), (11L, t1),          // exact dups: equal length -> keeper 10
      (20L, t2), (21L, t2 + " zz"),  // near dups: 21 is one token longer
      (30L, "lone r1 r2 r3 r4"))     // singleton keeps itself
      .toDF("doc_id", "text")
    // precondition: the one-token edit stays within the SimHash pairing gate
    val pairs = DedupOps.dupClustersOf(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs(21L) == 20L, s"fixture drifted: 20/21 not clustered ($pairs)")
    val got = DedupOps.clusterKeeperOf(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = Array(
      (10L, 2L, 10L, 40L),
      (20L, 2L, 21L, 61L),
      (30L, 1L, 30L, 5L))
    assert(got.toSeq == expected.toSeq, s"got=${got.mkString(", ")}")
  }

  test("SemDeDup equals its single-threaded oracle bit-for-bit") {
    // same argument as sim2: fixed-summation-tree k-means + left-to-right
    // dots make the whole semantic index deterministic, so the union-find
    // oracle (different algorithm, same fixpoint) must reproduce every row
    val dist = SimilarityOps.semDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4), r.getDouble(5)))
      .toSeq
    val oracle = graft.pipeline.Oracle.semDedupOracleRows(spark, sf)
    assert(dist == oracle,
      s"diverges: ${dist.zip(oracle).collectFirst { case (d, o) if d != o => s"$d != $o" }}")
    // structural invariants: one keeper per group, every group member shares it
    val byGroup = dist.groupBy(_._3)
    byGroup.foreach { case (g, ms) =>
      assert(ms.count(_._5 == 1) == 1, s"group $g has ${ms.count(_._5 == 1)} keepers")
      assert(ms.map(_._4).distinct == Seq(ms.size.toLong), s"group $g size mismatch")
    }
    assert(byGroup.exists(_._2.size > 1), "fixture too weak: no multi-member semantic group")
  }

  test("sim2/sim5 normalization: one dot per row, below the exchange, never inside the lambda") {
    // inside the transform lambda the norm ran once per ELEMENT (Dim² work
    // per vector); in a Project right above the lambda's, CollapseProject
    // would inline it back
    val df = SimilarityOps.normalized(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val dots = p.linesIterator.filter(_.contains("graft_dot")).toSeq
    assert(dots.size == 1, s"want one graft_dot Project:\n${p.take(2500)}")
    assert(!dots.head.contains("lambdafunction"), s"norm inside the lambda:\n${p.take(2500)}")
    val lines = p.linesIterator.toSeq
    assert(lines.indexWhere(_.contains("Exchange")) < lines.indexWhere(_.contains("graft_dot")),
      s"norm not below the exchange:\n${p.take(2500)}")
  }

  test("hash split: deterministic, row-local, fractions near the permille targets") {
    import spark.implicits._
    val d = (0L until 5000L).map(i => (i, s"src${i % 7}")).toDF("doc_id", "source")
    val a = DomainOps.hashSplitOf(d).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    // rerun on a reshuffled frame: assignments must be identical (row-local)
    val b = DomainOps.hashSplitOf(d.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(a.toSeq == b.toSeq, "split not stable under reshuffle")
    val frac = a.groupBy(_._3).view.mapValues(_.length / 5000.0).toMap
    assert(math.abs(frac("test") - 0.01) < 0.005, s"test frac ${frac("test")}")
    assert(math.abs(frac("val") - 0.05) < 0.012, s"val frac ${frac("val")}")
    assert(frac("train") > 0.92)
    // buckets and thresholds agree
    a.foreach { case (_, bkt, s) =>
      val want = if (bkt < DomainOps.TestPermille) "test"
        else if (bkt < DomainOps.ValPermille) "val" else "train"
      assert(s == want)
    }
  }

  test("BPE-ish pretokenizer: run classes segment as planted, classes sum to the total") {
    import spark.implicits._
    val d = Seq(
      (1L, "Hello world42 foo-bar!!"),   // words: Hello,world,foo,bar; digits: 42; other: -,!!
      (2L, ""), (3L, null.asInstanceOf[String]),
      // vertical tab: Java \s includes \x0B, RE2's does not — the explicit
      // whitespace class in BpeOtherPat keeps both engines from ever
      // classing VT as an "other" run (it separates runs, matches nothing)
      (4L, "a\u000Bb!!"))   // words: a,b; other: !! (VT matches NO class)
      .toDF("doc_id", "text")
    // bpeTokens reads from a dir; drive the same expressions via a temp view? No —
    // exercise through the sf corpus path for plan parity and the planted frame inline:
    val got = d.select(col("doc_id"),
        size(TextOps.tokensOf(col("text"))).as("ws"),
        size(regexp_extract_all(coalesce(col("text"), lit("")), lit(TextOps.BpePat), lit(0))).as("bpe"),
        size(regexp_extract_all(coalesce(col("text"), lit("")), lit(TextOps.BpeWordPat), lit(0))).as("w"),
        size(regexp_extract_all(coalesce(col("text"), lit("")), lit(TextOps.BpeDigitPat), lit(0))).as("dg"),
        size(regexp_extract_all(coalesce(col("text"), lit("")), lit(TextOps.BpeOtherPat), lit(0))).as("o"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
    assert(got.toSeq == Seq((1L, 3, 7, 4, 1, 2), (2L, 0, 0, 0, 0, 0), (3L, 0, 0, 0, 0, 0),
        (4L, 2, 3, 2, 0, 1)),
      s"got=${got.mkString(", ")}")
    // corpus-wide: the three classes always sum to the combined segmentation
    val bad = TextOps.bpeTokens(spark, sf)
      .where(col("n_bpe_tokens") =!= col("n_word_runs") + col("n_digit_runs") + col("n_other_runs"))
      .count()
    assert(bad == 0, s"$bad docs where BPE classes do not sum to the total")
  }

  test("pipe2 and pack1 outputs are invariant to input physical partitioning") {
    // windows partition by data-derived keys (doc_id / bucket), never by
    // physical layout — a repartitioned input must produce identical rows
    val d = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val shuffled = d.repartition(13)
    assert(DedupOps.cutDupSpansOf(d).collect().toSeq ==
      DedupOps.cutDupSpansOf(shuffled).collect().toSeq, "pipe2 layout-dependent")
    assert(PackingOps.sequenceOffsetsOf(d, bucketSize = 16L).collect().toSeq ==
      PackingOps.sequenceOffsetsOf(shuffled, bucketSize = 16L).collect().toSeq,
      "pack1 layout-dependent")
  }

  test("mix plan: kept domains equalize to the smallest kept token budget") {
    import spark.implicits._
    def ok(k: Int, n: Int) = (1 to n / 2).map(i => s"the w${k}x$i").mkString(" ")
    val d = Seq(
      (1L, "good", ok(1, 60)), (2L, "good", ok(2, 60)), (3L, "good", ok(3, 60)),   // 180 kept
      (4L, "big", ok(4, 100)), (5L, "big", ok(5, 100)), (6L, "big", ok(6, 100)),   // 300 kept
      (7L, "spam", "too short a"), (8L, "spam", "too short b"),
      (9L, "spam", "too short c"), (10L, "spam", "too short d"))                   // dropped
      .toDF("doc_id", "source", "text")
    val got = DomainOps.mixPlanOf(d).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getInt(3), r.getLong(4), r.getLong(5)))
    val expected = Array(
      ("big", 300L, 1, 600L, 180L),   // downsampled to the smallest kept budget
      ("good", 180L, 1, 1000L, 180L),
      ("spam", 12L, 0, 0L, 0L))
    assert(got.toSeq == expected.toSeq, s"got=${got.mkString(", ")}")
    // corner: no source survives -> every rate 0 (Spark least() skips nulls;
    // the coalesce-before-least guard keeps both engines at 0)
    val none = DomainOps.mixPlanOf(
        Seq((1L, "x", "too short"), (2L, "y", "way too short")).toDF("doc_id", "source", "text"))
      .collect().map(r => (r.getLong(4), r.getLong(5)))
    assert(none.forall(_ == ((0L, 0L))), s"got=${none.mkString(", ")}")
  }

  test("mix apply: sampled tokens match the bucket rule, dropped sources stay visible") {
    import spark.implicits._
    def ok(k: Int, n: Int) = (1 to n / 2).map(i => s"the w${k}x$i").mkString(" ")
    val d = Seq(
      (1L, "good", ok(1, 60)), (2L, "good", ok(2, 60)), (3L, "good", ok(3, 60)),
      (4L, "big", ok(4, 100)), (5L, "big", ok(5, 100)), (6L, "big", ok(6, 100)),
      (7L, "spam", "too short a"), (8L, "spam", "too short b"),
      (9L, "spam", "too short c"), (10L, "spam", "too short d"))
      .toDF("doc_id", "source", "text")
    val rates = DomainOps.mixPlanOf(d).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    val buckets = DomainOps.hashSplitOf(d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val toks = Map(1L -> 60L, 2L -> 60L, 3L -> 60L, 4L -> 100L, 5L -> 100L,
      6L -> 100L, 7L -> 3L, 8L -> 3L, 9L -> 3L, 10L -> 3L)
    val srcOf = (1L to 10L).map(i => i -> (if (i <= 3) "good" else if (i <= 6) "big" else "spam")).toMap
    val out = DomainOps.applyMixOf(d).collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(out.keySet == Set("good", "big", "spam"), s"sources=${out.keySet}")
    for (src <- Seq("good", "big", "spam")) {
      val docs = (1L to 10L).filter(srcOf(_) == src)
      val keptDocs = docs.filter(i => buckets(i) < rates(src))
      val (rate, est, nIn, nKept, achieved, dev) = out(src)
      assert(rate == rates(src))
      assert(nIn == docs.size, s"$src n_docs_in=$nIn")
      assert(nKept == keptDocs.size, s"$src n_docs_kept=$nKept expected ${keptDocs.size}")
      assert(achieved == keptDocs.map(toks).sum, s"$src achieved=$achieved")
      assert(dev == achieved - est, s"$src dev=$dev")
    }
    // the dropped domain is rate 0: nothing sampled, visible with zeros
    assert(out("spam")._1 == 0L && out("spam")._4 == 0L && out("spam")._5 == 0L)
  }

  test("quality filter: first-failing-rule semantics on planted docs") {
    import spark.implicits._
    val normal = (1 to 30).map(i => s"the word$i").mkString(" ")   // 60 tokens, stopwords, distinct
    val d = Seq(
      (1L, normal),
      (2L, "too short"),                                          // n_tokens < 25
      (3L, Seq.fill(30)("spark engine").mkString(" ")),           // no stopwords -> low_stopword
      (4L, "the " + Seq.fill(40)("xyzzy").mkString(" ")))         // stop ok, distinct 2/41 -> low_distinct
      .toDF("doc_id", "text")
    val out = TextOps.qualityFilterOf(d).collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(6)), r.getInt(7)))).toMap
    assert(out(1L) == ((None, 1)), s"normal doc rejected: ${out(1L)}")
    assert(out(2L) == ((Some("too_short"), 0)))
    assert(out(3L) == ((Some("low_stopword"), 0)))
    assert(out(4L) == ((Some("low_distinct"), 0)))
  }

  test("source stats: planted domains hit both drop axes, boilerplate wins precedence") {
    import spark.implicits._
    // distinct passing texts (60 tokens, stopword-rich, distinct, no dup bigrams)
    def ok(k: Int) = (1 to 30).map(i => s"the w${k}x$i").mkString(" ")
    val d = Seq(
      // good: 3 distinct passing docs -> keep
      (1L, "good", ok(1)), (2L, "good", ok(2)), (3L, "good", ok(3)),
      // mirror: 3 identical passing copies + 1 distinct -> dup_docs=3 of 4 -> boilerplate
      (4L, "mirror", ok(9)), (5L, "mirror", ok(9)), (6L, "mirror", ok(9)), (7L, "mirror", ok(8)),
      // spam: 3 DISTINCT failing docs + 1 passing -> n_kept=1 of 4 -> low_quality
      (8L, "spam", "too short 1"), (9L, "spam", "too short 2"), (10L, "spam", "too short 3"),
      (11L, "spam", ok(5)),
      // both axes fail -> boilerplate checked first
      (12L, "both", "dup short"), (13L, "both", "dup short"), (14L, "both", "dup short"),
      (15L, "both", "other short"))
      .toDF("doc_id", "source", "text")
    val out = DomainOps.sourceStatsOf(d).collect()
      .map(r => r.getString(0) -> r).toMap
    def row(s: String) = {
      val r = out(s)
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getDouble(6), r.getDouble(7), r.getLong(8), Option(r.getString(14)), r.getInt(15))
    }
    //           (n_docs, n_texts, dup_docs, total_tokens, n_kept, kept_frac, dup_frac, n_too_short, drop, keep)
    assert(row("good") == ((3L, 3L, 0L, 180L, 3L, 1.0, 0.0, 0L, None, 1)), s"good=${row("good")}")
    assert(row("mirror") == ((4L, 2L, 3L, 240L, 4L, 1.0, 0.75, 0L, Some("boilerplate"), 0)), s"mirror=${row("mirror")}")
    assert(row("spam") == ((4L, 4L, 0L, 69L, 1L, 0.25, 0.0, 3L, Some("low_quality"), 0)), s"spam=${row("spam")}")
    assert(row("both") == ((4L, 2L, 3L, 8L, 0L, 0.0, 0.75, 4L, Some("boilerplate"), 0)), s"both=${row("both")}")
  }

  test("decontamination: planted eval overlap counted per gram position, eval docs excluded") {
    import spark.implicits._
    val e = (1 to 12).map(i => s"e$i")                 // eval doc: grams (e1..e8)..(e5..e12)
    val d = Seq(
      (97L, e.mkString(" ")),                          // eval (97 % 97 == 0)
      (194L, (1 to 9).map(i => s"f$i").mkString(" ")), // second eval doc
      // train doc embedding e2..e11: grams 3..5 of 6 collide with eval
      (10L, (Seq("x1", "x2") ++ e.slice(1, 11) ++ Seq("y1")).mkString(" ")),
      (11L, (1 to 10).map(i => s"c$i").mkString(" ")), // clean, 3 grams
      (12L, "a b c d e"),                              // short: zero grams
      (13L, ""), (14L, null.asInstanceOf[String]))     // total: empty/null stay
      .toDF("doc_id", "text")
    val got = ContaminationOps.decontaminateOf(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(5)))
    val expected = Array(
      (10L, 13L, 6L, 3L, 0.5, 1),
      (11L, 10L, 3L, 0L, 0.0, 0),
      (12L, 5L, 0L, 0L, 0.0, 0),
      (13L, 0L, 0L, 0L, 0.0, 0),
      (14L, 0L, 0L, 0L, 0.0, 0))
    assert(got.toSeq == expected.toSeq, s"got=${got.mkString(", ")}")
  }

  test("pipe4 composition is consistent with every standalone stage operator") {
    import spark.implicits._
    val out = PipelineOps.trainingCorpus(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    val ids = out.map(_._1).toSet
    // stage 1+1b: every survivor passed qf1's gate and is not an eval doc
    val keepIds = TextOps.qualityFilter(spark, sf).where(col("keep") === 1)
      .select("doc_id").as[Long].collect().toSet
    assert(ids.subsetOf(keepIds), s"non-quality doc in pipe4: ${(ids -- keepIds).take(3)}")
    assert(ids.forall(_ % ContaminationOps.EvalMod != 0))
    // stage 2: survivors carry pairwise-distinct texts (exact dedup held)
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id").isin(ids.toSeq: _*))
      .select(md5(col("text"))).as[String].collect()
    assert(texts.length == texts.distinct.length, "duplicate text survived pipe4")
    // stage 3: ctn1 agrees every survivor is clean
    val contaminatedIds = ContaminationOps.decontaminate(spark, sf)
      .where(col("contaminated") === 1).select("doc_id").as[Long].collect().toSet
    assert(ids.intersect(contaminatedIds).isEmpty,
      s"contaminated doc survived: ${ids.intersect(contaminatedIds).take(3)}")
    // stage 5: offsets are the sequential fold of the surviving rows
    var run = 0L
    out.sortBy(_._1).foreach { case (id, _, n, off, seqId, offIn) =>
      assert(off == run, s"doc $id offset $off != fold $run")
      assert(seqId == off / PackingOps.SeqLen && offIn == off % PackingOps.SeqLen)
      run += n
    }
  }

  test("phash banded pairs equal the brute-force Hamming scan (pigeonhole exactness)") {
    import spark.implicits._
    import graft.kernel.{Image, Phash}
    import graft.pipeline.GenData
    val got = MultimodalOps.imagePhashBandedPairs(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // independent sequential path: decode + hash every image in plain Scala,
    // brute-force ALL pairs (the in-JVM twin of the driver's DuckDB oracle)
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").as[Long].collect().sorted
    val hashes = ids.map { id =>
      val px = Image.decode(GenData.hammingDupImagePayload(GenData.DefaultSeed, s"hdup-doc-$id"))
      val luma = Image.gray(if (px.channels == 1) Image.grayToRgb(px) else px)
      (s"hdup-doc-$id", Phash.hash(luma, px.width, px.height))
    }.sortBy(_._1)
    val brute = (for {
      i <- hashes.indices; j <- i + 1 until hashes.length
      d = java.lang.Long.bitCount(hashes(i)._2 ^ hashes(j)._2)
      if d <= MultimodalOps.MaxImageHamming
    } yield (hashes(i)._1, hashes(j)._1, d.toLong)).toSet
    assert(got == brute,
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    // the corpus exercises both pair classes: exact collisions (containers,
    // re-exposure, the generator's own scene-space dups) and inexact
    // lossy-JPEG drifters strictly inside the radius
    assert(got.exists(_._3 == 0L) && got.exists(_._3 > 0L))
  }

  test("bloom decontamination reproduces ctn1 row-for-row on the hand frame and the sf corpus") {
    import spark.implicits._
    val e = (1 to 12).map(i => s"e$i")
    val d = Seq(
      (97L, e.mkString(" ")),
      (194L, (1 to 9).map(i => s"f$i").mkString(" ")),
      (10L, (Seq("x1", "x2") ++ e.slice(1, 11) ++ Seq("y1")).mkString(" ")),
      (11L, (1 to 10).map(i => s"c$i").mkString(" ")),
      (12L, "a b c d e"),
      (13L, ""), (14L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    implicit val s: org.apache.spark.sql.SparkSession = spark
    assert(ContaminationOps.decontaminateBloomOf(d).collect().toSeq ==
      ContaminationOps.decontaminateOf(d).collect().toSeq)
    val sfd = spark.read.parquet(s"$sf/documents.parquet")
    assert(ContaminationOps.decontaminateBloomOf(sfd).collect().toSeq ==
      ContaminationOps.decontaminateOf(sfd).collect().toSeq)
  }

  test("sequence packing: two-level prefix sum equals the sequential cumsum across buckets") {
    import spark.implicits._
    // bucketSize=4 forces multiple buckets; sparse ids + an empty doc
    val d = Seq(
      (0L, "a b c"), (1L, "d e"), (2L, null.asInstanceOf[String]), (3L, ""),
      (5L, (1 to 2050).map(i => s"t$i").mkString(" ")),// bucket 1: crosses a seq boundary
      (7L, "x"), (8L, "y z"), (12L, "w"))              // buckets 1, 2, 3
      .toDF("doc_id", "text")
    val got = PackingOps.sequenceOffsetsOf(d, bucketSize = 4L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // sequential recompute; null text counts 0 (the inline-split form read -1
    // and shifted every later offset — caught in review, pinned here)
    val toks = Seq(0L -> 3L, 1L -> 2L, 2L -> 0L, 3L -> 0L, 5L -> 2050L, 7L -> 1L, 8L -> 2L, 12L -> 1L)
    var off = 0L
    val expected = toks.map { case (id, n) =>
      val r = (id, n, off, off / PackingOps.SeqLen, off % PackingOps.SeqLen)
      off += n
      r
    }
    assert(got.toSeq == expected, s"got=${got.mkString(", ")}")
    // the boundary-crossing doc starts in seq 0; its successor starts in seq 1
    assert(got.find(_._1 == 7L).get._4 == 1L)
  }

  test("sequence packing: sf corpus offsets equal the naive sequential fold") {
    val got = PackingOps.sequenceOffsetsOf(
      spark.read.parquet(s"$sf/documents.parquet"), bucketSize = 16L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var off = 0L
    got.sortBy(_._1).foreach { case (id, n, o) =>
      assert(o == off, s"doc $id: offset $o != sequential $off")
      off += n
    }
  }

  test("sequence manifest: per-sequence doc/boundary/fill counts on a boundary-crossing corpus") {
    import spark.implicits._
    // same planted corpus as the pack1 fixture: doc 5 (2050 tokens at offset
    // 5) crosses the seq-0/seq-1 boundary; empty/null docs place no tokens
    val d = Seq(
      (0L, "a b c"), (1L, "d e"), (2L, null.asInstanceOf[String]), (3L, ""),
      (5L, (1 to 2050).map(i => s"t$i").mkString(" ")),
      (7L, "x"), (8L, "y z"), (12L, "w"))
      .toDF("doc_id", "text")
    val got = PackingOps.sequenceManifestOf(d, bucketSize = 4L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // seq 0: docs 0,1,5 all START here (3+2+2043 = 2048 tokens, full);
    // seq 1: doc 5 spills in (7 tokens), docs 7,8,12 start here (1+2+1)
    val expected = Seq(
      (0L, 3L, 3L, 0L, 5L, 2048L),
      (1L, 4L, 3L, 5L, 12L, 11L))
    assert(got.toSeq == expected, s"got=${got.mkString(", ")}")
  }

  test("sequence manifest: sf corpus conserves tokens and fills every non-final sequence") {
    val d = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val rows = PackingOps.sequenceManifestOf(d, bucketSize = 16L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    val offs = PackingOps.sequenceOffsetsOf(d, bucketSize = 16L).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    val totalTokens = offs.map(_._1).sum
    assert(rows.map(_._4).sum == totalTokens, "manifest loses or double-counts tokens")
    assert(rows.map(_._3).sum == offs.count(_._1 > 0), "n_starts must count non-empty docs once")
    val lastSeq = rows.map(_._1).max
    rows.filter(_._1 != lastSeq).foreach { case (sid, _, _, filled) =>
      assert(filled == PackingOps.SeqLen, s"seq $sid not full: $filled")
    }
    // seq ids are dense from 0 (every window with tokens appears exactly once)
    assert(rows.map(_._1).sorted.toSeq == (0L to lastSeq).toSeq, "seq ids not dense")
  }

  test("length percentiles: ceiling-rank semantics on planted histograms") {
    import spark.implicits._
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val d = (1 to 10).map(i => (i.toLong, "s", words(i))) ++      // lengths 1..10
      Seq((11L, "t", words(2)), (12L, "t", words(2)),
        (13L, "t", words(2)), (14L, "t", words(4)))               // ties: 2,2,2,4
    val got = DomainOps.lengthPercentilesOf(d.toDF("doc_id", "source", "text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // s: n=10 -> p50 = smallest len with cum >= 5 -> 5; p90 -> 9; p99 -> 10
    // t: n=4, hist {2:3, 4:1} -> p50: cum(2)=3, 300 >= 200 -> 2;
    //    p90: 300 < 360 -> 4; p99: 300 < 396 -> 4
    val expected = Seq(
      ("s", 10L, 1L, 5L, 9L, 10L, 10L),
      ("t", 4L, 2L, 2L, 4L, 4L, 4L))
    assert(got.toSeq == expected, s"got=${got.mkString(", ")}")
  }

  test("eval contamination: distinct hit grams and train-doc blast radius per eval item") {
    import spark.implicits._
    val e = (1 to 12).map(i => s"e$i")
    val d = Seq(
      (97L, e.mkString(" ")),                          // eval: 5 grams e1..e12
      (194L, (1 to 9).map(i => s"f$i").mkString(" ")), // eval: 2 grams, clean
      (291L, "a b"),                                   // eval: too short, zero grams
      (388L, ""),                                      // eval: empty stays visible
      // train doc sharing grams (e2..e9),(e3..e10),(e4..e11) with eval 97
      (10L, (Seq("x1", "x2") ++ e.slice(1, 11) ++ Seq("y1")).mkString(" ")),
      (15L, e.slice(1, 9).mkString(" ")),              // exactly gram e2..e9 again
      (11L, (1 to 10).map(i => s"c$i").mkString(" "))) // clean train doc
      .toDF("doc_id", "text")
    val got = ContaminationOps.evalContaminationOf(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getInt(6)))
    // eval 97: 3 distinct grams hit (e2..e9 hit by BOTH train docs counts
    // once), 2 distinct colliding train docs
    val expected = Seq(
      (97L, 5L, 5L, 3L, 2L, 0.6, 1),
      (194L, 2L, 2L, 0L, 0L, 0.0, 0),
      (291L, 0L, 0L, 0L, 0L, 0.0, 0),
      (388L, 0L, 0L, 0L, 0L, 0.0, 0))
    assert(got.toSeq == expected, s"got=${got.mkString(", ")}")
  }

  test("top terms: per-source rank, lift, and term-ascending tie-break") {
    import spark.implicits._
    // corpus: x4 y3 z3 a1 b1, total 12; s total 7, u total 3, v total 2
    val d = Seq(("s", "x x x y z"), ("s", "y x"), ("u", "z z y"), ("u", ""),
      ("v", "a b")).toDF("source", "text")
    val got = VocabOps.topTermsOf(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    // lift = (tf/src_total)/(corpus_tf/corpus_total); v's a/b tie on tf=1 and
    // break by term ascending
    val expected = Seq(
      ("s", 1L, "x", 4L, 7L, 4L, 1.7143), ("s", 2L, "y", 2L, 7L, 3L, 1.1429),
      ("s", 3L, "z", 1L, 7L, 3L, 0.5714),
      ("u", 1L, "z", 2L, 3L, 3L, 2.6667), ("u", 2L, "y", 1L, 3L, 3L, 1.3333),
      ("v", 1L, "a", 1L, 2L, 1L, 6.0), ("v", 2L, "b", 1L, 2L, 1L, 6.0))
    assert(got.toSeq == expected, s"got=${got.mkString(", ")}")
  }

  test("unigram logprob: add-one model scores match direct math; empty docs total") {
    import spark.implicits._
    // vocab a:2 b:2 c:1 -> T=5, V=3; p(a)=p(b)=3/8, p(c)=2/8
    val d = Seq((1L, "a a b"), (2L, "b c"), (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lpA = math.log(3.0 / 8.0); val lpC = math.log(2.0 / 8.0)
    val nll1 = -(3 * lpA) / 3; val nll2 = -(lpA + lpC) / 2
    val got = VocabOps.unigramLogprobOf(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val expected = Seq(
      (1L, 3L, r4(nll1), r4(math.exp(nll1))),
      (2L, 2L, r4(nll2), r4(math.exp(nll2))),
      (3L, 0L, 0.0, 1.0), (4L, 0L, 0.0, 1.0))
    assert(got.toSeq == expected, s"got=${got.mkString(", ")}")
  }

  test("quality filter: null text behaves as empty text (cross-engine contract)") {
    import spark.implicits._
    // without the tokensOf coalesce guard, Spark's size(null) = -1 while
    // DuckDB's len(NULL) = NULL — null-text rows would silently diverge
    val d = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "   "))
      .toDF("doc_id", "text")
    TextOps.qualityFilterOf(d).collect().foreach { r =>
      assert(r.getInt(1) == 0, s"n_tokens for doc ${r.getLong(0)}")
      assert(r.getString(6) == "too_short" && r.getInt(7) == 0)
    }
  }

  test("event funnel: strict ordering of view -> click -> purchase") {
    import spark.implicits._
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000L)
    val e = Seq(
      // user 1: full ordered funnel
      (1L, 1L, ts(10), "view"), (2L, 1L, ts(20), "click"), (3L, 1L, ts(30), "purchase"),
      // user 2: click BEFORE the view never counts; purchase without valid click -> depth 1
      (4L, 2L, ts(10), "click"), (5L, 2L, ts(20), "view"), (6L, 2L, ts(30), "purchase"),
      // user 3: purchase before the valid click -> depth 2
      (7L, 3L, ts(10), "view"), (8L, 3L, ts(15), "purchase"), (9L, 3L, ts(20), "click"),
      // user 4: no view at all
      (10L, 4L, ts(10), "click"), (11L, 4L, ts(20), "error"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = RelationalOps.eventFunnelOf(e).collect()
      .map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(out == Map(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 0), s"got $out")
  }
}
