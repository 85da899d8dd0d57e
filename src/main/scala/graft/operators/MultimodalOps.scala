package graft.operators

import graft.sources.Tables
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit}
import graft.kernel.{Bitmap, Detect, Image, Order, Payload, Resize}
import graft.pipeline.GenData

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, synthesized and decoded per row — exactly how a
  * Pandas-UDF/`mapInPandas` decode stage sits in this plan on a cluster.
  * Every mm query is [[decoded]] plus its own tail.
  *
  * Two decode paths, both real:
  *  - mm1 decodes the ENGINE's tensor payload codec (graft.kernel.Payload —
  *    the serialized neural-stage output this engine's whole extraction
  *    pipeline runs on);
  *  - mm2 decodes actual IMAGE FILE FORMATS byte-by-byte (24-bit BMP,
  *    binary PGM/PPM, zlib-compressed PNG, and baseline JPEG —
  *    graft.kernel.Image/Jpeg, pure JVM, no codec libs needed), mirroring
  *    the reference's decode surface (`cv2.imdecode` + GRAY→3-channel +
  *    channel flip, /root/reference/cnstd/ppocr/img_operators.py:27-59),
  *    then runs the STD detection kernel over the decoded luma.
  */
object MultimodalOps {

  final case class MediaRow(media_ref: String, payload: Array[Byte])
  final case class MediaMeta(media_ref: String, stage: Int, width: Int, height: Int,
                             n_bytes: Int, n_regions: Int)
  final case class ImageMeta(media_ref: String, format: String, width: Int, height: Int,
                             channels: Int, n_bytes: Int, pix_hash: Long, n_regions: Int)

  /** Decode the engine's tensor payload codec
    * (/root/reference/cnstd/model/core.py:110-121's prob-map / candidate
    * tensors as bytes) and count extracted regions.
    */
  private def decodeMeta(r: MediaRow): MediaMeta = {
    val d = Payload.decode(r.payload)
    MediaMeta(r.media_ref, d.stage, d.width, d.height, r.payload.length,
      Detect.extract(r.payload).length)
  }

  /** Portable polynomial rolling hash over the decoded luma plane (same
    * B1/M1 family as the text fingerprints): a value check that the PIXELS —
    * not just the dimensions — survived the format round trip.
    */
  private def pixHash(gray: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < gray.length) {
      acc = fold(acc, gray(i) & 0xff)
      i += 1
    }
    acc
  }

  /** One step of the B1/M1 polynomial digest every mm kernel folds. */
  private def fold(acc: Long, v: Long): Long = (acc * DedupOps.HashB1 + v) % DedupOps.HashM1

  /** Box corners folded in (x0, y0, x1, y1) order, each shifted by one. */
  private def foldBox(acc: Long, x0: Int, y0: Int, x1: Int, y1: Int): Long =
    fold(fold(fold(fold(acc, x0 + 1), y0 + 1), x1 + 1), y1 + 1)

  /** Luma of a decoded image, expanding gray to 3 channels first (the
    * reference's GRAY2BGR branch).
    */
  private def lumaOf(px: Image.Pixmap): Array[Byte] =
    Image.gray(if (px.channels == 1) Image.grayToRgb(px) else px)

  /** Parse a real raster file (BMP/PGM/PPM), expand gray to 3 channels
    * (the reference's GRAY2BGR branch), take the luma back out, and run the
    * STD detection kernel over it as a probability map — the full
    * bytes→pixels→regions path on genuinely decoded data.
    */
  private def decodeImageMeta(r: MediaRow): ImageMeta = {
    val px = Image.decode(r.payload)
    val luma = lumaOf(px)
    // the full STD tail including the sort+dedup finalize — identical to what
    // extract() runs on a tensor payload of the same cells (ImageSpec parity)
    val regions = Order.finalize(Detect.std(luma, 0, px.width, px.height))
    ImageMeta(r.media_ref, px.format, px.width, px.height, px.channels,
      r.payload.length, pixHash(luma), regions.length)
  }

  final case class ImageDetectRow(media_ref: String, width: Int, height: Int,
                                  rw: Int, rh: Int, n_regions: Int,
                                  box_digest: Long, sum_area: Long)

  /** mm3 kernel: the reference's full preprocessing surface on genuinely
    * decoded pixels — decode (any supported format) → luma → detResizeType0
    * resize_long to 160 with /32 calibration (P2/P4,
    * /root/reference/cnstd/ppocr/img_operators.py:282-302 semantics via
    * kernel/Resize) → bilinear resample (P1's cv2.INTER_LINEAR analog) →
    * STD detection on the RESIZED map → P7 coordinate de-normalization of
    * every detected box back to source pixel space (divide by the per-axis
    * ratio, round, clip — /root/reference/cnstd/cn_std.py:316-323). The
    * de-normalized boxes are folded into a portable polynomial digest so the
    * oracle checks the COORDINATES, not just counts.
    */
  private def detectOnImage(r: MediaRow): ImageDetectRow = {
    val px = Image.decode(r.payload)
    val luma = lumaOf(px)
    val (rh, rw, ratioH, ratioW) = Resize.detResizeType0(px.height, px.width, 160, "resize_long")
    val resized = Resize.bilinear(Resize.Img(luma, px.width, px.height), rw, rh)
    val regions = Order.finalize(Detect.std(resized.cells, 0, rw, rh))
    def clip(v: Double, hi: Int): Int = math.max(0, math.min(hi, math.rint(v).toInt))
    var digest = 0L
    var area = 0L
    regions.foreach { g =>
      val x0 = clip(g.x0 / ratioW, px.width - 1)
      val y0 = clip(g.y0 / ratioH, px.height - 1)
      val x1 = clip(g.x1 / ratioW, px.width - 1)
      val y1 = clip(g.y1 / ratioH, px.height - 1)
      digest = foldBox(digest, x0, y0, x1, y1)
      area += (x1 - x0 + 1).toLong * (y1 - y0 + 1).toLong
    }
    ImageDetectRow(r.media_ref, px.width, px.height, rw, rh, regions.length, digest, area)
  }

  final case class StageDetectRow(media_ref: String, stage: Int, width: Int, height: Int,
                                  n_cands: Int, n_regions: Int, kind_digest: Long,
                                  box_digest: Long, sum_area: Long)

  /** Deterministic candidate proposer standing in for the YOLO forward pass
    * over decoded pixels (the north rule's replacement for the MFD/layout
    * neural heads, /root/reference/cnstd/yolov7/layout_analyzer.py:283-330):
    * connected components of the binarized luma become cxcywh candidates,
    * conf = the component box's luma rect-mean (the same scorer the STD tail
    * uses), cls = portable geometry hash into the stage vocabulary (layout
    * skips class 0 — the reference's background class is never emitted).
    * Everything downstream of the proposal IS the reference tail:
    * Detect.yolo's conf filter → per-class NMS → caps → reversal → margin
    * expand → clip, then Order.finalize.
    */
  private def proposeCandidates(stage: Int, luma: Array[Byte], w: Int, h: Int): Seq[Payload.Candidate] = {
    val bits = Bitmap.thresholdBits(luma, 0, w * h, graft.schema.Params.BinThresh)
    val comps = Bitmap.connectedComponents(bits, w, h, graft.schema.Params.MaxCandidates)
    val nCls = graft.schema.Vocab.categories(stage).length
    comps.map { c =>
      val conf = Bitmap.rectMean(luma, 0, w, h, c.xMin, c.yMin, c.xMax, c.yMax)
      val g = foldBox(0L, c.xMin, c.yMin, c.xMax, c.yMax)
      val cls =
        if (stage == graft.schema.Vocab.StageLayout) 1 + (g % (nCls - 1)).toInt
        else (g % nCls).toInt
      Payload.Candidate(cls,
        (c.xMin + c.xMax + 1) / 2.0f, (c.yMin + c.yMax + 1) / 2.0f,
        (c.xMax - c.xMin + 1).toFloat, (c.yMax - c.yMin + 1).toFloat,
        conf.toFloat)
    }
  }

  /** mm5 kernel: decode once, then run ALL THREE stage tails on the decoded
    * pixels — STD directly on the luma, MFD and layout via [[proposeCandidates]]
    * + Detect.yolo. Digests fold the emitted kinds and coordinates so the
    * oracle checks order, vocabulary, and geometry, not just counts.
    */
  private def detectStages(r: MediaRow): Seq[StageDetectRow] = {
    val px = Image.decode(r.payload)
    val luma = lumaOf(px)
    Seq(graft.schema.Vocab.StageStd, graft.schema.Vocab.StageMfd,
        graft.schema.Vocab.StageLayout).map { stage =>
      val (nCands, regions) =
        if (stage == graft.schema.Vocab.StageStd)
          (0, Order.finalize(Detect.std(luma, 0, px.width, px.height)))
        else {
          val cands = proposeCandidates(stage, luma, px.width, px.height)
          (cands.length, Order.finalize(Detect.yolo(stage, px.width, px.height, cands)))
        }
      var kd = 0L
      var bd = 0L
      var area = 0L
      regions.foreach { g =>
        g.kind.foreach(ch => kd = fold(kd, ch))
        bd = foldBox(bd, g.x0, g.y0, g.x1, g.y1)
        area += (g.x1 - g.x0 + 1).toLong * (g.y1 - g.y0 + 1).toLong
      }
      StageDetectRow(r.media_ref, stage, px.width, px.height, nCands,
        regions.length, kd, bd, area)
    }
  }

  final case class QuarantineRow(media_ref: String, status: String, err_kind: String,
                                 format: String, width: Int, height: Int,
                                 pix_hash: Long, n_bytes: Int)

  /** Total per-record decode: a bad byte stream yields a quarantined row
    * (stable error class, no pixels), never a task failure — the semantics
    * a 10^12-document ingestion stage must have, since at that scale some
    * corrupt payloads are a certainty, and one of them must not be able to
    * kill a 1000-executor job on its 4th retry.
    */
  private def quarantineMeta(r: MediaRow): QuarantineRow =
    Image.decodeSafe(r.payload) match {
      case Right(px) =>
        QuarantineRow(r.media_ref, "ok", "", px.format, px.width, px.height,
          pixHash(lumaOf(px)), r.payload.length)
      case Left(f) =>
        QuarantineRow(r.media_ref, "quarantined", f.kind, "", -1, -1, 0L, r.payload.length)
    }

  /** Side parquet holding the sequential (driver-computed) metadata oracle. */
  def oracleTable(dir: String, n: Long): String = OracleSide.path("mm1_oracle_meta", dir, n)

  def quarantineOracleTable(dir: String, n: Long): String = OracleSide.path("mm4_oracle_quar", dir, n)

  def imageOracleTable(dir: String, n: Long): String = OracleSide.path("mm2_oracle_img", dir, n)

  def imageDetectOracleTable(dir: String, n: Long): String = OracleSide.path("mm3_oracle_det", dir, n)

  /** One mm query's input and kernel: refs are `prefix` + doc_id, each ref's
    * payload is `payloadOf(ref)`, and `decode` turns one payload into output
    * rows. The operator ([[decoded]]) and the sequential oracle
    * (pipeline.Oracle.mmRows) both run from the same value, so they cannot
    * drift apart.
    */
  final case class MmSource[R](prefix: String, payloadOf: String => Array[Byte],
                               decode: MediaRow => Seq[R]) {
    def rows(ref: String): Seq[R] = decode(MediaRow(ref, payloadOf(ref)))
  }

  val MetaSource = MmSource("m-doc-", GenData.payload(GenData.DefaultSeed, _),
    r => Seq(decodeMeta(r)))
  val ImageSource = MmSource("img-doc-", GenData.imagePayload(GenData.DefaultSeed, _),
    r => Seq(decodeImageMeta(r)))
  val DetectSource = MmSource("img-doc-", GenData.imagePayload(GenData.DefaultSeed, _),
    r => Seq(detectOnImage(r)))
  val QuarantineSource = MmSource("mix-doc-", GenData.mixedPayload(GenData.DefaultSeed, _),
    r => Seq(quarantineMeta(r)))
  val StagesSource = MmSource("img-doc-", GenData.imagePayload(GenData.DefaultSeed, _),
    detectStages)
  val PhashSource = MmSource("pdup-doc-", GenData.nearDupImagePayload(GenData.DefaultSeed, _),
    r => Seq(phashRow(r)))
  val PhashBitsSource = MmSource("hdup-doc-", GenData.hammingDupImagePayload(GenData.DefaultSeed, _),
    r => Seq(phashBitsRow(r)))

  /** The refs of `src` over the documents table of `dir`. */
  def refs(spark: SparkSession, dir: String, src: MmSource[_]): Dataset[String] = {
    import spark.implicits._
    Tables.docs(spark, dir)
      .select(concat(lit(src.prefix), $"doc_id").as("media_ref"))
      .as[String]
  }

  /** The one mm query shape: spread the NARROW refs, then synthesize and
    * decode each payload, so only ref strings shuffle. `spread` is
    * [[byRef]] for the map-only queries that end in `sortWithinPartitions`
    * (a final orderBy's range sampler re-ran the decode), `Par.spread` for
    * the tails that reshuffle anyway (window, band join).
    */
  private def decoded[R <: Product : TypeTag](spark: SparkSession, dir: String, src: MmSource[R],
      spread: Dataset[String] => Dataset[String]): DataFrame = {
    import spark.implicits._
    spread(refs(spark, dir, src)).flatMap(src.rows).toDF()
  }

  private def byRef(refs: Dataset[String]): Dataset[String] = Par.rangeSpread(refs, col("media_ref"))

  /** mm1: attach a synthetic binary payload to every document row and
    * extract typed metadata + region counts, value-checked against the
    * sequential driver-side oracle.
    */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    decoded(spark, dir, MetaSource, byRef)
      .sortWithinPartitions("media_ref")

  /** mm2: the same plumbing over REAL image-format payloads (BMP/PGM/PPM
    * bytes generated per ref), decoded by the pure-JVM parser and value-
    * checked — dimensions, channel count, a luma-plane hash, and the region
    * count the detection kernel finds on the decoded pixels — against a
    * sequential driver-side oracle, like mm1.
    */
  def imageMeta(spark: SparkSession, dir: String): DataFrame =
    decoded(spark, dir, ImageSource, byRef)
      .sortWithinPartitions("media_ref")

  /** mm3: real decode + resize policy + detection + coordinate
    * de-normalization per image, distributed via the same plumbing and
    * value-checked (dims, resized dims, region count, box-coordinate digest,
    * total area) against a sequential driver-side oracle.
    */
  def imageDetect(spark: SparkSession, dir: String): DataFrame =
    decoded(spark, dir, DetectSource, byRef)
      .sortWithinPartitions("media_ref")

  def stageDetectOracleTable(dir: String, n: Long): String = OracleSide.path("mm5_oracle_stages", dir, n)

  /** mm5: every detection stage the reference runs — STD, MFD, and layout —
    * driven over GENUINELY DECODED pixels (any supported raster format), one
    * output row per (image, stage), via the same plumbing and a sequential
    * driver-side oracle. This closes the coverage gap where the YOLO tails
    * only ever saw synthetic candidate payloads (x1–x4) while real bytes
    * only ever reached the STD tail (mm3).
    */
  def imageDetectStages(spark: SparkSession, dir: String): DataFrame =
    decoded(spark, dir, StagesSource, byRef)
      .sortWithinPartitions("media_ref", "stage")

  final case class PhashRow(media_ref: String, format: String, width: Int,
                            height: Int, phash: String, pix_hash: Long)

  /** Decode to luma via the mm2 path and fingerprint with the DCT
    * perceptual hash (graft.kernel.Phash).
    */
  private def phashRow(r: MediaRow): PhashRow = {
    val px = Image.decode(r.payload)
    val luma = lumaOf(px)
    PhashRow(r.media_ref, px.format, px.width, px.height,
      graft.kernel.Phash.hex(graft.kernel.Phash.hash(luma, px.width, px.height)),
      pixHash(luma))
  }

  def phashOracleTable(dir: String, n: Long): String = OracleSide.path("mm6_oracle_phash", dir, n)

  /** mm6: perceptual-hash image near-dup detection — the multimodal mirror
    * of dd1's exact text dedup. The corpus (GenData.nearDupImagePayload)
    * plants the two dup classes a crawl actually serves: the same picture
    * re-encoded in a different lossless container (bytes completely
    * different, `pix_hash` equal) and a +1 re-exposure (bytes AND pixels
    * different) — both land on the SAME `phash` by Phash's integer-mean
    * construction, and distinct scenes don't. Per image: decoded dims +
    * format, the perceptual hash, the byte-level pixel hash, and the dedup
    * verdict over the phash group (`n_same`, keeper = min ref, `is_dup`).
    *
    * Scale shape: decode + hash ride the [[decoded]] plumbing (CPU-dense,
    * spread BEFORE synth); the dedup verdict is one window over
    * the HIGH-cardinality phash key — one shuffle, no join, no skew (a
    * pathological all-same-image corpus would hot-key exactly like dd1's
    * exact-dup groupBy and gets the same salting answer). The driver-side
    * oracle recomputes every row sequentially; the oracle SQL re-derives
    * the group verdicts in DuckDB from the side table's per-image rows, so
    * the window semantics are value-checked cross-engine too.
    */
  def imagePhashDupes(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{count, min, when}
    val rows = decoded(spark, dir, PhashSource, Par.spread[String])
    val w = Window.partitionBy("phash")
    rows
      .withColumn("n_same", count(lit(1)).over(w))
      .withColumn("keeper", min(col("media_ref")).over(w))
      .withColumn("is_dup", when(col("media_ref") === col("keeper"), 0L).otherwise(1L))
      .orderBy("media_ref")
  }

  final case class PhashBitsRow(media_ref: String, phash_bits: Long)

  private def phashBitsRow(r: MediaRow): PhashBitsRow = {
    val px = Image.decode(r.payload)
    PhashBitsRow(r.media_ref, graft.kernel.Phash.hash(lumaOf(px), px.width, px.height))
  }

  /** Bands for mm7's Hamming-banded phash join: 8 bands × 8 bits over the
    * 63-bit hash. Pigeonhole makes the banding EXACT for any radius ≤ 7
    * (bands − 1): that few differing bits cannot touch all 8 bands, so every
    * qualifying pair shares at least one full band — candidate generation
    * provably misses nothing, and the oracle can brute-force the same set.
    * [[MaxImageHamming]] is tuned INSIDE that window: the planted lossy-JPEG
    * drift is ≤ 2 bits at the fixed seed (PhashSpec pins it) and radius 4
    * keeps 2× margin over it. Distinct scenes CAN still meet inside any
    * radius (perceptual hashing's inherent fp class — this corpus has a
    * 4-bit cross-scene pair, and the scene generator itself repeats a scene
    * across groups, a true dup); the gate is therefore exact equality with
    * the brute-force Hamming scan, not a group-structure prediction.
    */
  final val HammingBands = 8
  final val MaxImageHamming: Int = 4

  def phashBandedOracleTable(dir: String, n: Long): String =
    OracleSide.path("mm7_oracle_phash_bits", dir, n)

  /** mm7: Hamming-banded perceptual near-dup pairs — the multimodal mirror of
    * dd4's SimHash banding, and the scale path mm6's scaladoc promises for
    * the LOSSY dup class: the corpus (GenData.hammingDupImagePayload) plants
    * groups of four where three variants collide on the phash exactly (mm6's
    * classes) and the fourth is a baseline-JPEG round trip of the same scene
    * — per-block requantization moves decoded pixels slightly, so its hash
    * lands a few bits off and exact grouping structurally misses it. Banding
    * (one explode into [[HammingBands]] compact band keys, bucket self-join
    * on the high-cardinality key, `ref_a < ref_b`, distinct, exact
    * `bit_count(xor)` verify) recovers every pair at Hamming ≤
    * [[MaxImageHamming]] — EXACTLY, by the pigeonhole argument above, which
    * is what lets DuckDB value-check the output as a brute-force all-pairs
    * scan over the side table. Never all-pairs on the Spark side: candidates
    * are bounded by bucket occupancy (64 * 256 buckets here; a pathological
    * single-scene corpus hot-keys like dd1 and gets the same salting answer).
    */
  def imagePhashBandedPairs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{array, bit_count, explode, shiftrightunsigned}
    // materialize the decoded hashes ONCE: the band self-join's broadcast
    // build side re-ran the whole synth+decode+phash pipeline before (a
    // BroadcastExchange over an identical subtree is never reused against
    // the probe side — verified in the round-6 before-plan: two full
    // Scan->Exchange->MapPartitions chains)
    val rows = decoded(spark, dir, PhashBitsSource, Par.spread[String])
      .localCheckpoint()
    val keys = (0 until HammingBands).map(b =>
      (lit(b.toLong * 256L)
        + shiftrightunsigned(col("phash_bits"), b * 8).bitwiseAND(lit(0xffL))).as(s"k$b"))
    val chunks = rows.select(col("media_ref"), col("phash_bits"),
      explode(array(keys: _*)).as("k"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.k") === col("b.k") && col("a.media_ref") < col("b.media_ref"))
      .select(col("a.media_ref").as("ref_a"), col("b.media_ref").as("ref_b"),
        bit_count(col("a.phash_bits").bitwiseXOR(col("b.phash_bits"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= MaxImageHamming)
      .orderBy("ref_a", "ref_b")
  }

  /** mm4: ingestion over a payload mix that INCLUDES corrupt byte streams
    * (GenData.mixedPayload — truncation, lied magic, bit-rot, decode-bomb
    * headers). Bad records are quarantined per-row with a deterministic
    * error class (the `status`/`err_kind` columns); good rows carry the
    * same pixel-hash value check as mm2. The whole mix — who is
    * quarantined, with which class, and every surviving pixel hash — is
    * value-checked against a sequential driver-side oracle.
    */
  def decodeQuarantine(spark: SparkSession, dir: String): DataFrame =
    decoded(spark, dir, QuarantineSource, byRef)
      .sortWithinPartitions("media_ref")
}
