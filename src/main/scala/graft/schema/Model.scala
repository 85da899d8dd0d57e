package graft.schema

/** Input span of an interleaved text+media document.
  * Schema per BASELINE.json `input_hint`:
  * `spans: array<struct<kind:string,text:string,media_ref:string,offset:int32>>`.
  */
final case class RawSpan(kind: String, text: String, media_ref: String, offset: Int)

/** One input document row: `(doc_id, spans)`. */
final case class Doc(doc_id: String, spans: Seq[RawSpan])

/** Media payload row, addressed from a span by `media_ref` (FIXTURES.md §1). */
final case class Media(media_ref: String, payload: Array[Byte])

/** A detected region in absolute pixel coordinates, `x1`/`y1` exclusive.
  * Mirrors the reference detection record `dict(box, score, type)`
  * (/root/reference/cnstd/yolov7/layout_analyzer.py:315-323) restricted to the
  * axis-aligned path (`rotated_bbox=False`, /root/reference/cnstd/model/base.py:128-139).
  */
final case class Region(kind: String, x0: Int, y0: Int, x1: Int, y1: Int, score: Double)

/** A detected region on the ROTATED path (`rotated_bbox=True`, the reference
  * DEFAULT — /root/reference/cnstd/cn_std.py:49): center, side lengths, and
  * rotation angle in degrees, mirroring the reference's RotatedBbox
  * `(x, y, w, h, alpha)` (/root/reference/cnstd/utils/common_types.py:28,
  * /root/reference/cnstd/utils/geometry.py:39-41). Frozen convention:
  * alpha in [0, 90), axis-aligned boxes report alpha = 0 with w = x-extent
  * (cv2's minAreaRect angle convention changed across OpenCV versions, so the
  * engine defines its own canonical form, fixture-checked).
  */
final case class RRegion(kind: String, cx: Double, cy: Double, w: Double, h: Double,
                         alpha: Double, score: Double)

/** Output span after extraction; per-row invariant compares (kind, text, media_ref, order). */
final case class OutSpan(kind: String, text: String, media_ref: String, order: Int)

/** One output document row. */
final case class ExtractedDoc(doc_id: String, spans: Seq[OutSpan])

/** Config surface of the detection stage — the Spark analog of the
  * reference's constructor/detect kwargs (/root/reference/cnstd/cn_std.py:44-143:
  * `rotated_bbox` (DEFAULT true, :49), `auto_rotate_whole_image` (:48),
  * thresholds/sizes (:140-143)); the unclip ratio is 2.2 on the rotated
  * path and 1.5 on the axis path like the reference (model/base.py:62)
  * unless `unclipRatioOverride` is set; `scoreSlow` is
  * the PP `score_mode` toggle (db_postprocess.py:47-50). Defaults reproduce
  * the engine's frozen fixture semantics bit-for-bit.
  */
final case class DetectConfig(
    rotatedBbox: Boolean = false,
    autoRotateWholeImage: Boolean = false,
    binThresh: Double = Params.BinThresh,
    boxThresh: Double = Params.BoxThresh,
    minBoxSize: Int = Params.MinBoxSize,
    unclipRatioOverride: Option[Double] = None,
    scoreSlow: Boolean = false,
    /** PP `use_dilation` (db_postprocess.py:52-53,182-187, default off):
      * 2x2-dilate the binarized mask before component search. */
    useDilation: Boolean = false,
    /** `use_angle_clf` (cn_std.py:123,190-199, default off): classify each
      * detected crop between ['0','180'] and rotate it 180 degrees when the
      * label contains '180' at score > 0.9 (kernel.AngleClf). Observable in
      * span text when `renderCrops` is also on. */
    useAngleClf: Boolean = false,
    /** `cropped_img` analog (cn_std.py:148-169): append the detected crop's
      * dims + content digest to each media span's text, so the crop patch —
      * straight extract_crops or rotated extract_rcrops, post angle-clf —
      * is part of the row invariant instead of coordinates only. */
    renderCrops: Boolean = false)

object DetectConfig {
  /** The engine's frozen default (axis-aligned pipeline, SURVEY §7.5(2)). */
  val Default: DetectConfig = DetectConfig()
  /** The reference library's own defaults (cn_std.py:48-49). */
  val ReferenceDefault: DetectConfig = DetectConfig(rotatedBbox = true)
}

object Vocab {
  /** Detection-stage ids baked into the payload header. */
  final val StageStd = 0
  final val StageMfd = 1
  final val StageLayout = 2

  /** STD regions carry a single kind (scene-text). */
  final val StdKind = "std_text"

  /** MFD class vocabulary (/root/reference/cnstd/yolov7/consts.py:36-37). */
  final val MfdCategories: IndexedSeq[String] = IndexedSeq("mfd_embedding", "mfd_isolated")

  /** Layout class vocabulary, 11 classes incl. background
    * (/root/reference/cnstd/yolov7/consts.py:22-35). Class 0 is background and
    * never emitted by the generator.
    */
  final val LayoutCategories: IndexedSeq[String] = IndexedSeq(
    "_background_", "Text", "Title", "Figure", "Figure caption", "Table",
    "Table caption", "Header", "Footer", "Reference", "Equation")

  def categories(stage: Int): IndexedSeq[String] = stage match {
    case StageMfd    => MfdCategories
    case StageLayout => LayoutCategories
    case _           => IndexedSeq(StdKind)
  }
}

/** Frozen extraction constants (FIXTURES.md §4; reference defaults cited per field). */
object Params {
  /** Binarization threshold (/root/reference/cnstd/ppocr/postprocess/db_postprocess.py:35,177). */
  final val BinThresh = 0.3
  /** Weak-objectness threshold, PP path (/root/reference/cnstd/ppocr/postprocess/db_postprocess.py:36). */
  final val BoxThresh = 0.6
  /** Polygon unclip ratio, straight boxes (/root/reference/cnstd/model/base.py:61). */
  final val UnclipRatio = 1.5
  /** Polygon unclip ratio, rotated boxes (/root/reference/cnstd/model/base.py:61). */
  final val UnclipRatioRotated = 2.2
  /** Final min box side (/root/reference/cnstd/cn_std.py:142). */
  final val MinBoxSize = 8
  /** Final score threshold (/root/reference/cnstd/cn_std.py:143, model/core.py:222). */
  final val BoxScoreThresh = 0.3
  /** Dedup IoA threshold (/root/reference/cnstd/yolov7/layout_analyzer.py:330). */
  final val DedupThresh = 0.1
  /** YOLO confidence threshold (/root/reference/cnstd/yolov7/layout_analyzer.py:208). */
  final val ConfThresh = 0.25
  /** YOLO NMS IoU threshold (/root/reference/cnstd/yolov7/layout_analyzer.py:209). */
  final val NmsIouThresh = 0.45
  /** Box margin expansion (/root/reference/cnstd/yolov7/layout_analyzer.py:217). */
  final val BoxMargin = 2
  /** Max connected components considered (/root/reference/cnstd/ppocr/postprocess/db_postprocess.py:37,71). */
  final val MaxCandidates = 1000
  /** Max detections after NMS (/root/reference/cnstd/yolov7/general.py:602). */
  final val MaxDet = 300
  /** Max boxes into NMS (/root/reference/cnstd/yolov7/general.py:603). */
  final val MaxNms = 30000
}
