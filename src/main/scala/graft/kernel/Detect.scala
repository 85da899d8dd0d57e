package graft.kernel

import graft.schema.{DetectConfig, Params, RRegion, Region, Vocab}

/** The three detection stages, re-expressed as pure JVM kernels over decoded
  * payloads. Each returns the stage's region list after its own filters and
  * the shared sort+dedup tail (Order.finalizeBy). Both STD tails, axis-aligned
  * `std` and rotated `stdRotated`, run over one front (threshold → open →
  * optional dilation → label → min-extent filter) and take a DetectConfig.
  */
object Detect {

  /** Full extraction for one media payload. */
  def extract(payload: Array[Byte]): Seq[Region] = Payload.decode(payload) match {
    case Payload.ProbMap(w, h, cells, off)      => Order.finalize(std(cells, off, w, h))
    case Payload.Candidates(stage, w, h, cands) => Order.finalize(yolo(stage, w, h, cands))
  }

  /** Scene-text detection tail of the DBNet path, thresholds and sizes from
    * `cfg` (the reference's detect kwargs, cn_std.py:140-143; the default
    * config reproduces the frozen fixture semantics exactly):
    * the shared front (`components`) → score: rect mean (core.py:92-99), or
    * with `scoreSlow` (the PP `score_mode='slow'` toggle,
    * db_postprocess.py:47-50) the mean over the filled component
    * (db_postprocess.py:151-170) → box_thresh (base.py:124-132) → unclip
    * ratio 1.5 (base.py:61,74-98) → post-unclip min-size (base.py:141-144) →
    * clip → final score/size filters (core.py:222-225) → REVERSED emission
    * order (core.py:234).
    */
  def std(cells: Array[Byte], off: Int, w: Int, h: Int,
          cfg: DetectConfig = DetectConfig.Default): Seq[Region] = {
    val out = components(cells, off, w, h, cfg, withPixels = cfg.scoreSlow).flatMap { c =>
      // boundingRect semantics: x,y,w,h with w = xMax-xMin+1
      val bx = c.xMin; val by = c.yMin
      val bw = c.xMax - c.xMin + 1; val bh = c.yMax - c.yMin + 1
      // fast: score over points [[x,y],[x,y+h],[x+w,y+h],[x+w,y]] → inclusive
      // rect [x .. x+w] x [y .. y+h], clipped (core.py:92-99)
      val score =
        if (cfg.scoreSlow) Rotated.scoreSlow(cells, off, c.pixels)
        else Bitmap.rectMean(cells, off, w, h, bx, by, bx + bw, by + bh)
      if (score < cfg.boxThresh) None
      else {
        // the axis kernel IS the rotated_bbox=False path → ratio 1.5
        // (base.py:62) unless explicitly overridden
        val (ux0, uy0, ux1, uy1) = Geom.unclipRect(bx, by, bx + bw, by + bh,
          cfg.unclipRatioOverride.getOrElse(Params.UnclipRatio))
        if (ux1 - ux0 < minSize(h) || uy1 - uy0 < minSize(h)) None
        else {
          val (cx0, cy0, cx1, cy1) = Geom.clip(ux0, uy0, ux1, uy1, w, h)
          // final filters (core.py:222-225): score >= box_score_thresh
          // (implied by box_thresh at the defaults) + min side filter
          if (math.min(cx1 - cx0, cy1 - cy0) < cfg.minBoxSize) None
          else Some(Region(Vocab.StdKind, cx0, cy0, cx1, cy1, score))
        }
      }
    }
    out.reverse
  }

  /** Rotated-path STD tail (`rotated_bbox=True`, the reference DEFAULT —
    * /root/reference/cnstd/cn_std.py:49):
    * the shared front (`components`), then per component
    * (/root/reference/cnstd/model/base.py:100-173 rotated branches):
    * rotated objectness over the filled component (core.py:100-105) →
    * box_thresh filter → min-area rect (`fit_rbbox`, geometry.py:39-41) →
    * closed-form round-joint unclip at ratio 2.2 (base.py:61,74-98) →
    * post-unclip min-size filter on (w, h) (base.py:141-144) →
    * coordinate clip (base.py:166-168: np.clip of x,y,w,h; alpha kept) →
    * REVERSED emission (core.py:234).
    */
  def stdRotated(cells: Array[Byte], off: Int, w: Int, h: Int,
                 cfg: DetectConfig = DetectConfig.ReferenceDefault): Seq[RRegion] = {
    val out = components(cells, off, w, h, cfg, withPixels = true).flatMap { c =>
      val score = Rotated.scoreRotated(cells, off, c.pixels)
      if (score < cfg.boxThresh) None
      else {
        val (hx, hy) = Rotated.convexHull(c.pixels, w)
        val r = Rotated.minAreaRect(hx, hy) // rect extremes: hull == contour
        // the rotated kernel IS the rotated_bbox=True path → ratio 2.2;
        // d comes from the TRACED contour polygon (possibly concave), like
        // the reference's Polygon(contour) — not from the hull (base.py:74-79)
        val (ctx, cty) = Rotated.traceContour(c.pixels, w)
        val d = Rotated.offsetDistance(ctx, cty,
          cfg.unclipRatioOverride.getOrElse(Params.UnclipRatioRotated))
        val gw = r.w + 2 * d
        val gh = r.h + 2 * d
        if (gw < minSize(h) || gh < minSize(h)) None
        else {
          def clampD(v: Double, hi: Double) = math.min(math.max(v, 0.0), hi)
          val (cw, ch) = (clampD(gw, w), clampD(gh, h))
          // final crop-level filters (core.py:222-225): the rotated crop's
          // dims are int(w), int(h) of the unclipped-expanded rbbox
          if (math.min(cw.toInt, ch.toInt) < cfg.minBoxSize) None
          else Some(RRegion(Vocab.StdKind,
            clampD(r.cx, w), clampD(r.cy, h), cw, ch, r.alpha, score))
        }
      }
    }
    out.reverse
  }

  /** min_size_box = 1 + H/512 (cnstd/model/base.py:112-122). */
  private def minSize(h: Int): Int = 1 + h / 512

  /** binarize > bin_thresh (cnstd/model/core.py:121) →
    * morphological open, k = 1 + H/512 (core.py:124-130).
    */
  private def openedBits(cells: Array[Byte], off: Int, w: Int, h: Int, binThresh: Double): Array[Long] =
    Bitmap.morphOpenBits(Bitmap.thresholdBits(cells, off, w * h, binThresh), w, h, 1 + h / 512)

  /** The STD front both tails share: openedBits → PP use_dilation of the
    * MASK the components are found in (db_postprocess.py:182-187; scores
    * still read the raw prob map) → connected components
    * (cnstd/model/base.py:115-117) → min-extent filter: the
    * contour's max-min per axis (inclusive extent) must reach
    * min_size_box (base.py:112-122).
    */
  private def components(cells: Array[Byte], off: Int, w: Int, h: Int,
                         cfg: DetectConfig, withPixels: Boolean): Seq[Bitmap.Component] = {
    val opened = openedBits(cells, off, w, h, cfg.binThresh)
    val mask = if (cfg.useDilation) Bitmap.dilateBits(opened, w, h) else opened
    Bitmap.connectedComponents(mask, w, h, Params.MaxCandidates, withPixels)
      .filter(c => c.xMax - c.xMin >= minSize(h) && c.yMax - c.yMin >= minSize(h))
  }

  /** Config-driven rendered extraction for one payload: the full per-payload
    * tail under `cfg`, emitting (kind, text) span pieces in final order. The
    * rotated branch mirrors the reference's rotated assembly: rbbox → sorted
    * 4-point array (transform_rbbox_to_bbox, utils.py:382-384) whose (p0, p2)
    * corners form the effective rect for the reading-order sort + IoA dedup
    * (`_to_iou_box`, utils.py:453-455); the span text renders the rbbox as
    * "[cx,cy,w,h,alpha];score" (frozen format, 2dp coords). With
    * `autoRotateWholeImage` the prob map itself is page-rotated by the
    * estimated -angle before detection (core.py:124-137; we rotate the
    * continuous map and re-threshold rather than warping the binarized one —
    * cleaner and fixture-defined).
    */
  def extractRendered(payload: Array[Byte], cfg: DetectConfig): Seq[(String, String)] =
    Payload.decode(payload) match {
      case Payload.ProbMap(w, h, cells0, off0) =>
        val (cells, off) =
          if (!cfg.autoRotateWholeImage) (cells0, off0)
          else {
            val angle = Rotated.pageAngle(openedBits(cells0, off0, w, h, cfg.binThresh), w, h)
            if (!Rotated.shouldRotate(angle)) (cells0, off0)
            else {
              val img = Resize.Img(java.util.Arrays.copyOfRange(cells0, off0, off0 + w * h), w, h)
              (Rotated.rotatePage(img, -angle).cells, 0)
            }
          }
        // cropped_img analog (cn_std.py:148-169): when crops are rendered
        // (renderCrops, or useAngleClf whose only observable surface is the
        // crop), the source image is materialized once per payload and each
        // final region carries its crop's dims + content digest in the span
        // text; useAngleClf applies the '180'-at-thresh-0.9 rotate rule
        // (cn_std.py:190-199) to the crop BEFORE digesting.
        val wantCrops = cfg.renderCrops || cfg.useAngleClf
        lazy val srcImg =
          Resize.Img(java.util.Arrays.copyOfRange(cells, off, off + w * h), w, h)
        def digest(crop0: Resize.Img): String = {
          val crop =
            if (!cfg.useAngleClf) crop0
            else {
              val d = AngleClf.decide(AngleClf.classify(crop0.cells, crop0.w, crop0.h))
              if (d.rotate) Resize.Img(AngleClf.rotate180(crop0.cells, crop0.w, crop0.h),
                crop0.w, crop0.h)
              else crop0
            }
          ";crop=%dx%d:%016x".formatLocal(java.util.Locale.ROOT,
            crop.w, crop.h, fnv64(crop.cells))
        }
        if (cfg.rotatedBbox) {
          val withRect = stdRotated(cells, off, w, h, cfg).map { r =>
            val pts = Rotated.sortBoxPoints(
              Rotated.boxPoints(Rotated.RBox(r.cx, r.cy, r.w, r.h, r.alpha)))
            (r, Order.Rect(pts(0)._1, pts(0)._2, pts(2)._1, pts(2)._2))
          }
          Order.finalizeBy(withRect)(_._2).map { case (r, _) =>
            // rotated crops use extract_rcrops (_utils.py:59-160) on the rbbox
            val suffix =
              if (!wantCrops) ""
              else digest(Crop.extractRCrop(srcImg, Rotated.RBox(r.cx, r.cy, r.w, r.h, r.alpha)))
            (r.kind, "[%.2f,%.2f,%.2f,%.2f,%.2f];%.4f".formatLocal(java.util.Locale.ROOT,
              r.cx, r.cy, r.w, r.h, r.alpha, r.score) + suffix)
          }
        } else {
          Order.finalize(std(cells, off, w, h, cfg)).map { r =>
            // straight crops use extract_crops' img[y0:y1, x0:x1] (_utils.py:30-56)
            val suffix =
              if (!wantCrops) ""
              else digest(Crop.extractCrop(srcImg, r.x0, r.y0, r.x1, r.y1))
            (r.kind, Assemble.regionText(r) + suffix)
          }
        }
      case Payload.Candidates(stage, w, h, cands) =>
        Order.finalize(yolo(stage, w, h, cands)).map(r => (r.kind, Assemble.regionText(r)))
    }

  /** FNV-1a 64 over crop bytes — a stable, dependency-free content digest for
    * the rendered-crop invariant (the crop bytes themselves would bloat span
    * text; equality of digests is equality of crops for test purposes).
    */
  private def fnv64(bytes: Array[Byte]): Long = {
    var hash = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      hash ^= (bytes(i) & 0xffL)
      hash *= 0x100000001b3L
      i += 1
    }
    hash
  }

  /** Production wrapper: a missing (null) or corrupt payload yields zero
    * spans instead of failing the task — at 10^12 docs corrupt rows are a
    * certainty and must not kill a range. Callers count drops via the
    * returned flag.
    */
  def extractRenderedSafe(payload: Array[Byte], cfg: DetectConfig): (Seq[(String, String)], Boolean) =
    if (payload == null) (Nil, true)
    else try (extractRendered(payload, cfg), false)
    catch { case scala.util.control.NonFatal(_) => (Nil, true) }

  /** YOLO-style tail shared by MFD and layout:
    * conf filter (/root/reference/cnstd/yolov7/general.py:597-614) →
    * cxcywh → xyxy (general.py:636-641) → per-class greedy NMS at IoU 0.45
    * with the class-offset trick replaced by an explicit class check
    * (general.py:660-667) → max_det cap (general.py:666-667) →
    * reversed iteration (/root/reference/cnstd/yolov7/layout_analyzer.py:315) →
    * round + margin expand + clip (layout_analyzer.py:313,332-338).
    */
  def yolo(stage: Int, w: Int, h: Int, cands: Seq[Payload.Candidate]): Seq[Region] = {
    val categories = Vocab.categories(stage)
    val passed = cands.filter(_.conf > Params.ConfThresh)
    if (passed.isEmpty) return Nil
    // stable sort by confidence desc (ties keep input order), cap max_nms
    val sorted = passed.zipWithIndex
      .sortBy { case (c, i) => (-c.conf, i) }
      .map(_._1)
      .take(Params.MaxNms)
    val boxes = sorted.map { c =>
      (c.cls,
        c.cx - c.w / 2.0, c.cy - c.h / 2.0,
        c.cx + c.w / 2.0, c.cy + c.h / 2.0,
        c.conf.toDouble)
    }
    val keep = Array.fill(boxes.length)(true)
    val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < boxes.length && kept.length < Params.MaxDet) {
      if (keep(i)) {
        kept += i
        val (ci, ax0, ay0, ax1, ay1, _) = boxes(i)
        var j = i + 1
        while (j < boxes.length) {
          if (keep(j)) {
            val (cj, bx0, by0, bx1, by1, _) = boxes(j)
            if (ci == cj && iouD(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1) > Params.NmsIouThresh)
              keep(j) = false
          }
          j += 1
        }
      }
      i += 1
    }
    // reversed(det): emit in ascending-confidence order (layout_analyzer.py:315)
    kept.toSeq.reverse.map { idx =>
      val (cls, x0, y0, x1, y1, conf) = boxes(idx)
      // scale_coords(...).round() uses round-half-even (torch.round)
      val rx0 = math.rint(x0).toInt; val ry0 = math.rint(y0).toInt
      val rx1 = math.rint(x1).toInt; val ry1 = math.rint(y1).toInt
      val (ex0, ey0, ex1, ey1) = Geom.clip(
        rx0 - Params.BoxMargin, ry0 - Params.BoxMargin,
        rx1 + Params.BoxMargin, ry1 + Params.BoxMargin, w, h)
      val kind = if (cls >= 0 && cls < categories.length) categories(cls) else s"cls_$cls"
      Region(kind, ex0, ey0, ex1, ey1, conf)
    }
  }

  private def iouD(ax0: Double, ay0: Double, ax1: Double, ay1: Double,
                   bx0: Double, by0: Double, bx1: Double, by1: Double): Double = {
    val iw = math.min(ax1, bx1) - math.max(ax0, bx0)
    val ih = math.min(ay1, by1) - math.max(ay0, by0)
    if (iw <= 0 || ih <= 0) 0.0
    else {
      val inter = iw * ih
      val union = (ax1 - ax0) * (ay1 - ay0) + (bx1 - bx0) * (by1 - by0) - inter
      if (union <= 0) 0.0 else inter / union
    }
  }
}
