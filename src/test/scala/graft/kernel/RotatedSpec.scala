package graft.kernel

import org.scalatest.funsuite.AnyFunSuite
import graft.schema.{DetectConfig, Params}

/** Fixtures for the rotated-box path (`rotated_bbox=True`, the reference
  * default) mirroring /root/reference/cnstd/model/base.py:128-173, plus the
  * `score_mode` fast/slow toggle
  * (/root/reference/cnstd/ppocr/postprocess/db_postprocess.py:47-50).
  */
class RotatedSpec extends AnyFunSuite {

  private def blank(w: Int, h: Int) = new Array[Byte](w * h)
  private def fillRect(cells: Array[Byte], w: Int, x0: Int, y0: Int, x1: Int, y1: Int, v: Int): Unit =
    for (y <- y0 to y1; x <- x0 to x1) cells(y * w + x) = v.toByte

  test("axis-aligned blob: min-area rect matches closed-form unclip at 2.2") {
    val (w, h) = (64, 64)
    val cells = blank(w, h)
    fillRect(cells, w, 10, 8, 29, 19, 255) // 20 x 12 solid blob
    val out = Detect.stdRotated(cells, 0, w, h)
    assert(out.length == 1)
    val r = out.head
    // point-set extents (cv2.minAreaRect semantics): 19 x 11, center of the
    // pixel-coordinate extent
    assert(r.alpha == 0.0)
    assert(math.abs(r.cx - 19.5) < 1e-9 && math.abs(r.cy - 13.5) < 1e-9)
    // d = area * 2.2 / perimeter = (19*11) * 2.2 / (2*(19+11)) = 7.66333...
    val d = 19.0 * 11.0 * Params.UnclipRatioRotated / 60.0
    assert(math.abs(r.w - (19 + 2 * d)) < 1e-9, s"w=${r.w}")
    assert(math.abs(r.h - (11 + 2 * d)) < 1e-9, s"h=${r.h}")
    // solid blob: rotated objectness = 1.0 (core.py:100-105)
    assert(r.score == 1.0)
  }

  test("both ways: axis path and rotated path agree on the same blob's center") {
    val (w, h) = (64, 64)
    val cells = blank(w, h)
    fillRect(cells, w, 10, 8, 29, 19, 255)
    val axis = Detect.std(cells, 0, w, h)
    val rot = Detect.stdRotated(cells, 0, w, h)
    assert(axis.length == 1 && rot.length == 1)
    // axis path: boundingRect 20x12 at (10,8), unclip 1.5 →
    // d = 20*12*1.5/64 = 5.625 → floor/ceil box (4,2,36,26) (base.py:74-98)
    assert((axis.head.x0, axis.head.y0, axis.head.x1, axis.head.y1) == ((4, 2, 36, 26)))
    // rotated center sits at the pixel-extent center, 0.5px from the
    // boundingRect center (point-set vs pixel-count semantics, documented)
    assert(math.abs(rot.head.cx - (axis.head.x0 + axis.head.x1) / 2.0) <= 0.5)
    assert(math.abs(rot.head.cy - (axis.head.y0 + axis.head.y1) / 2.0) <= 0.5)
  }

  test("45-degree diamond: min-area rect rotates instead of axis-aligning") {
    val (w, h) = (64, 64)
    val cells = blank(w, h)
    for (y <- 0 until h; x <- 0 until w)
      if (math.abs(x - 32) + math.abs(y - 32) <= 8) cells(y * w + x) = 255.toByte
    val out = Detect.stdRotated(cells, 0, w, h)
    assert(out.length == 1)
    val r = out.head
    assert(math.abs(r.alpha - 45.0) < 1.0, s"alpha=${r.alpha}")
    // diamond radius 8 → rotated side 8*sqrt(2) ~ 11.31, grown by 2d
    val side = 8 * math.sqrt(2)
    assert(math.abs(r.w - r.h) < 0.5, s"w=${r.w} h=${r.h}")
    assert(r.w > side && r.w < side * 3, s"w=${r.w}")
    // the rotated rect beats the axis-aligned bounding square in area
    // (before unclip: ~128 vs 256)
    val pixels = (for (y <- 0 until h; x <- 0 until w
                       if math.abs(x - 32) + math.abs(y - 32) <= 8) yield y * w + x).toArray
    val (hx, hy) = Rotated.convexHull(pixels, w)
    val raw = Rotated.minAreaRect(hx, hy)
    assert(raw.w * raw.h < 16.0 * 16.0, s"area=${raw.w * raw.h}")
  }

  test("minAreaRect: hull points are contained and area never beats bbox") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val w = 48
      val n = 2 + rng.nextInt(40)
      val pixels = Array.fill(n)(rng.nextInt(40) * w + rng.nextInt(40)).distinct
      val (hx, hy) = Rotated.convexHull(pixels, w)
      val r = Rotated.minAreaRect(hx, hy)
      val rad = math.toRadians(r.alpha)
      val (ux, uy) = (math.cos(rad), math.sin(rad))
      hx.indices.foreach { i =>
        val du = (hx(i) - r.cx) * ux + (hy(i) - r.cy) * uy
        val dv = -(hx(i) - r.cx) * uy + (hy(i) - r.cy) * ux
        assert(math.abs(du) <= r.w / 2 + 1e-6 && math.abs(dv) <= r.h / 2 + 1e-6,
          s"hull point outside rect: ($du,$dv) vs ${r.w}x${r.h} a=${r.alpha}")
      }
      val xs = pixels.map(_ % w); val ys = pixels.map(_ / w)
      val bboxArea = (xs.max - xs.min).toDouble * (ys.max - ys.min).toDouble
      assert(r.w * r.h <= bboxArea + 1e-6 || bboxArea == 0)
    }
  }

  test("score_mode: slow keeps an L-shaped component that fast filters") {
    val (w, h) = (64, 64)
    val cells = blank(w, h)
    // L: 20x4 horizontal bar + 4x20 vertical bar, solid 255; the bounding
    // rect is mostly background so the fast rect-mean falls below
    // box_thresh 0.6 while the polygon mean is 1.0
    fillRect(cells, w, 10, 8, 29, 11, 255)
    fillRect(cells, w, 10, 8, 13, 27, 255)
    assert(Detect.std(cells, 0, w, h, DetectConfig(scoreSlow = false)).isEmpty)
    val slow = Detect.std(cells, 0, w, h, DetectConfig(scoreSlow = true))
    assert(slow.length == 1)
    assert(slow.head.score == 1.0)
  }

  test("traceContour: rect contour equals hull; concave L has smaller area, same rect") {
    // solid 20x12 rect at (10,8): contour polygon must carry exactly the
    // hull's area (19*11) and perimeter (2*(19+11))
    val (w, h) = (64, 64)
    val cells = blank(w, h)
    fillRect(cells, w, 10, 8, 29, 19, 255)
    val bits = Bitmap.thresholdBits(cells, 0, w * h, 0.3)
    val comp = Bitmap.connectedComponents(bits, w, h, 10, withPixels = true).head
    val (cxs, cys) = Rotated.traceContour(comp.pixels, w)
    assert(math.abs(Rotated.polygonArea(cxs, cys) - 19.0 * 11.0) < 1e-9)
    assert(math.abs(Rotated.perimeter(cxs, cys) - 60.0) < 1e-9)

    // L-shape: 20x20 square minus its top-right 12x12 notch. Contour area =
    // full (19x19) minus notch ((19-7)x(19-7)) in point-extent terms;
    // the hull spans the full square and overestimates.
    val cells2 = blank(w, h)
    fillRect(cells2, w, 10, 10, 29, 29, 255)
    fillRect(cells2, w, 18, 10, 29, 21, 0) // notch: pixels x>=18, y<=21 removed
    val bits2 = Bitmap.thresholdBits(cells2, 0, w * h, 0.3)
    val comp2 = Bitmap.connectedComponents(bits2, w, h, 10, withPixels = true).head
    val (lx, ly) = Rotated.traceContour(comp2.pixels, w)
    val contourArea = Rotated.polygonArea(lx, ly)
    val (hx, hy) = Rotated.convexHull(comp2.pixels, w)
    val hullArea = Rotated.polygonArea(hx, hy)
    assert(contourArea < hullArea,
      s"L-shape contour ($contourArea) must be smaller than its hull ($hullArea)")
    // exact: boundary pixel centers trace (10,10)(17,10)(17,21)(18,22)
    // (29,22)(29,29)(10,29) — the 8-connected trace steps DIAGONALLY across
    // the reflex corner, exactly like cv2 contours: left strip 7x19 = 133,
    // bottom strip 12x7 = 84, plus the half-pixel corner triangle = 217.5
    assert(math.abs(contourArea - 217.5) < 1e-9, s"got $contourArea")
    // the rotated box fed by this d must be SMALLER than the hull-based one
    val rOut = Detect.stdRotated(cells2, 0, w, h)
    assert(rOut.length == 1)
    val dContour = Rotated.offsetDistance(lx, ly, Params.UnclipRatioRotated)
    val dHull = Rotated.offsetDistance(hx, hy, Params.UnclipRatioRotated)
    assert(dContour < dHull)
    assert(math.abs(rOut.head.w - (19 + 2 * dContour)) < 1e-9)

    // 1px horizontal line: degenerate ring, area 0, out-and-back length
    val cells3 = blank(w, h)
    fillRect(cells3, w, 5, 5, 14, 5, 255)
    val bits3 = Bitmap.thresholdBits(cells3, 0, w * h, 0.3)
    val comp3 = Bitmap.connectedComponents(bits3, w, h, 10, withPixels = true).head
    val (dx, dy) = Rotated.traceContour(comp3.pixels, w)
    assert(Rotated.polygonArea(dx, dy) == 0.0)
    assert(math.abs(Rotated.perimeter(dx, dy) - 18.0) < 1e-9) // 9 out + 9 back
  }

  test("page angle: horizontal text lines read 0, slanted lines read -angle") {
    val (w, h) = (128, 128)
    def bitsOf(f: (Int, Int) => Boolean): Array[Long] = {
      val cells = blank(w, h)
      for (y <- 0 until h; x <- 0 until w) if (f(x, y)) cells(y * w + x) = 255.toByte
      Bitmap.thresholdBits(cells, 0, w * h, 0.3)
    }
    // three horizontal 40x4 bars → all alphas 0, wide → page angle 0
    val horiz = bitsOf((x, y) => x >= 10 && x < 50 && Seq(10, 30, 50).exists(b => y >= b && y < b + 4))
    assert(Rotated.pageAngle(horiz, w, h) == 0.0)
    assert(!Rotated.shouldRotate(0.0))
    // bars slanted ~30 degrees (y grows with x at tan(30)) → angle ~ -30
    def slant(b: Int)(x: Int, y: Int): Boolean = {
      val t = x - 10
      t >= 0 && t < 60 && {
        val yy = b + (t * math.tan(math.toRadians(30))).round.toInt
        y >= yy && y < yy + 3
      }
    }
    val slanted = bitsOf((x, y) => Seq(10, 40, 70).exists(b => slant(b)(x, y)))
    val a = Rotated.pageAngle(slanted, w, h)
    assert(math.abs(a + 30.0) < 3.0, s"angle=$a")
    assert(Rotated.shouldRotate(a))
    // vertical bars → aspect vote flips the quadrant: 90 + (-0) = 90
    val vert = bitsOf((x, y) => y >= 10 && y < 50 && Seq(10, 30, 50).exists(b => x >= b && x < b + 4))
    assert(Rotated.pageAngle(vert, w, h) == 90.0)
    assert(!Rotated.shouldRotate(90.0)) // within min_angle of 90 → no rotation
    // mixed orientations (std > 3) → multi-oriented page, angle 0
    val mixed = bitsOf((x, y) =>
      (y >= 10 && y < 14 && x >= 10 && x < 50) || Seq(60).exists(b => slant(b)(x, y)))
    assert(Rotated.pageAngle(mixed, w, h) == 0.0)
  }

  test("degenerate hulls: single pixel and collinear rows stay safe") {
    val one = Rotated.minAreaRect(Array(5.0), Array(6.0))
    assert(one.w == 0 && one.h == 0)
    val (hx, hy) = Rotated.convexHull(Array(3 * 10 + 2, 3 * 10 + 5, 3 * 10 + 9), 10)
    val line = Rotated.minAreaRect(hx, hy)
    assert(line.h == 0.0 && math.abs(line.w - 7.0) < 1e-9 && line.alpha == 0.0)
  }
}
