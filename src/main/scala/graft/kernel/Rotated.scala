package graft.kernel

/** Rotated-box geometry for the reference's DEFAULT `rotated_bbox=True` path
  * (/root/reference/cnstd/cn_std.py:49,62):
  *
  *  - min-area rectangle over a connected component — the analog of
  *    `fit_rbbox` / `cv2.minAreaRect(contour)`
  *    (/root/reference/cnstd/utils/geometry.py:39-41,
  *    /root/reference/cnstd/model/base.py:128-139), implemented as convex
  *    hull (monotone chain over each row's extreme pixels) + rotating
  *    calipers, over the pixels `Bitmap.connectedComponents` collects;
  *  - closed-form round-joint unclip at ratio 2.2: offsetting a convex
  *    polygon by d and refitting the min-area rect grows the rect by d on
  *    every side (the rounded corners are arcs of radius d centered on the
  *    original corners), so the frozen spec is (w+2d, h+2d) at the same
  *    center/angle, with d = hullArea * ratio / hullPerimeter
  *    (/root/reference/cnstd/model/base.py:74-98: `poly.area * unclip_ratio
  *    / poly.length`, pyclipper JT_ROUND);
  *  - the rotated score `sum(pred*mask)/count_nonzero(pred*mask)` over the
  *    filled component (/root/reference/cnstd/model/core.py:100-105) and the
  *    `score_mode='slow'` polygon mean
  *    (/root/reference/cnstd/ppocr/postprocess/db_postprocess.py:151-170).
  *
  * Frozen conventions (cv2's minAreaRect angle changed across OpenCV
  * versions, so the engine defines one canonical form, fixture-checked):
  * alpha in degrees in [0, 90); axis-aligned components report alpha = 0
  * with w = x-extent; extents are geometric point-set extents over pixel
  * coordinates (cv2.minAreaRect semantics — no +1, unlike boundingRect);
  * mask = the component's own pixels (the filled contour of a hole-free
  * component; our bitmaps produce solid components).
  */
object Rotated {

  /** (cx, cy, w, h, alpha-degrees in [0, 90)). */
  final case class RBox(cx: Double, cy: Double, w: Double, h: Double, alpha: Double)

  /** Convex hull of component pixels (pixel = y*w + x, distinct, in any
    * order) via Andrew's monotone chain, counter-clockwise in screen coords,
    * no duplicate endpoint. Returns (xs, ys); size 1 or 2 for degenerate
    * (point / collinear) input.
    *
    * The chain runs over each row's leftmost and rightmost pixel only: a
    * pixel with set pixels on both sides of it in its row lies on the
    * segment between them, so it is never a hull vertex, and the chain
    * already drops collinear points.
    */
  def convexHull(pixels: Array[Int], w: Int): (Array[Double], Array[Double]) = {
    var pMin = Int.MaxValue
    var pMax = Int.MinValue
    var i = 0
    while (i < pixels.length) {
      if (pixels(i) < pMin) pMin = pixels(i)
      if (pixels(i) > pMax) pMax = pixels(i)
      i += 1
    }
    val y0 = pMin / w
    val rows = if (pixels.isEmpty) 0 else pMax / w - y0 + 1
    val lo = Array.fill(rows)(Int.MaxValue)
    val hi = new Array[Int](rows)
    i = 0
    while (i < pixels.length) {
      val row = pixels(i) / w - y0
      val px = pixels(i) - (y0 + row) * w
      if (px < lo(row)) lo(row) = px
      if (px > hi(row)) hi(row) = px
      i += 1
    }
    val ext = new Array[Long](2 * rows)
    var n = 0
    var row = 0
    while (row < rows) {
      if (lo(row) != Int.MaxValue) {
        val py = (y0 + row).toLong
        ext(n) = (lo(row).toLong << 32) | py; n += 1
        if (hi(row) != lo(row)) { ext(n) = (hi(row).toLong << 32) | py; n += 1 }
      }
      row += 1
    }
    val pts = java.util.Arrays.copyOf(ext, n)
    java.util.Arrays.sort(pts)
    def x(i: Long): Double = (i >> 32).toDouble
    def y(i: Long): Double = (i & 0xffffffffL).toInt.toDouble
    def cross(o: Long, a: Long, b: Long): Double =
      (x(a) - x(o)) * (y(b) - y(o)) - (y(a) - y(o)) * (x(b) - x(o))
    val hull = new Array[Long](2 * n + 1)
    var k = 0
    i = 0
    while (i < n) { // lower
      while (k >= 2 && cross(hull(k - 2), hull(k - 1), pts(i)) <= 0) k -= 1
      hull(k) = pts(i); k += 1
      i += 1
    }
    val lower = k + 1
    i = n - 2
    while (i >= 0) { // upper
      while (k >= lower && cross(hull(k - 2), hull(k - 1), pts(i)) <= 0) k -= 1
      hull(k) = pts(i); k += 1
      i -= 1
    }
    val m = math.max(1, k - 1) // last point == first point
    (Array.tabulate(m)(j => x(hull(j))), Array.tabulate(m)(j => y(hull(j))))
  }

  /** Shoelace area of the hull polygon (absolute value). */
  def polygonArea(xs: Array[Double], ys: Array[Double]): Double = {
    val m = xs.length
    if (m < 3) return 0.0
    var s = 0.0
    var i = 0
    while (i < m) {
      val j = (i + 1) % m
      s += xs(i) * ys(j) - xs(j) * ys(i)
      i += 1
    }
    math.abs(s) / 2.0
  }

  /** Hull polygon perimeter. */
  def perimeter(xs: Array[Double], ys: Array[Double]): Double = {
    val m = xs.length
    if (m < 2) return 0.0
    var s = 0.0
    var i = 0
    while (i < m) {
      val j = (i + 1) % m
      val dx = xs(j) - xs(i)
      val dy = ys(j) - ys(i)
      s += math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    s
  }

  /** Round-joint offset distance `area * ratio / perimeter`
    * (/root/reference/cnstd/model/base.py:74-79).
    */
  def offsetDistance(xs: Array[Double], ys: Array[Double], ratio: Double): Double = {
    val per = perimeter(xs, ys)
    if (per <= 0) 0.0 else polygonArea(xs, ys) * ratio / per
  }

  /** Traced outer boundary of an 8-connected solid component (Moore-neighbor
    * tracing, clockwise in screen coords), as the polygon of boundary pixel
    * CENTERS — the `cv2.findContours(RETR_EXTERNAL)` analog whose polygon the
    * reference feeds to shapely for the unclip distance (model/base.py:74-79:
    * `Polygon(contour)` — the contour, which may be CONCAVE, not its hull).
    * Round 2 derived d from the convex hull; for concave components (the
    * L-shape in RotatedSpec) the hull's larger area over-grew the rotated
    * box relative to the reference (round-2 ADVICE). For convex components
    * the traced polygon has exactly the hull's area and perimeter, so this
    * changes nothing there. One-pixel-wide arms contribute out-and-back
    * edges: zero area, doubled length — the same degenerate-ring values
    * shapely assigns cv2's contours of 1px lines.
    */
  def traceContour(pixels: Array[Int], w: Int): (Array[Double], Array[Double]) = {
    val sorted = pixels.clone()
    java.util.Arrays.sort(sorted)
    val sx = sorted(0) % w
    val sy = sorted(0) / w // row-major min = topmost-then-leftmost start
    if (sorted.length == 1) return (Array(sx.toDouble), Array(sy.toDouble))
    @inline def member(x: Int, y: Int): Boolean =
      x >= 0 && x < w && y >= 0 && java.util.Arrays.binarySearch(sorted, y * w + x) >= 0
    // clockwise neighbor order in screen coords (y down): E SE S SW W NW N NE
    val dxs = Array(1, 1, 0, -1, -1, -1, 0, 1)
    val dys = Array(0, 1, 1, 1, 0, -1, -1, -1)
    val xs = scala.collection.mutable.ArrayBuffer(sx.toDouble)
    val ys = scala.collection.mutable.ArrayBuffer(sy.toDouble)
    var cx = sx
    var cy = sy
    var search = 4 // nothing lies W/NW/N/NE of the start pixel: scan from W
    var firstMove = -1
    var iter = 0
    val cap = 8 * sorted.length + 8
    var done = false
    while (!done && iter < cap) {
      var k = 0
      var found = -1
      while (k < 8 && found < 0) {
        val d = (search + k) % 8
        if (member(cx + dxs(d), cy + dys(d))) found = d
        k += 1
      }
      if (found < 0) done = true // cannot happen for n>1 8-connected components
      else if (firstMove >= 0 && cx == sx && cy == sy && found == firstMove) {
        done = true // Jacob's criterion: re-entering start with the first move
      } else {
        if (firstMove < 0) firstMove = found
        cx += dxs(found)
        cy += dys(found)
        xs += cx.toDouble
        ys += cy.toDouble
        search = (found + 6) % 8 // resume 90 degrees CCW of the arrival direction
      }
      iter += 1
    }
    // the trace ends by arriving back at the start: drop the duplicate point
    if (xs.length > 1 && xs.last == sx.toDouble && ys.last == sy.toDouble) {
      xs.remove(xs.length - 1)
      ys.remove(ys.length - 1)
    }
    (xs.toArray, ys.toArray)
  }

  /** Min-area enclosing rectangle via rotating calipers over hull edges:
    * the optimal rectangle has one side collinear with a hull edge, so try
    * every edge direction and keep the smallest area (O(m^2), hulls are
    * tiny). Degenerate hulls yield zero-extent boxes (filtered by callers'
    * min-size gates, mirroring the reference's small-box removal).
    */
  def minAreaRect(xs: Array[Double], ys: Array[Double]): RBox = {
    val m = xs.length
    if (m == 1) return RBox(xs(0), ys(0), 0, 0, 0)
    var best = Double.MaxValue
    var bestTheta = 0.0
    var bestEx = 0.0; var bestEy = 0.0
    var bestCx = 0.0; var bestCy = 0.0
    var e = 0
    while (e < m) {
      val j = (e + 1) % m
      val dx = xs(j) - xs(e)
      val dy = ys(j) - ys(e)
      val len = math.sqrt(dx * dx + dy * dy)
      if (len > 0) {
        val ux = dx / len
        val uy = dy / len
        var minU = Double.MaxValue; var maxU = Double.MinValue
        var minV = Double.MaxValue; var maxV = Double.MinValue
        var i = 0
        while (i < m) {
          val u = xs(i) * ux + ys(i) * uy
          val v = -xs(i) * uy + ys(i) * ux
          if (u < minU) minU = u
          if (u > maxU) maxU = u
          if (v < minV) minV = v
          if (v > maxV) maxV = v
          i += 1
        }
        val area = (maxU - minU) * (maxV - minV)
        if (area < best - 1e-12) {
          best = area
          bestTheta = math.atan2(uy, ux)
          bestEx = maxU - minU
          bestEy = maxV - minV
          val cu = (minU + maxU) / 2
          val cv = (minV + maxV) / 2
          bestCx = cu * ux - cv * uy
          bestCy = cu * uy + cv * ux
        }
      }
      e += 1
    }
    if (best == Double.MaxValue) { // all hull edges degenerate (single point repeated)
      return RBox(xs(0), ys(0), 0, 0, 0)
    }
    // canonicalize: angle mod 180, then mod 90 with an extent swap per quarter turn
    var theta = bestTheta.toDegrees
    var (ew, eh) = (bestEx, bestEy)
    while (theta < 0) theta += 180.0
    while (theta >= 180.0) theta -= 180.0
    if (theta >= 90.0) { theta -= 90.0; val t = ew; ew = eh; eh = t }
    // snap numeric noise at the wrap point
    if (theta > 90.0 - 1e-9) { theta = 0.0; val t = ew; ew = eh; eh = t }
    RBox(bestCx, bestCy, ew, eh, theta)
  }

  /** Corners of an RBox in image coordinates — `cv2.boxPoints` analog
    * (/root/reference/cnstd/utils/geometry.py:34-36 `rbbox_to_polygon`).
    * Fixed order (tl, tr, br, bl) in the box's own frame: width direction
    * u = (cos a, sin a), height direction v = (-sin a, cos a), screen coords
    * (cv2's own corner order varies across versions; downstream canonicalizers
    * sortBoxPoints / orderPointsClockwise make the order irrelevant).
    */
  def boxPoints(b: RBox): Array[(Double, Double)] = {
    val rad = math.toRadians(b.alpha)
    val ux = math.cos(rad); val uy = math.sin(rad)
    val vx = -uy; val vy = ux
    val hw = b.w / 2; val hh = b.h / 2
    Array(
      (b.cx - hw * ux - hh * vx, b.cy - hw * uy - hh * vy),
      (b.cx + hw * ux - hh * vx, b.cy + hw * uy - hh * vy),
      (b.cx + hw * ux + hh * vx, b.cy + hw * uy + hh * vy),
      (b.cx - hw * ux + hh * vx, b.cy - hw * uy + hh * vy))
  }

  /** SO1: canonical 4-point ordering, the `sort_box_points` rule
    * (/root/reference/cnstd/utils/utils.py:387-412): stable-sort by x, pick
    * top/bottom within the left and right pairs by the reference's exact
    * comparisons (note `>` not `>=` — ties keep sort order, mirrored here).
    */
  def sortBoxPoints(pts: Array[(Double, Double)]): Array[(Double, Double)] = {
    val p = pts.sortBy(_._1) // stable, like python sorted(key=x)
    val (i1, i4) = if (p(1)._2 > p(0)._2) (0, 1) else (1, 0)
    val (i2, i3) = if (p(3)._2 > p(2)._2) (2, 3) else (3, 2)
    Array(p(i1), p(i2), p(i3), p(i4))
  }

  /** The PP variant (`order_points_clockwise`,
    * /root/reference/cnstd/ppocr/pp_detector.py:137-159): x-sort, then y-sort
    * within the left-most and right-most pairs → (tl, tr, br, bl).
    */
  def orderPointsClockwise(pts: Array[(Double, Double)]): Array[(Double, Double)] = {
    val xs = pts.sortBy(_._1)
    val Array(tl, bl) = xs.take(2).sortBy(_._2)
    val Array(tr, br) = xs.drop(2).sortBy(_._2)
    Array(tl, tr, br, bl)
  }

  /** Page-angle estimate from a binarized map (`get_bitmap_angle`,
    * /root/reference/cnstd/utils/_utils.py:237-272, used when
    * `auto_rotate_whole_image=True`, core.py:131-137; default off,
    * cn_std.py:48): fit min-area rects to the `nCt` largest components
    * (sorted by hull polygon area desc — the `cv2.contourArea` sort, SO2),
    * collect their angles/widths/heights; if the population-std of the
    * angles exceeds `stdMax` the page is multi-oriented → 0; else
    * angle = -mean(angles), plus 90 when the rects are taller than wide
    * (counterclockwise pages). Angles use this engine's canonical [0, 90)
    * minAreaRect convention (cv2's own convention varies by version).
    */
  def pageAngle(bits: Array[Long], w: Int, h: Int,
                nCt: Int = 20, stdMax: Double = 3.0): Double = {
    val comps = Bitmap.connectedComponents(bits, w, h, Int.MaxValue, withPixels = true)
    if (comps.isEmpty) return 0.0
    val fitted = comps.map { c =>
      val (hx, hy) = convexHull(c.pixels, w)
      (polygonArea(hx, hy), minAreaRect(hx, hy))
    }.sortBy(-_._1).take(nCt).map(_._2)
    val angles = fitted.map(_.alpha)
    val mean = angles.sum / angles.length
    val std = math.sqrt(angles.map(a => (a - mean) * (a - mean)).sum / angles.length)
    if (std > stdMax) 0.0
    else {
      val angle = -mean
      // aspect vote: sum(widths) < sum(heights) → counterclockwise page
      if (fitted.map(_.w).sum < fitted.map(_.h).sum) 90 + angle else angle
    }
  }

  /** `rotate_page`'s rotation guard (/root/reference/cnstd/utils/_utils.py:177-178):
    * angles within `minAngle` of 0 or 90 degrees are not worth rotating.
    */
  def shouldRotate(angle: Double, minAngle: Double = 1.0): Boolean =
    math.abs(angle) >= minAngle && math.abs(angle) <= 90 - minAngle

  /** P12 `rotate_page` (/root/reference/cnstd/utils/_utils.py:162-183):
    * rotate the image counterclockwise by `angle` degrees about its center
    * into a same-sized, zero-padded frame (getRotationMatrix2D + warpAffine).
    * Guarded by shouldRotate, like the reference. Note: the reference passes
    * `center=(height/2, width/2)` where cv2 expects (x, y) — a swapped-center
    * quirk that only matters for non-square pages on a default-off path; this
    * restatement uses the true center (width/2, height/2).
    */
  def rotatePage(img: Resize.Img, angle: Double, minAngle: Double = 1.0): Resize.Img = {
    if (!shouldRotate(angle, minAngle)) return img
    val rad = math.toRadians(angle)
    val c = math.cos(rad)
    val s = math.sin(rad)
    val cx = img.w / 2.0
    val cy = img.h / 2.0
    // cv2.getRotationMatrix2D(center, angle, 1.0): CCW in image coords
    val m = Array(c, s, (1 - c) * cx - s * cy, -s, c, s * cx + (1 - c) * cy)
    Crop.warpAffine(img, m, img.w, img.h)
  }

  /** Rotated objectness: `np.sum(pred * mask) / np.count_nonzero(pred * mask)`
    * over the filled component (/root/reference/cnstd/model/core.py:100-105) —
    * note the denominator counts NONZERO products, not mask size.
    */
  def scoreRotated(cells: Array[Byte], off: Int, pixels: Array[Int]): Double = {
    var sum = 0L
    var nz = 0
    var i = 0
    while (i < pixels.length) {
      val v = cells(off + pixels(i)) & 0xff
      sum += v
      if (v != 0) nz += 1
      i += 1
    }
    if (nz == 0) 0.0 else sum.toDouble / 255.0 / nz
  }

  /** `score_mode='slow'` polygon mean: mean of pred over the filled component
    * mask (/root/reference/cnstd/ppocr/postprocess/db_postprocess.py:151-170,
    * toggle at :47-50) — denominator is the mask size.
    */
  def scoreSlow(cells: Array[Byte], off: Int, pixels: Array[Int]): Double = {
    if (pixels.isEmpty) return 0.0
    var sum = 0L
    var i = 0
    while (i < pixels.length) {
      sum += (cells(off + pixels(i)) & 0xff)
      i += 1
    }
    sum.toDouble / 255.0 / pixels.length
  }
}
