package graft.kernel

import graft.schema.Region

/** Axis-aligned box geometry. All ops are pure; boxes are (x0, y0, x1, y1) with
  * x1/y1 exclusive in pixel space (so area = (x1-x0)*(y1-y0)).
  */
object Geom {

  def area(x0: Int, y0: Int, x1: Int, y1: Int): Double =
    math.max(0, x1 - x0).toDouble * math.max(0, y1 - y0).toDouble

  def interArea(a: Region, b: Region): Double = {
    val ix0 = math.max(a.x0, b.x0)
    val iy0 = math.max(a.y0, b.y0)
    val ix1 = math.min(a.x1, b.x1)
    val iy1 = math.min(a.y1, b.y1)
    area(ix0, iy0, ix1, iy1)
  }

  /** IoU between two regions (/root/reference/cnstd/utils/metrics.py:140-170). */
  def iou(a: Region, b: Region): Double = {
    val inter = interArea(a, b)
    val union = area(a.x0, a.y0, a.x1, a.y1) + area(b.x0, b.y0, b.x1, b.y1) - inter
    if (union <= 0) 0.0 else inter / union
  }

  /** intersection / area(condBox), with the reference's 1e-6 epsilon
    * (/root/reference/cnstd/utils/utils.py:647-659 `box_partial_overlap`).
    */
  def partialOverlap(a: Region, condBox: Region): Double =
    interArea(a, condBox) / (area(condBox.x0, condBox.y0, condBox.x1, condBox.y1) + 1e-6)

  /** Closed-form "unclip" of an axis-aligned rectangle: offset distance
    * d = area * ratio / perimeter (/root/reference/cnstd/model/base.py:74-79),
    * then the bounding rect of the round-joint offset polygon, which for a
    * rectangle is the rectangle grown by d on every side
    * (floor/ceil mirrors cv2.boundingRect over the integer-rounded offset path,
    * /root/reference/cnstd/model/base.py:80-98). Returns (x0, y0, x1, y1), unclipped
    * to image bounds (clipping is the caller's step).
    */
  def unclipRect(x0: Int, y0: Int, x1: Int, y1: Int, ratio: Double): (Int, Int, Int, Int) = {
    val w = (x1 - x0).toDouble
    val h = (y1 - y0).toDouble
    val perimeter = 2.0 * (w + h)
    val d = if (perimeter <= 0) 0.0 else w * h * ratio / perimeter
    (math.floor(x0 - d).toInt, math.floor(y0 - d).toInt,
      math.ceil(x1 + d).toInt, math.ceil(y1 + d).toInt)
  }

  /** Clamp a box to [0,w] x [0,h] (/root/reference/cnstd/yolov7/general.py:317-322). */
  def clip(x0: Int, y0: Int, x1: Int, y1: Int, w: Int, h: Int): (Int, Int, Int, Int) =
    (math.min(math.max(x0, 0), w), math.min(math.max(y0, 0), h),
      math.min(math.max(x1, 0), w), math.min(math.max(y1, 0), h))
}
