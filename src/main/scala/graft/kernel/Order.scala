package graft.kernel

import graft.schema.{Params, Region}

/** Reading-order sort and overlap dedup — the shared tail of all three
  * detection stages (/root/reference/cnstd/yolov7/layout_analyzer.py:329-330).
  * Both steps run over an effective rect in doubles, so the axis-aligned
  * regions (integer rects, exact in doubles) and the rotated path share one
  * comparator, one sort and one dedup loop. The reference does the same: the
  * rbbox becomes a sorted 4-point float array (transform_rbbox_to_bbox,
  * utils.py:382-384) and dedup takes (p0, p2) as the effective rect
  * (`_to_iou_box`, utils.py:453-455).
  */
object Order {

  /** Effective rect (x0, y0, x1, y1) the sort and dedup read. */
  final case class Rect(x0: Double, y0: Double, x1: Double, y1: Double)

  def rectOf(r: Region): Rect = Rect(r.x0, r.y0, r.x1, r.y1)

  /** The reference comparator (/root/reference/cnstd/utils/utils.py:415-434):
    * if the y-overlap ratio `inter_h / max(1, min(h1, h2))` exceeds 0.5 the
    * boxes are "on the same line" and order by x0, else by y0.
    */
  def compare(a: Rect, b: Rect): Int = {
    val yIou: Double =
      if (a.y1 <= b.y0 || b.y1 <= a.y0) 0.0
      else {
        val yMin = math.max(a.y0, b.y0)
        val yMax = math.min(a.y1, b.y1)
        (yMax - yMin) / math.max(1.0, math.min(a.y1 - a.y0, b.y1 - b.y0))
      }
    if (yIou > 0.5) java.lang.Double.compare(a.x0, b.x0) else java.lang.Double.compare(a.y0, b.y0)
  }

  /** intersection / area(cond), with the reference's 1e-6 epsilon
    * (cnstd/utils/utils.py:647-659 `box_partial_overlap`);
    * equal to Geom.partialOverlap on integer rects.
    */
  private def partialOverlap(a: Rect, cond: Rect): Double = {
    val iw = math.max(0.0, math.min(a.x1, cond.x1) - math.max(a.x0, cond.x0))
    val ih = math.max(0.0, math.min(a.y1, cond.y1) - math.max(a.y0, cond.y0))
    val condArea = math.max(0.0, cond.x1 - cond.x0) * math.max(0.0, cond.y1 - cond.y0)
    iw * ih / (condArea + 1e-6)
  }

  /** Stable binary-insertion sort with the comparator above. The reference
    * sorts with CPython Timsort over a comparator that is non-transitive on
    * chains of partial y-overlaps (SURVEY.md §7.5); our frozen deterministic
    * spec is stable binary insertion (identical to Timsort's small-array path
    * and to any stable sort whenever the comparator is consistent), which
    * never throws on inconsistent comparators and is partition-count
    * invariant. Region lists per media span are small (<= MaxDet).
    */
  def sortBoxes[T](items: Seq[T])(rect: T => Rect): Seq[T] = {
    val arr = items.toArray[Any]
    val rects = items.iterator.map(rect).toArray
    var i = 1
    while (i < arr.length) {
      val pv = arr(i); val pr = rects(i)
      // binary search for the leftmost position where compare(pivot, arr(pos)) < 0
      var lo = 0; var hi = i
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (compare(pr, rects(mid)) < 0) hi = mid else lo = mid + 1
      }
      var j = i
      while (j > lo) { arr(j) = arr(j - 1); rects(j) = rects(j - 1); j -= 1 }
      arr(lo) = pv; rects(lo) = pr
      i += 1
    }
    arr.toSeq.asInstanceOf[Seq[T]]
  }

  /** Exact re-statement of `dedup_boxes` (/root/reference/cnstd/utils/utils.py:452-475):
    * pairwise intersection-over-candidate-area; when the earlier box covers the
    * later at least as much as vice versa (v1 >= v2) the later is dropped if
    * v1 >= threshold, otherwise the earlier is dropped if v2 >= threshold.
    * Index-order sensitive by design — must run after sortBoxes.
    */
  def dedupBoxes[T](items: Seq[T], threshold: Double = Params.DedupThresh)(rect: T => Rect): Seq[T] = {
    val arr = items.toIndexedSeq
    val rects = arr.map(rect)
    val keep = Array.fill(arr.length)(true)
    var idx = 0
    while (idx < arr.length) {
      if (keep(idx)) {
        var l = idx + 1
        var broke = false
        while (l < arr.length && !broke) {
          if (keep(l)) {
            val v1 = partialOverlap(rects(idx), rects(l))
            val v2 = partialOverlap(rects(l), rects(idx))
            if (v1 >= v2) {
              if (v1 >= threshold) keep(l) = false
            } else if (v2 >= threshold) {
              keep(idx) = false
              broke = true
            }
          }
          l += 1
        }
      }
      idx += 1
    }
    arr.indices.collect { case i if keep(i) => arr(i) }
  }

  /** sort + dedup tail shared by every stage
    * (/root/reference/cnstd/yolov7/layout_analyzer.py:329-330).
    */
  def finalizeBy[T](items: Seq[T])(rect: T => Rect): Seq[T] =
    dedupBoxes(sortBoxes(items)(rect))(rect)

  def finalize(rs: Seq[Region]): Seq[Region] = finalizeBy(rs)(rectOf)
}
