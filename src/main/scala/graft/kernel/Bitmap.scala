package graft.kernel

/** Per-image bitmap kernels: binarization, morphological opening, dilation
  * and the one connected-components labeler every detection path uses. All
  * within-row compute over one payload — never a distributed structure (one
  * image is one row; H*W is bounded by the payload codec).
  *
  * Hot path works on a Long-bitset bitmap built straight from the payload's
  * quantized byte cells — no Float[]/Boolean[] materialization per payload
  * (the kernel stage is memory-bandwidth-bound at high task parallelism).
  */
object Bitmap {

  /** `proba_map > bin_thresh` (/root/reference/cnstd/model/core.py:121),
    * compared in float32 as numpy does when broadcasting a scalar threshold
    * against a float32 map. On quantized cells this reduces to a byte
    * comparison against the smallest byte whose prob exceeds the threshold.
    */
  def thresholdByte(thresh: Double): Int = {
    val t = thresh.toFloat
    var b = 0
    while (b <= 255 && !((b / 255.0f) > t)) b += 1
    b
  }

  /** Bitset bitmap from quantized cells; bit i = cell i above threshold. */
  def thresholdBits(cells: Array[Byte], off: Int, n: Int, thresh: Double): Array[Long] = {
    val minByte = thresholdByte(thresh)
    val bits = new Array[Long]((n + 63) >>> 6)
    var i = 0
    while (i < n) {
      if ((cells(off + i) & 0xff) >= minByte) bits(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    bits
  }

  @inline private def bit(bits: Array[Long], i: Int): Boolean =
    (bits(i >>> 6) & (1L << (i & 63))) != 0

  /** Morphological opening (erosion then dilation) with a k x k all-ones
    * kernel anchored at (k/2, k/2), zero-padded borders — the semantics of
    * `cv2.morphologyEx(MORPH_OPEN, ones(k,k))` (/root/reference/cnstd/model/core.py:124-130,
    * k = 1 + H/512). k == 1 is the identity; payload heights only exceed 512
    * rarely, so the general path may be boolean-array based.
    */
  def morphOpenBits(bits: Array[Long], w: Int, h: Int, k: Int): Array[Long] = {
    if (k <= 1) return bits
    val bm = new Array[Boolean](w * h)
    var i = 0
    while (i < w * h) { bm(i) = bit(bits, i); i += 1 }
    val opened = morphOpen(bm, w, h, k)
    val out = new Array[Long](bits.length)
    i = 0
    while (i < w * h) { if (opened(i)) out(i >>> 6) |= 1L << (i & 63); i += 1 }
    out
  }

  /** Boolean-array opening (general k; used by morphOpenBits and tests). */
  def morphOpen(bm: Array[Boolean], w: Int, h: Int, k: Int): Array[Boolean] = {
    if (k <= 1) return bm
    val a = k / 2
    val eroded = window(bm, w, h, k, a, and = true)
    window(eroded, w, h, k, a, and = false)
  }

  private def window(bm: Array[Boolean], w: Int, h: Int, k: Int, a: Int, and: Boolean): Array[Boolean] = {
    val out = new Array[Boolean](bm.length)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var acc = and
        var dy = -a
        while (dy < k - a) {
          var dx = -a
          while (dx < k - a) {
            val yy = y + dy
            val xx = x + dx
            // out-of-bounds reads as false (zero padding)
            val v = yy >= 0 && yy < h && xx >= 0 && xx < w && bm(yy * w + xx)
            acc = if (and) acc && v else acc || v
            dx += 1
          }
          dy += 1
        }
        out(y * w + x) = acc
        x += 1
      }
      y += 1
    }
    out
  }

  /** PP `use_dilation` (default off): 2x2 all-ones dilation of the binarized
    * mask before component search
    * (/root/reference/cnstd/ppocr/postprocess/db_postprocess.py:52-53,182-187
    * — `cv2.dilate(mask, np.array([[1,1],[1,1]]))`). Frozen convention for
    * the even kernel's anchor (cv2's even-kernel anchor handling is
    * version-dependent): out(x,y) = OR of (x-1..x, y-1..y) — self, left, up,
    * up-left — which bridges 1-pixel diagonal/axis gaps either way.
    */
  def dilateBits(bits: Array[Long], w: Int, h: Int): Array[Long] = {
    val out = new Array[Long](bits.length)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = bit(bits, y * w + x) ||
          (x > 0 && bit(bits, y * w + x - 1)) ||
          (y > 0 && bit(bits, (y - 1) * w + x)) ||
          (x > 0 && y > 0 && bit(bits, (y - 1) * w + x - 1))
        if (v) out((y * w + x) >>> 6) |= 1L << ((y * w + x) & 63)
        x += 1
      }
      y += 1
    }
    out
  }

  /** A connected component: its inclusive pixel-bounding box and, when the
    * labeler was asked for them, its pixels (pixel = y*w + x) in fill order,
    * else an empty array. Consumers sort or sum the pixels, so the order
    * never reaches an output.
    */
  final case class Component(xMin: Int, yMin: Int, xMax: Int, yMax: Int, pixels: Array[Int])

  /** 8-connected component labeling via flood fill over the bitset,
    * components emitted in row-major first-pixel order — the one labeler
    * behind the axis-aligned box, the rotated min-area rect, the slow polygon
    * score and the page angle. DESTRUCTIVE: visited bits are cleared (the
    * bitset doubles as the visited set). Replaces
    * `cv2.findContours(RETR_EXTERNAL)` + `cv2.boundingRect`
    * (cnstd/model/base.py:115-117). Capped at `max` components
    * (/root/reference/cnstd/ppocr/postprocess/db_postprocess.py:37,71).
    *
    * @param withPixels also collect each component's pixels. Off, the fill
    *   allocates nothing per component beyond the Component: the axis-aligned
    *   hot path only reads the bounding box.
    */
  def connectedComponents(bits: Array[Long], w: Int, h: Int, max: Int,
                          withPixels: Boolean = false): Seq[Component] = {
    val n = w * h
    val out = scala.collection.mutable.ArrayBuffer.empty[Component]
    var stack = new Array[Int](256)
    var pixels = if (withPixels) new Array[Int](256) else Array.emptyIntArray
    var word = 0
    while (word < bits.length && out.length < max) {
      while (bits(word) != 0L && out.length < max) {
        val start = (word << 6) + java.lang.Long.numberOfTrailingZeros(bits(word))
        if (start >= n) { bits(word) = 0L } // padding bits (never set, defensive)
        else {
          var xMin = Int.MaxValue; var yMin = Int.MaxValue
          var xMax = Int.MinValue; var yMax = Int.MinValue
          bits(start >>> 6) &= ~(1L << (start & 63))
          stack(0) = start
          var sp = 1
          var count = 0
          while (sp > 0) {
            sp -= 1
            val p = stack(sp)
            if (withPixels) {
              if (count == pixels.length) pixels = java.util.Arrays.copyOf(pixels, count * 2)
              pixels(count) = p
              count += 1
            }
            val px = p % w
            val py = p / w
            if (px < xMin) xMin = px
            if (px > xMax) xMax = px
            if (py < yMin) yMin = py
            if (py > yMax) yMax = py
            var dy = -1
            while (dy <= 1) {
              var dx = -1
              while (dx <= 1) {
                val ny = py + dy
                val nx = px + dx
                if (ny >= 0 && ny < h && nx >= 0 && nx < w) {
                  val np = ny * w + nx
                  if (bit(bits, np)) {
                    bits(np >>> 6) &= ~(1L << (np & 63))
                    if (sp == stack.length) stack = java.util.Arrays.copyOf(stack, sp * 2)
                    stack(sp) = np
                    sp += 1
                  }
                }
                dx += 1
              }
              dy += 1
            }
          }
          out += Component(xMin, yMin, xMax, yMax,
            if (withPixels) java.util.Arrays.copyOf(pixels, count) else pixels)
        }
      }
      word += 1
    }
    out.toSeq
  }

  /** A9: IoU of two boolean masks held as bitsets — `mask_iou`
    * (/root/reference/cnstd/utils/metrics.py:202-234): popcount(and)/popcount(or).
    */
  def maskIoU(a: Array[Long], b: Array[Long]): Double = {
    require(a.length == b.length, "mask shapes must match")
    var inter = 0L
    var union = 0L
    var i = 0
    while (i < a.length) {
      inter += java.lang.Long.bitCount(a(i) & b(i))
      union += java.lang.Long.bitCount(a(i) | b(i))
      i += 1
    }
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Mean probability over the inclusive rect [x0..x1] x [y0..y1], clipped to
    * bounds — `box_score` fast path (/root/reference/cnstd/model/core.py:92-99).
    * Frozen spec: mean = (sum of quantized cells) / 255 / count, in double.
    */
  def rectMean(cells: Array[Byte], off: Int, w: Int, h: Int,
               x0: Int, y0: Int, x1: Int, y1: Int): Double = {
    val cx0 = math.min(math.max(x0, 0), w - 1)
    val cx1 = math.min(math.max(x1, 0), w - 1)
    val cy0 = math.min(math.max(y0, 0), h - 1)
    val cy1 = math.min(math.max(y1, 0), h - 1)
    var sum = 0L
    var y = cy0
    while (y <= cy1) {
      val rowOff = off + y * w
      var x = cx0
      while (x <= cx1) {
        sum += (cells(rowOff + x) & 0xff)
        x += 1
      }
      y += 1
    }
    val n = (cx1 - cx0 + 1).toLong * (cy1 - cy0 + 1).toLong
    if (n == 0) 0.0 else sum.toDouble / 255.0 / n
  }
}
