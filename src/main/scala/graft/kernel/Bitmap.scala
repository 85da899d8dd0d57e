package graft.kernel

/** Per-image bitmap kernels: binarization, morphological opening, dilation
  * and the one connected-components labeler every detection path uses. All
  * within-row compute over one payload — never a distributed structure (one
  * image is one row; H*W is bounded by the payload codec).
  *
  * Hot path works on a Long-bitset bitmap built straight from the payload's
  * quantized byte cells — no Float[]/Boolean[] materialization per payload
  * (the kernel stage is memory-bandwidth-bound at high task parallelism).
  * Past the threshold the hot path never visits a pixel alone: dilation is
  * whole-word shifts and the labeler works on runs of set bits.
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
    *
    * Word-parallel: with pixel i = y*w + x at bit i, "up" is the bitset
    * shifted by w and "left" the bitset shifted by 1, so
    * out = t | (t << 1 minus column 0) with t = b | b << w. The column-0
    * bits of the shifted term came from the previous row's last column and
    * are cleared; bits shifted past w*h are cleared too.
    */
  def dilateBits(bits: Array[Long], w: Int, h: Int): Array[Long] = {
    val n = w * h
    val t = bits.clone()
    orShifted(t, bits, w)
    val left = new Array[Long](t.length)
    orShifted(left, t, 1)
    var y = 0
    while (y < h) {
      val p = y * w
      left(p >>> 6) &= ~(1L << (p & 63))
      y += 1
    }
    var i = 0
    while (i < t.length) {
      t(i) |= left(i)
      i += 1
    }
    // bits at w*h and above are padding: clear whatever the shifts put there
    val full = n >>> 6
    if (full < t.length) {
      t(full) &= (1L << (n & 63)) - 1
      java.util.Arrays.fill(t, full + 1, t.length, 0L)
    }
    t
  }

  /** dst |= src shifted up by k >= 0 bits (bit i of src lands on bit i + k). */
  private def orShifted(dst: Array[Long], src: Array[Long], k: Int): Unit = {
    val q = k >>> 6
    val r = k & 63
    var i = dst.length - 1
    while (i >= q) {
      val hi = src(i - q)
      dst(i) |= (if (r == 0) hi
                 else (hi << r) | (if (i - q - 1 >= 0) src(i - q - 1) >>> (64 - r) else 0L))
      i -= 1
    }
  }

  /** A connected component: its inclusive pixel-bounding box and, when the
    * labeler was asked for them, its pixels (pixel = y*w + x) in row-major
    * order, else an empty array.
    */
  final case class Component(xMin: Int, yMin: Int, xMax: Int, yMax: Int, pixels: Array[Int])

  /** 8-connected component labeling, components emitted in row-major
    * first-pixel order — the one labeler behind the axis-aligned box, the
    * rotated min-area rect, the slow polygon score and the page angle.
    * Replaces `cv2.findContours(RETR_EXTERNAL)` + `cv2.boundingRect`
    * (cnstd/model/base.py:115-117). Capped at the first `max` components
    * (/root/reference/cnstd/ppocr/postprocess/db_postprocess.py:37,71).
    * Reads `bits` and never writes it.
    *
    * Run-based two-scan labeling (He, Chao & Suzuki, "A Run-Based Two-Scan
    * Labeling Algorithm", IEEE TIP 2008): the first scan finds each row's
    * runs of set bits a word at a time and unions every run with the runs
    * of the row above that touch it under 8-connectivity (b0 <= a1 + 1 and
    * b1 >= a0 - 1). The union-find keeps the smallest run index as the root,
    * so the roots in index order are the components in row-major
    * first-pixel order, and every parent index is below its child's. The
    * second scan resolves runs in index order, folds each root's bounding
    * box and, when asked, fills the pixels run by run.
    *
    * @param withPixels also collect each component's pixels. Off, labeling
    *   allocates nothing per component beyond the Component: the
    *   axis-aligned hot path only reads the bounding box.
    */
  def connectedComponents(bits: Array[Long], w: Int, h: Int, max: Int,
                          withPixels: Boolean = false): Seq[Component] = {
    // run i covers columns x0(i)..x1(i) of row ry(i)
    var x0 = new Array[Int](64)
    var x1 = new Array[Int](64)
    var ry = new Array[Int](64)
    var parent = new Array[Int](64)
    var nRuns = 0
    var prevStart = 0 // the row above's runs are [prevStart, rowStart)
    var y = 0
    while (y < h) {
      val rowStart = nRuns
      val base = y * w
      val end = base + w
      var p = nextBit(bits, base, end, set = true)
      var j = prevStart
      while (p < end) {
        val q = nextBit(bits, p, end, set = false)
        if (nRuns == x0.length) {
          x0 = grow(x0); x1 = grow(x1); ry = grow(ry); parent = grow(parent)
        }
        val a0 = p - base
        val a1 = q - 1 - base
        x0(nRuns) = a0; x1(nRuns) = a1; ry(nRuns) = y; parent(nRuns) = nRuns
        // runs above that end left of a0 - 1 touch neither this run nor a later one
        while (j < rowStart && x1(j) < a0 - 1) j += 1
        var k = j
        while (k < rowStart && x0(k) <= a1 + 1) {
          val ra = root(parent, k)
          val rb = root(parent, nRuns)
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
          k += 1
        }
        nRuns += 1
        p = nextBit(bits, q, end, set = true)
      }
      prevStart = rowStart
      y += 1
    }
    // second scan: comp(i) = component index of run i, -1 past the cap. It
    // reuses `parent`: parent(i) <= i and lies in i's component, so it is
    // already resolved to the component index when run i is reached
    val comp = parent
    var nComp = 0
    var i = 0
    while (i < nRuns) {
      comp(i) =
        if (parent(i) != i) comp(parent(i))
        else if (nComp < max) { nComp += 1; nComp - 1 }
        else -1
      i += 1
    }
    val xMin = Array.fill(nComp)(Int.MaxValue)
    val yMin = Array.fill(nComp)(-1)
    val xMax = new Array[Int](nComp)
    val yMax = new Array[Int](nComp)
    val count = new Array[Int](nComp)
    i = 0
    while (i < nRuns) {
      val c = comp(i)
      if (c >= 0) {
        if (yMin(c) < 0) yMin(c) = ry(i)
        if (x0(i) < xMin(c)) xMin(c) = x0(i)
        if (x1(i) > xMax(c)) xMax(c) = x1(i)
        yMax(c) = ry(i)
        count(c) += x1(i) - x0(i) + 1
      }
      i += 1
    }
    val pixels = Array.tabulate(nComp)(c => if (withPixels) new Array[Int](count(c)) else Array.emptyIntArray)
    if (withPixels) {
      val fill = new Array[Int](nComp)
      i = 0
      while (i < nRuns) {
        val c = comp(i)
        if (c >= 0) {
          val px = pixels(c)
          val f = fill(c)
          val p0 = ry(i) * w + x0(i)
          var k = 0
          while (k <= x1(i) - x0(i)) { px(f + k) = p0 + k; k += 1 }
          fill(c) = f + k
        }
        i += 1
      }
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      Array.tabulate(nComp)(c => Component(xMin(c), yMin(c), xMax(c), yMax(c), pixels(c))))
  }

  private def grow(a: Array[Int]): Array[Int] = java.util.Arrays.copyOf(a, a.length * 2)

  /** Union-find root of run i, halving the path on the way. */
  private def root(parent: Array[Int], i: Int): Int = {
    var r = i
    while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
    r
  }

  /** The first index in [from, end) whose bit equals `set`, else `end`. */
  private def nextBit(bits: Array[Long], from: Int, end: Int, set: Boolean): Int = {
    if (from >= end) return end
    var wi = from >>> 6
    var word = (if (set) bits(wi) else ~bits(wi)) & (-1L << (from & 63))
    while (word == 0L) {
      wi += 1
      if ((wi << 6) >= end) return end
      word = if (set) bits(wi) else ~bits(wi)
    }
    math.min(end, (wi << 6) + java.lang.Long.numberOfTrailingZeros(word))
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
