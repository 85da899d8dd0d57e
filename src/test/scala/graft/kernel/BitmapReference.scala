package graft.kernel

/** Per-pixel test references for the word- and run-level bitmap kernels:
  * the flood-fill labeler, the per-pixel 2x2 dilation and the monotone
  * chain over every pixel. Each reads one bit at a time, so it is slow and
  * easy to check by eye; BitmapPropertySpec asserts that `Bitmap` and
  * `Rotated` give exactly what these give.
  */
object BitmapReference {

  private def bit(bits: Array[Long], i: Int): Boolean =
    (bits(i >>> 6) & (1L << (i & 63))) != 0

  /** 8-connected flood fill over a copy of `bits`, components in row-major
    * first-pixel order, capped at `max`; pixels in fill order.
    */
  def floodFill(bits0: Array[Long], w: Int, h: Int, max: Int,
                withPixels: Boolean): Seq[Bitmap.Component] = {
    val bits = bits0.clone() // the bitset doubles as the visited set
    val n = w * h
    val out = scala.collection.mutable.ArrayBuffer.empty[Bitmap.Component]
    var word = 0
    while (word < bits.length && out.length < max) {
      while (bits(word) != 0L && out.length < max) {
        val start = (word << 6) + java.lang.Long.numberOfTrailingZeros(bits(word))
        if (start >= n) bits(word) &= ~(1L << (start & 63)) // padding bit
        else {
          var xMin = Int.MaxValue; var yMin = Int.MaxValue
          var xMax = Int.MinValue; var yMax = Int.MinValue
          val pixels = scala.collection.mutable.ArrayBuffer.empty[Int]
          val stack = scala.collection.mutable.Stack(start)
          bits(start >>> 6) &= ~(1L << (start & 63))
          while (stack.nonEmpty) {
            val p = stack.pop()
            if (withPixels) pixels += p
            val px = p % w
            val py = p / w
            xMin = math.min(xMin, px); xMax = math.max(xMax, px)
            yMin = math.min(yMin, py); yMax = math.max(yMax, py)
            for (dy <- -1 to 1; dx <- -1 to 1) {
              val ny = py + dy
              val nx = px + dx
              if (ny >= 0 && ny < h && nx >= 0 && nx < w && bit(bits, ny * w + nx)) {
                bits((ny * w + nx) >>> 6) &= ~(1L << ((ny * w + nx) & 63))
                stack.push(ny * w + nx)
              }
            }
          }
          out += Bitmap.Component(xMin, yMin, xMax, yMax, pixels.toArray)
        }
      }
      word += 1
    }
    out.toSeq
  }

  /** out(x,y) = OR of self, left, up and up-left, one pixel at a time. */
  def dilate(bits: Array[Long], w: Int, h: Int): Array[Long] = {
    val out = new Array[Long](bits.length)
    for (y <- 0 until h; x <- 0 until w) {
      val v = bit(bits, y * w + x) ||
        (x > 0 && bit(bits, y * w + x - 1)) ||
        (y > 0 && bit(bits, (y - 1) * w + x)) ||
        (x > 0 && y > 0 && bit(bits, (y - 1) * w + x - 1))
      if (v) out((y * w + x) >>> 6) |= 1L << ((y * w + x) & 63)
    }
    out
  }

  /** Andrew's monotone chain over every pixel, the form `Rotated.convexHull`
    * must reproduce.
    */
  def convexHull(pixels: Array[Int], w: Int): (Array[Double], Array[Double]) = {
    val pts = pixels.map(p => ((p % w).toLong << 32) | (p / w).toLong).sorted
    def x(i: Long): Double = (i >> 32).toDouble
    def y(i: Long): Double = (i & 0xffffffffL).toInt.toDouble
    def cross(o: Long, a: Long, b: Long): Double =
      (x(a) - x(o)) * (y(b) - y(o)) - (y(a) - y(o)) * (x(b) - x(o))
    val hull = scala.collection.mutable.ArrayBuffer.empty[Long]
    // pop while the last turn is not counter-clockwise, down to floor - 1 points
    def chain(order: Seq[Long], floor: Int): Unit =
      order.foreach { p =>
        while (hull.length >= floor && cross(hull(hull.length - 2), hull.last, p) <= 0)
          hull.remove(hull.length - 1)
        hull += p
      }
    chain(pts.toSeq, 2) // lower
    chain(pts.reverse.toSeq.drop(1), hull.length + 1) // upper, from the lower's last point
    val m = math.max(1, hull.length - 1) // last point == first point
    (hull.take(m).map(x).toArray, hull.take(m).map(y).toArray)
  }
}
