package graft.kernel

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.GenData
import graft.schema.Params

/** The run-based labeler, the word-parallel dilation and the row-extreme
  * hull give exactly what their per-pixel references (BitmapReference) give:
  * on random bitmaps, on the generated STD payloads and on the edge cases of
  * the word layout (rows that start or end on a word boundary, one-pixel
  * rows and columns, diagonal-only connectivity, every cap).
  */
class BitmapPropertySpec extends AnyFunSuite {

  private type Bits = (Array[Long], Int, Int)

  /** Random bitmaps; `dirty` also sets bits past w*h, which every kernel
    * must ignore.
    */
  private def random(rng: scala.util.Random, maxW: Int, maxH: Int, dirty: Boolean): Bits = {
    val w = 1 + rng.nextInt(maxW)
    val h = 1 + rng.nextInt(maxH)
    val n = w * h
    val bits = new Array[Long]((n + 63) >>> 6)
    if (rng.nextInt(4) == 0) { // blobs: a few solid rects, some touching only at corners
      for (_ <- 0 until 1 + rng.nextInt(12)) {
        val (x0, y0) = (rng.nextInt(w), rng.nextInt(h))
        val (x1, y1) = (math.min(w, x0 + 1 + rng.nextInt(9)), math.min(h, y0 + 1 + rng.nextInt(6)))
        for (y <- y0 until y1; x <- x0 until x1) set(bits, y * w + x)
      }
    } else {
      val density = Seq(0.05, 0.2, 0.4, 0.6, 0.8, 0.95)(rng.nextInt(6))
      for (i <- 0 until n if rng.nextDouble() < density) set(bits, i)
    }
    if (dirty) for (i <- n until bits.length * 64) if (rng.nextBoolean()) set(bits, i)
    (bits, w, h)
  }

  private def set(bits: Array[Long], i: Int): Unit = bits(i >>> 6) |= 1L << (i & 63)

  private def fill(w: Int, h: Int)(on: (Int, Int) => Boolean): Bits = {
    val bits = new Array[Long]((w * h + 63) >>> 6)
    for (y <- 0 until h; x <- 0 until w if on(x, y)) set(bits, y * w + x)
    (bits, w, h)
  }

  /** Edge cases: one row, one column, one pixel, widths around the word
    * size, all-ones, and a checkerboard (connected only through diagonals).
    */
  private val edges: Seq[(String, Bits)] = {
    val widths = Seq(1, 2, 63, 64, 65, 127, 128, 129)
    val shapes: Seq[(String, (Int, Int) => Boolean)] = Seq(
      ("all-ones", (_, _) => true),
      ("checkerboard", (x, y) => (x + y) % 2 == 0),
      ("anti-checkerboard", (x, y) => (x + y) % 2 == 1),
      ("stripes", (x, _) => x % 3 != 1),
      ("staircase", (x, y) => x == y || x == y + 1),
      ("first and last column", (x, _) => x == 0 || x % 64 == 63))
    for {
      w <- widths
      h <- Seq(1, 2, 3, 7)
      (name, on) <- shapes
    } yield (s"$name ${w}x$h", fill(w, h)(on))
  }

  private def sameComponents(got: Seq[Bitmap.Component], want: Seq[Bitmap.Component],
                             what: => String): Unit = {
    def box(c: Bitmap.Component) = (c.xMin, c.yMin, c.xMax, c.yMax)
    assert(got.map(box) == want.map(box), what)
    assert(got.map(_.pixels.sorted.toSeq) == want.map(_.pixels.sorted.toSeq), s"pixels: $what")
  }

  private def checkLabeler(b: Bits, max: Int, what: => String): Unit = {
    val (bits, w, h) = b
    val before = bits.clone()
    for (px <- Seq(false, true))
      sameComponents(Bitmap.connectedComponents(bits, w, h, max, px),
        BitmapReference.floodFill(bits, w, h, max, px), s"$what max=$max withPixels=$px")
    assert(bits.sameElements(before), s"labeler wrote its input: $what")
  }

  private def checkDilation(b: Bits, what: => String): Unit = {
    val (bits, w, h) = b
    assert(Bitmap.dilateBits(bits, w, h).sameElements(BitmapReference.dilate(bits, w, h)), what)
  }

  test("labeler equals the flood fill on random bitmaps, every cap, with and without pixels") {
    val rng = new scala.util.Random(17L)
    for (i <- 0 until 4000) {
      val b = random(rng, 130, 70, dirty = i % 5 == 0)
      checkLabeler(b, if (i % 2 == 0) 1000 else 1 + rng.nextInt(5), s"random #$i ${b._2}x${b._3}")
    }
  }

  test("labeler equals the flood fill on the edge cases, caps 1 to 5 and uncapped") {
    for ((name, b) <- edges; max <- Seq(1, 2, 3, 4, 5, Int.MaxValue)) checkLabeler(b, max, name)
  }

  test("labeler equals the flood fill on generated STD payloads") {
    var labeled = 0
    for (i <- 0 until 600; m <- GenData.media(GenData.DefaultSeed, GenData.doc(GenData.DefaultSeed, i)))
      Payload.decode(m.payload) match {
        case Payload.ProbMap(w, h, cells, off) =>
          val bits = Bitmap.thresholdBits(cells, off, w * h, Params.BinThresh)
          checkLabeler((bits, w, h), Params.MaxCandidates, m.media_ref)
          checkDilation((bits, w, h), m.media_ref)
          labeled += 1
        case _ =>
      }
    assert(labeled > 100)
  }

  test("dilation equals the per-pixel reference on random bitmaps and the edge cases") {
    val rng = new scala.util.Random(29L)
    for (i <- 0 until 4000) {
      val b = random(rng, 200, 90, dirty = i % 5 == 0)
      checkDilation(b, s"random #$i ${b._2}x${b._3}")
    }
    for ((name, b) <- edges) checkDilation(b, name)
  }

  test("hull over row extremes equals the chain over every pixel, in any pixel order") {
    val rng = new scala.util.Random(41L)
    var hulls = 0
    for (i <- 0 until 1500) {
      val (bits, w, h) = random(rng, 90, 60, dirty = false)
      for (c <- Bitmap.connectedComponents(bits, w, h, 1000, withPixels = true)) {
        val want = BitmapReference.convexHull(c.pixels, w)
        val shuffled = rng.shuffle(c.pixels.toSeq).toArray
        for (px <- Seq(c.pixels, shuffled)) {
          val (xs, ys) = Rotated.convexHull(px, w)
          assert(xs.toSeq == want._1.toSeq && ys.toSeq == want._2.toSeq, s"random #$i $c")
        }
        hulls += 1
      }
    }
    assert(hulls > 10000)
  }
}
