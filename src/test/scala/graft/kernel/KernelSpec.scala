package graft.kernel

import org.scalatest.funsuite.AnyFunSuite
import graft.schema.{DetectConfig, Params, Region, Vocab}

class GeomSpec extends AnyFunSuite {
  test("iou of identical boxes is 1, disjoint is 0") {
    val a = Region("x", 0, 0, 10, 10, 1.0)
    assert(Geom.iou(a, a) == 1.0)
    assert(Geom.iou(a, Region("x", 20, 20, 30, 30, 1.0)) == 0.0)
  }

  test("partialOverlap is intersection over cond-box area") {
    val big = Region("x", 0, 0, 10, 10, 1.0)
    val small = Region("x", 0, 0, 5, 5, 1.0)
    assert(math.abs(Geom.partialOverlap(big, small) - 1.0) < 1e-4)
    assert(math.abs(Geom.partialOverlap(small, big) - 0.25) < 1e-4)
  }

  test("unclipRect grows by d = area*ratio/perimeter on all sides") {
    // 20x15 rect: d = 300*1.5/70 = 6.4286
    val (x0, y0, x1, y1) = Geom.unclipRect(10, 10, 30, 25, 1.5)
    assert((x0, y0, x1, y1) == (3, 3, 37, 32))
  }

  test("clip clamps to image bounds") {
    assert(Geom.clip(-5, -5, 70, 70, 64, 64) == (0, 0, 64, 64))
  }
}

class BitmapSpec extends AnyFunSuite {
  private def box(c: Bitmap.Component) = (c.xMin, c.yMin, c.xMax, c.yMax)
  private def mk(w: Int, h: Int, boxes: Seq[(Int, Int, Int, Int)], v: Int = 240): Array[Byte] = {
    val cells = new Array[Byte](w * h)
    for ((x0, y0, x1, y1) <- boxes; y <- y0 until y1; x <- x0 until x1)
      cells(y * w + x) = v.toByte
    cells
  }

  test("threshold byte boundary matches float32 semantics (b/255f > 0.3f)") {
    assert(Bitmap.thresholdByte(0.3) == 77) // 76/255f = 0.298 <= 0.3f < 77/255f
    val cells = Array[Byte](76, 77, 120)
    val bits = Bitmap.thresholdBits(cells, 0, 3, 0.3)
    assert((0 until 3).map(i => (bits(0) >> i & 1) == 1) == Seq(false, true, true))
  }

  test("connected components finds separate blobs in row-major order") {
    val bits = Bitmap.thresholdBits(mk(64, 64, Seq((5, 5, 15, 12), (40, 40, 55, 50))), 0, 64 * 64, 0.3)
    val comps = Bitmap.connectedComponents(bits.clone(), 64, 64, 1000, withPixels = true)
    assert(comps.map(box) == Seq((5, 5, 14, 11), (40, 40, 54, 49)))
    // each component carries exactly its blob's pixels
    assert(comps.map(_.pixels.sorted.toSeq) == Seq(
      for (y <- 5 until 12; x <- 5 until 15) yield y * 64 + x,
      for (y <- 40 until 50; x <- 40 until 55) yield y * 64 + x))
    // without pixels: the same boxes, empty pixel arrays
    val boxesOnly = Bitmap.connectedComponents(bits, 64, 64, 1000)
    assert(boxesOnly.map(box) == comps.map(box) && boxesOnly.forall(_.pixels.isEmpty))
  }

  test("8-connectivity merges diagonal touch") {
    val bits = Bitmap.thresholdBits(mk(16, 16, Seq((0, 0, 3, 3), (3, 3, 6, 6))), 0, 256, 0.3)
    val comps = Bitmap.connectedComponents(bits, 16, 16, 1000, withPixels = true)
    assert(comps.length == 1)
    assert(box(comps.head) == ((0, 0, 5, 5)))
    assert(comps.head.pixels.length == 18)
  }

  test("morphOpen k=2 removes 1px spurs, keeps solid blobs") {
    val bits = Bitmap.thresholdBits(mk(16, 16, Seq((2, 2, 8, 8), (12, 12, 13, 13))), 0, 256, 0.3)
    val opened = Bitmap.morphOpenBits(bits, 16, 16, 2)
    val comps = Bitmap.connectedComponents(opened, 16, 16, 1000)
    assert(comps.length == 1)
  }

  test("rectMean averages over the inclusive clipped rect") {
    val cells = mk(10, 10, Seq((0, 0, 2, 2)), v = 255)
    // rect [0..1]x[0..1]: 4 cells all 1.0
    assert(math.abs(Bitmap.rectMean(cells, 0, 10, 10, 0, 0, 1, 1) - 1.0) < 1e-6)
    // rect [0..2]x[0..2]: 9 cells, 4 ones
    assert(math.abs(Bitmap.rectMean(cells, 0, 10, 10, 0, 0, 2, 2) - 4.0 / 9) < 1e-6)
  }
}

class OrderSpec extends AnyFunSuite {
  private def r(x0: Int, y0: Int, x1: Int, y1: Int, s: Double = 0.9) =
    Region("t", x0, y0, x1, y1, s)

  test("reading order on a 2x2 grid: top-left, top-right, bottom-left, bottom-right") {
    // mirrors /root/reference/tests/test_utils.py:11-21
    val tl = r(0, 0, 10, 10)
    val tr = r(20, 0, 30, 10)
    val bl = r(0, 20, 10, 30)
    val br = r(20, 20, 30, 30)
    assert(Order.sortBoxes(Seq(br, tl, bl, tr))(Order.rectOf) == Seq(tl, tr, bl, br))
  }

  test("y-overlap > 0.5 orders by x even when y0 differs") {
    val a = r(50, 0, 60, 20) // starts higher but to the right
    val b = r(0, 5, 10, 25)  // overlap height 15 / min(20,20) = 0.75 > 0.5
    assert(Order.sortBoxes(Seq(a, b))(Order.rectOf) == Seq(b, a))
  }

  test("dedup drops the more-covered box; earlier wins ties") {
    val big = r(0, 0, 10, 10)
    val small = r(0, 0, 5, 5)
    assert(Order.dedupBoxes(Seq(big, small))(Order.rectOf) == Seq(big))
    assert(Order.dedupBoxes(Seq(small, big))(Order.rectOf) == Seq(big))
    val dup = r(0, 0, 10, 10)
    assert(Order.dedupBoxes(Seq(big, dup))(Order.rectOf) == Seq(big)) // equal coverage: first kept
  }

  test("dedup keeps boxes below threshold") {
    val a = r(0, 0, 10, 10)
    val b = r(9, 9, 20, 20) // inter 1, v = 1/100 < 0.1
    assert(Order.dedupBoxes(Seq(a, b))(Order.rectOf) == Seq(a, b))
  }
}

class DetectSpec extends AnyFunSuite {
  private def mapWith(w: Int, h: Int, boxes: Seq[(Int, Int, Int, Int, Int)]): Array[Byte] = {
    val cells = new Array[Byte](w * h)
    for ((x0, y0, x1, y1, v) <- boxes; y <- y0 until y1; x <- x0 until x1)
      cells(y * w + x) = v.toByte
    cells
  }
  private def std(cells: Array[Byte], w: Int, h: Int) = Detect.std(cells, 0, w, h)

  test("fx01: single strong blob yields one region with the unclipped box") {
    val probs = mapWith(64, 64, Seq((10, 10, 30, 25, 240)))
    val rs = std(probs, 64, 64)
    assert(rs.length == 1)
    val r = rs.head
    assert((r.x0, r.y0, r.x1, r.y1) == (3, 3, 37, 32))
    assert(r.kind == Vocab.StdKind)
    // score: 300 cells of 240/255 over the 21x16 inclusive rect
    assert(math.abs(r.score - (240 / 255.0) * 300 / 336) < 1e-6)
  }

  test("fx04: weak and tiny blobs are filtered") {
    val probs = mapWith(64, 64,
      Seq((10, 10, 30, 25, 110), // above bin_thresh, mean < box_thresh
          (40, 40, 41, 41, 240))) // 1px: extent filter
    assert(std(probs, 64, 64).isEmpty)
  }

  test("fx10: stacked blobs come out in reading order despite reversed emission") {
    val probs = mapWith(64, 192, Seq((10, 10, 40, 25, 240), (10, 70, 40, 85, 240), (10, 130, 40, 145, 240)))
    val rs = Order.finalize(std(probs, 64, 192))
    assert(rs.map(_.y0) == rs.map(_.y0).sorted)
    assert(rs.length == 3)
  }

  test("yolo: conf filter, per-class NMS, ascending-conf emission, margin expand") {
    val cands = Seq(
      Payload.Candidate(0, 100, 100, 50, 40, 0.9f),
      Payload.Candidate(0, 102, 101, 50, 40, 0.8f), // same class, IoU > 0.45 → suppressed
      Payload.Candidate(1, 102, 101, 50, 40, 0.7f), // other class survives
      Payload.Candidate(0, 300, 300, 60, 60, 0.5f),
      Payload.Candidate(0, 400, 400, 30, 30, 0.1f)) // below conf 0.25
    val rs = Detect.yolo(Vocab.StageMfd, 640, 640, cands)
    assert(rs.length == 3)
    // ascending confidence order (reversed(det))
    assert(rs.map(_.score) == rs.map(_.score).sorted)
    val top = rs.find(_.score == 0.9f.toDouble).get
    // box 75..125 x 80..120, margin 2
    assert((top.x0, top.y0, top.x1, top.y1) == (73, 78, 127, 122))
    assert(top.kind == "mfd_embedding")
    assert(rs.exists(_.kind == "mfd_isolated"))
  }

  test("yolo: empty result guard") {
    assert(Detect.yolo(Vocab.StageMfd, 640, 640, Seq(Payload.Candidate(0, 10, 10, 5, 5, 0.1f))).isEmpty)
  }

  test("payload codec round-trips both stages") {
    val cells = Array.tabulate(32 * 16)(i => (i % 251).toByte)
    Payload.decode(Payload.encodeProbMap(32, 16, cells)) match {
      case pm @ Payload.ProbMap(w, h, _, _) =>
        assert(w == 32 && h == 16)
        assert(math.abs(pm.prob(5) - (5 / 255.0f)) < 1e-6)
      case other => fail(s"unexpected $other")
    }
    val cs = Seq(Payload.Candidate(1, 1.5f, 2.5f, 3f, 4f, 0.5f))
    Payload.decode(Payload.encodeCandidates(Vocab.StageLayout, 100, 200, cs)) match {
      case Payload.Candidates(stage, w, h, got) =>
        assert(stage == Vocab.StageLayout && w == 100 && h == 200 && got == cs)
      case other => fail(s"unexpected $other")
    }
    // hostile STD headers (negative, zero, oversized, truncated or padded
    // body) fail in decode, before any w * h allocation
    def header(w: Int, h: Int, body: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(7 + body)
      bb.put(Payload.Magic).put(Payload.Version).put(Vocab.StageStd.toByte)
      bb.putShort(w.toShort).putShort(h.toShort)
      bb.array()
    }
    Seq(header(-200, 100, 64), header(32, -16, 64), header(0, 16, 0), header(32, 0, 0),
        header(32767, 32767, 64), header(32, 16, 32 * 16 - 1), header(32, 16, 32 * 16 + 1)
    ).foreach { p =>
      intercept[IllegalArgumentException](Payload.decode(p))
      assert(Detect.extractRenderedSafe(p, DetectConfig.Default) == ((Nil, true)))
    }
  }

  test("std caps components at max_candidates") {
    // 33x33 grid of 2x2 blobs = 1089 components > 1000, spaced 6px apart
    val w = 220; val h = 220
    val cells = new Array[Byte](w * h)
    for (gy <- 0 until 33; gx <- 0 until 33; dy <- 0 until 2; dx <- 0 until 2) {
      val x = gx * 6 + dx; val y = gy * 6 + dy
      cells(y * w + x) = 240.toByte
    }
    val bits = Bitmap.thresholdBits(cells, 0, w * h, Params.BinThresh)
    val comps = Bitmap.connectedComponents(bits, w, h, Params.MaxCandidates)
    assert(comps.length == Params.MaxCandidates)
  }
}
