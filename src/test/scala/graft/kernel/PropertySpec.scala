package graft.kernel

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.schema.{Params, Region}
import graft.pipeline.GenData

/** Property-based invariants the reference implies (SURVEY.md §5.3).
  * ScalaCheck generators are driven with fixed seeds (no scalatestplus bridge
  * in the offline cache), so failures are reproducible.
  */
class PropertySpec extends AnyFunSuite {

  private val regionGen: Gen[Region] = for {
    x0 <- Gen.choose(0, 200)
    y0 <- Gen.choose(0, 200)
    w <- Gen.choose(1, 100)
    h <- Gen.choose(1, 100)
    s <- Gen.choose(0.0, 1.0)
  } yield Region("t", x0, y0, x0 + w, y0 + h, s)

  private val regionsGen: Gen[List[Region]] = Gen.listOfN(12, regionGen)

  /** The rotated path's effective rects: non-integer corners, some boxes
    * thinner than the comparator's 1px height floor.
    */
  private val rectsGen: Gen[List[Order.Rect]] = Gen.listOfN(12, for {
    x0 <- Gen.choose(0.0, 200.0)
    y0 <- Gen.choose(0.0, 200.0)
    w <- Gen.choose(0.1, 100.0)
    h <- Gen.choose(0.1, 100.0)
  } yield Order.Rect(x0, y0, x0 + w, y0 + h))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(1234L + i)))

  private def isPermutation[T](rs: Seq[T])(rect: T => Order.Rect): Unit = {
    val out = Order.sortBoxes(rs)(rect)
    assert(out.length == rs.length && out.diff(rs).isEmpty, s"$out is not a permutation of $rs")
  }

  private def isIdempotentSubsequence[T](rs: Seq[T])(rect: T => Order.Rect): Unit = {
    val out = Order.dedupBoxes(rs)(rect)
    var i = 0
    out.foreach { r =>
      val j = rs.indexWhere(_ == r, i)
      assert(j >= i)
      i = j + 1
    }
    assert(Order.dedupBoxes(out)(rect) == out)
  }

  test("sortBoxes is a permutation") {
    samples(regionsGen, 200).foreach(isPermutation(_)(Order.rectOf))
    samples(rectsGen, 200).foreach(isPermutation(_)(identity))
  }

  test("dedup output is a subsequence of its input and idempotent") {
    samples(regionsGen, 200).foreach(isIdempotentSubsequence(_)(Order.rectOf))
    samples(rectsGen, 200).foreach(isIdempotentSubsequence(_)(identity))
  }

  test("extraction is deterministic and emits regions within payload bounds") {
    (0 until 300).foreach { i =>
      val payload = GenData.payload(99L, s"prop-$i")
      val r1 = Detect.extract(payload)
      val r2 = Detect.extract(payload)
      assert(r1 == r2)
      val decoded = Payload.decode(payload)
      r1.foreach { r =>
        assert(r.x0 >= 0 && r.y0 >= 0 && r.x1 <= decoded.width && r.y1 <= decoded.height)
        assert(r.x0 <= r.x1 && r.y0 <= r.y1)
        assert(r.score >= 0.0 && r.score <= 1.0)
      }
    }
  }

  test("traceContour vs convexHull: area <= hull, perimeter >= hull, d <= d_hull") {
    // random 8-connected blobs: union of 1-3 overlapping solid rects plus a
    // random protruding arm, guaranteed connected through a shared anchor
    val blobGen: Gen[Array[Int]] = for {
      n <- Gen.choose(1, 3)
      rects <- Gen.listOfN(n, for {
        x0 <- Gen.choose(8, 20); y0 <- Gen.choose(8, 20)
        w <- Gen.choose(2, 12); h <- Gen.choose(2, 12)
      } yield (x0, y0, x0 + w, y0 + h))
    } yield {
      val W = 48
      val set = scala.collection.mutable.SortedSet.empty[Int]
      // all rects include the anchor region around (14,14) by construction
      // ranges [8,20]x[8,20] always intersect the cell (19,19)..(20,20)? not
      // guaranteed — force-connect by drawing a line from each rect's corner
      // to a fixed anchor pixel
      rects.foreach { case (x0, y0, x1, y1) =>
        for (y <- y0 to y1; x <- x0 to x1) set += y * W + x
        var (cx, cy) = (x0, y0)
        while (cx != 14 || cy != 14) { // 8-connected staircase to the anchor
          if (cx != 14) cx += (if (cx < 14) 1 else -1)
          if (cy != 14) cy += (if (cy < 14) 1 else -1)
          set += cy * W + cx
        }
      }
      set.toArray
    }
    samples(blobGen, 150).foreach { pixels =>
      val W = 48
      val (hx, hy) = Rotated.convexHull(pixels, W)
      val (cx, cy) = Rotated.traceContour(pixels, W)
      val hullArea = Rotated.polygonArea(hx, hy)
      val hullPer = Rotated.perimeter(hx, hy)
      val cArea = Rotated.polygonArea(cx, cy)
      val cPer = Rotated.perimeter(cx, cy)
      assert(cArea <= hullArea + 1e-9, s"contour area $cArea > hull $hullArea")
      assert(cPer >= hullPer - 1e-9, s"contour perimeter $cPer < hull $hullPer")
      // hence the unclip distance never exceeds the round-2 hull-based one
      assert(Rotated.offsetDistance(cx, cy, 2.2) <=
        Rotated.offsetDistance(hx, hy, 2.2) + 1e-9)
      // every traced point is a member pixel of the component
      val members = pixels.toSet
      cx.zip(cy).foreach { case (x, y) =>
        assert(members.contains(y.toInt * W + x.toInt), s"traced non-member ($x,$y)")
      }
    }
  }

  test("surviving dedup pairs: the reference keep-rule no longer fires") {
    samples(regionsGen, 200).foreach { rs =>
      val out = Order.dedupBoxes(rs)(Order.rectOf).toIndexedSeq
      for (i <- out.indices; j <- i + 1 until out.length) {
        val v1 = Geom.partialOverlap(out(i), out(j))
        val v2 = Geom.partialOverlap(out(j), out(i))
        // if v1 >= v2 the later would have been dropped when v1 >= thr;
        // the asymmetric branch can legitimately leave v2 >= thr pairs when
        // the earlier box was dropped by a different partner first.
        if (v1 >= v2) assert(v1 < Params.DedupThresh)
      }
    }
  }
}
