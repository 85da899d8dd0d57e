package graft.kernel

import org.scalatest.funsuite.AnyFunSuite
import graft.kernel.Resize.Img
import graft.kernel.Rotated.RBox

/** Fixtures for the P2 type0 resize policy, crop extraction (P10/P11) and
  * 4-point canonicalization (SO1).
  */
class CropResizeSpec extends AnyFunSuite {

  private def gradient(w: Int, h: Int): Img =
    Img(Array.tabulate(w * h)(i => ((i % w) * 3 + (i / w) * 7).toByte), w, h)

  test("P2 type0: min/max/resize_long side limits with /32 rounding") {
    // h=100,w=200, min limit 736: min side 100 < 736 → ratio 7.36 →
    // int(100*7.36)=736, int(200*7.36)=1472 → /32-rounded unchanged
    assert(Resize.detResizeType0(100, 200, 736, "min") == ((736, 1472, 7.36, 7.36)))
    // max limit: h=1000,w=500 → ratio 0.736 → int-trunc (736, 368) →
    // round-half-even(368/32)=round(11.5)=12 → (736, 384), python round() parity
    val (h1, w1, _, _) = Resize.detResizeType0(1000, 500, 736, "max")
    assert((h1, w1) == ((736, 384)))
    // under the max limit → identity ratio, dims just /32-rounded
    val (h2, w2, _, _) = Resize.detResizeType0(100, 64, 736, "max")
    assert((h2, w2) == ((96, 64))) // round(100/32)=3
    // resize_long: ratio from the long side regardless
    val (h3, w3, _, _) = Resize.detResizeType0(100, 400, 200, "resize_long")
    assert((h3, w3) == ((64, 192))) // 50→round(1.5625*32)... int(100*0.5)=50→round(50/32)=2→64; int(400*0.5)=200→round(6.25)=6→192
  }

  test("P10 straight crop equals the manual slice; bounds are clamped") {
    val img = gradient(16, 12)
    val c = Crop.extractCrop(img, 3, 2, 9, 7)
    assert(c.w == 6 && c.h == 5)
    for (y <- 0 until 5; x <- 0 until 6)
      assert(c.cells(y * 6 + x) == img.cells((y + 2) * 16 + (x + 3)))
    val clamped = Crop.extractCrop(img, -5, -5, 100, 100)
    assert(clamped.w == 16 && clamped.h == 12)
  }

  test("P11 rotated crop of an axis-aligned wide box equals the straight crop") {
    val img = gradient(32, 24)
    // minAreaRect semantics are POINT extents: a box whose corners sit on
    // pixels x in [4, 12], y in [6, 10] has (w, h) = (8, 4), center (8, 8).
    // Like the reference (dst spans w-1 over a w-extent box — cv2's own
    // squeeze), the warp is byte-exact only at the affine anchor corners;
    // the interior is bilinear over the (linear) gradient, so every value
    // must match the linear model within rounding.
    val b = RBox(8, 8, 8, 4, 0)
    val r = Crop.extractRCrop(img, b)
    assert(r.w == 8 && r.h == 4)
    assert(r.cells(0) == img.cells(6 * 32 + 4), "tl anchor")
    assert(r.cells(7) == img.cells(6 * 32 + 12), "tr anchor")
    assert(r.cells(3 * 8 + 7) == img.cells(10 * 32 + 12), "br anchor")
    // the source is value = 3x + 7y: bilinear of a linear field is exact
    for (y <- 0 until 4; x <- 0 until 8) {
      val sx = 4 + x * 8.0 / 7
      val sy = 6 + y * 4.0 / 3
      val expect = math.rint(3 * sx + 7 * sy).toInt
      assert(math.abs((r.cells(y * 8 + x) & 0xff) - expect) <= 1, s"($x,$y)")
    }
  }

  test("P11 vertical handler, w<=h: tall upright box stays UNtransposed") {
    val img = gradient(32, 32)
    // tall thin axis-aligned box (alpha 0, h >> w): corners x in [10, 13],
    // y in [5, 20] → (w, h) = (3, 15), center (11.5, 12.5) → vertical handler,
    // clockwise = w > h = false → _process_vertical_box's UNtransposed branch
    // (dst [[0,0],[w-1,0],[w-1,h-1]], dsize (w, h) — _utils.py:146-158)
    val b = RBox(11.5, 12.5, 3, 15, 0)
    val r = Crop.extractRCrop(img, b)
    assert(r.w == 3 && r.h == 15)
    // anchors: tl (10,5) -> (0,0), tr (13,5) -> (2,0), br (13,20) -> (2,14)
    assert(r.cells(0) == img.cells(5 * 32 + 10), "tl -> (0,0)")
    assert(r.cells(2) == img.cells(5 * 32 + 13), "tr -> (w-1,0)")
    assert(r.cells(14 * 3 + 2) == img.cells(20 * 32 + 13), "br -> (w-1,h-1)")
  }

  // non-wrapping linear field (max 3*31 + 4*31 = 217 < 256): bilinear
  // sampling of a linear field is exact, so anchor checks can compare
  // against the analytic value at the exact (non-integer) corner coords
  private def linField(w: Int, h: Int): Img =
    Img(Array.tabulate(w * h)(i => ((i % w) * 3 + (i / w) * 4).toByte), w, h)
  private def lin(p: (Double, Double)): Int = math.rint(3 * p._1 + 4 * p._2).toInt

  test("P11 vertical handler, w>h: near-90 box emits the transposed patch") {
    val img = linField(32, 32)
    // alpha 89 (within 3 of 90) with w > 1.3h → vertical handler, clockwise
    // branch: dst [[0,w-1],[0,0],[h-1,0]], dsize (h, w) — _utils.py:136-145,158
    val b = RBox(16, 16, 15, 3, 89)
    val r = Crop.extractRCrop(img, b)
    assert(r.w == 3 && r.h == 15)
    val pts = Rotated.boxPoints(b)
    // tl -> (0, w-1) bottom-left, tr -> (0,0), br -> (h-1, 0) top-right
    assert(math.abs((r.cells((15 - 1) * 3) & 0xff) - lin(pts(0))) <= 1, "tl -> (0,w-1)")
    assert(math.abs((r.cells(0) & 0xff) - lin(pts(1))) <= 1, "tr -> (0,0)")
    assert(math.abs((r.cells(2) & 0xff) - lin(pts(2))) <= 1, "br -> (h-1,0)")
  }

  test("P11 horizontal handler, w<=h: mid-angle box emits the transposed patch") {
    val img = linField(32, 32)
    // alpha 30 → NOT vertical (neither near-0 nor near-90); w=4 <= h=6 →
    // _process_horizontal_box non-clockwise branch: transposed (h, w) patch
    val b = RBox(16, 16, 4, 6, 30)
    val r = Crop.extractRCrop(img, b)
    assert(r.w == 6 && r.h == 4)
    val pts = Rotated.boxPoints(b)
    assert(math.abs((r.cells((4 - 1) * 6) & 0xff) - lin(pts(0))) <= 1, "tl -> (0,w-1)")
    assert(math.abs((r.cells(0) & 0xff) - lin(pts(1))) <= 1, "tr -> (0,0)")
    assert(math.abs((r.cells(5) & 0xff) - lin(pts(2))) <= 1, "br -> (h-1,0)")
  }

  test("P11 horizontal handler alpha>80 normalization matches the relabeled box") {
    val img = linField(32, 32)
    // alpha 85, w=4 < h=6, not vertical (w*1.3 < h needs near-0 alpha; here
    // 90-85=5 >= 3): _utils.py:98-100 relabels to (w,h,alpha) = (6,4,-5),
    // whose boxPoints are the original's rotated one position — equivalently
    // the same rect handled with (bl,tl,tr) as the src triangle, clockwise
    // since 6 > 4 → untransposed 6x4 patch
    val b = RBox(16, 16, 4, 6, 85)
    val r = Crop.extractRCrop(img, b)
    assert(r.w == 6 && r.h == 4)
    val pts = Rotated.boxPoints(b)
    // relabeled tl = original bl -> (0,0); relabeled tr = original tl -> (w'-1,0)
    assert(math.abs((r.cells(0) & 0xff) - lin(pts(3))) <= 1, "bl -> (0,0)")
    assert(math.abs((r.cells(5) & 0xff) - lin(pts(0))) <= 1, "tl -> (w'-1,0)")
    assert(math.abs((r.cells(3 * 6 + 5) & 0xff) - lin(pts(1))) <= 1, "tr -> (w'-1,h'-1)")
  }

  test("SO1 sort_box_points and order_points_clockwise canonicalize shuffles") {
    val rect = Array((2.0, 1.0), (10.0, 3.0), (8.0, 9.0), (0.0, 7.0)) // rotated quad tl,tr,br,bl
    for (perm <- rect.permutations.take(12)) {
      assert(Rotated.orderPointsClockwise(perm).toSeq == rect.toSeq, s"perm ${perm.toSeq}")
      assert(Rotated.sortBoxPoints(perm).toSeq == rect.toSeq, s"perm ${perm.toSeq}")
    }
    // boxPoints of an RBox round-trips through the canonicalizer
    val pts = Rotated.boxPoints(RBox(5, 5, 6, 4, 30))
    val canon = Rotated.orderPointsClockwise(pts)
    assert(canon(0)._1 < canon(1)._1 && canon(0)._2 < canon(3)._2)
  }

  test("P12 rotate_page: min-angle guard, center fixed point, involution at 45") {
    val img = gradient(33, 33) // odd dims → exact center pixel (16,16)
    assert(Rotated.rotatePage(img, 0.5) eq img)   // below min_angle
    assert(Rotated.rotatePage(img, 89.5) eq img)  // within min_angle of 90
    val rot = Rotated.rotatePage(img, 30)
    assert(rot.w == 33 && rot.h == 33)
    // the center is a fixed point of the rotation
    assert(rot.cells(16 * 33 + 16) == img.cells(16 * 33 + 16))
    // rotating +45 then -45 restores interior values (linear gradient ⇒
    // bilinear exact; borders differ where content left the frame)
    val back = Rotated.rotatePage(Rotated.rotatePage(img, 45), -45)
    for (y <- 14 to 18; x <- 14 to 18)
      assert(math.abs((back.cells(y * 33 + x) & 0xff) - (img.cells(y * 33 + x) & 0xff)) <= 2,
        s"($x,$y)")
  }
}
