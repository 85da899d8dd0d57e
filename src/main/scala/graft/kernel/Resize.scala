package graft.kernel

/** The resize policy mm3 runs (P2 type0) and the bilinear resample: the
  * reference uses these to adapt images for the neural stage; here they are
  * pure byte-matrix + coordinate functions so the policy's SEMANTICS (output
  * dims and scale ratios, which move coordinates) are reproducible and
  * fixture-checked. Pixel resampling is bilinear with the standard
  * center-aligned source mapping ((d + 0.5) / scale - 0.5), the same
  * convention as cv2.INTER_LINEAR / torchvision BILINEAR.
  */
object Resize {

  /** A byte image with dims. */
  final case class Img(cells: Array[Byte], w: Int, h: Int)

  /** Bilinear resample to (nw, nh) — cv2.resize(INTER_LINEAR) analog. */
  def bilinear(img: Img, nw: Int, nh: Int): Img = {
    if (nw == img.w && nh == img.h) return img
    val out = new Array[Byte](nw * nh)
    val sx = img.w.toDouble / nw
    val sy = img.h.toDouble / nh
    var y = 0
    while (y < nh) {
      val fy = (y + 0.5) * sy - 0.5
      val y0 = math.max(0, math.min(img.h - 1, math.floor(fy).toInt))
      val y1 = math.min(img.h - 1, y0 + 1)
      val wy = math.max(0.0, math.min(1.0, fy - y0))
      var x = 0
      while (x < nw) {
        val fx = (x + 0.5) * sx - 0.5
        val x0 = math.max(0, math.min(img.w - 1, math.floor(fx).toInt))
        val x1 = math.min(img.w - 1, x0 + 1)
        val wx = math.max(0.0, math.min(1.0, fx - x0))
        val v00 = img.cells(y0 * img.w + x0) & 0xff
        val v01 = img.cells(y0 * img.w + x1) & 0xff
        val v10 = img.cells(y1 * img.w + x0) & 0xff
        val v11 = img.cells(y1 * img.w + x1) & 0xff
        val v = (v00 * (1 - wx) + v01 * wx) * (1 - wy) + (v10 * (1 - wx) + v11 * wx) * wy
        out(y * nw + x) = math.rint(v).toInt.toByte
        x += 1
      }
      y += 1
    }
    Img(out, nw, nh)
  }

  /** P2 type0: cap ('max') or raise ('min') the limiting side to
    * `limitSideLen`, round both dims to /32 (min 32)
    * (/root/reference/cnstd/ppocr/img_operators.py:232-280). Returns
    * (newH, newW, ratioH, ratioW) — resize_image_type0's coordinate contract.
    */
  def detResizeType0(h: Int, w: Int, limitSideLen: Int, limitType: String): (Int, Int, Double, Double) = {
    val ratio = limitType match {
      case "max" => if (math.max(h, w) > limitSideLen) limitSideLen.toDouble / math.max(h, w) else 1.0
      case "min" => if (math.min(h, w) < limitSideLen) limitSideLen.toDouble / math.min(h, w) else 1.0
      case "resize_long" => limitSideLen.toDouble / math.max(h, w)
      case other => throw new IllegalArgumentException(s"not support limit type: $other")
    }
    val rh = math.max(math.rint((h * ratio).toInt / 32.0).toInt * 32, 32)
    val rw = math.max(math.rint((w * ratio).toInt / 32.0).toInt * 32, 32)
    (rh, rw, rh / h.toDouble, rw / w.toDouble)
  }
}
