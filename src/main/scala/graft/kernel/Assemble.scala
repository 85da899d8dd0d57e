package graft.kernel

import java.util.Locale
import graft.schema.{OutSpan, RawSpan, Region}

/** Span assembly (J5 in SURVEY.md §2.4): interleave each media span's extracted
  * regions with the document's text spans by original offset, renumbering the
  * final `order` 0..n-1. Text spans pass through; each media span is replaced by
  * its region list in the media-local reading order (empty list drops the media
  * span — empty-result guard, /root/reference/cnstd/yolov7/general.py:625-627).
  */
object Assemble {

  /** Deterministic textual rendering of a region, so span equality on
    * (kind, text, media_ref, order) captures full geometry + score semantics:
    * "[x0,y0,x1,y1];score" with the score at 4 decimals, equal to
    * "[%d,%d,%d,%d];%.4f".formatLocal(ROOT, ...). The kernel renders every
    * region, so this runs once per region; a StringBuilder is ~4x cheaper
    * than the Formatter. Formatter's %.4f rounds the shortest decimal
    * (Double.toString) digits half-up, which is what BigDecimal.valueOf +
    * setScale(4, HALF_UP) does for positive finite scores and +0.0. The
    * rest keep the Formatter for its sign and "Infinity" text: a candidate
    * payload can carry an infinite confidence, which BigDecimal rejects.
    */
  def regionText(r: Region): String = {
    val s = r.score
    val score =
      if ((s > 0 && s < Double.PositiveInfinity) || java.lang.Double.doubleToRawLongBits(s) == 0L)
        java.math.BigDecimal.valueOf(s).setScale(4, java.math.RoundingMode.HALF_UP).toPlainString
      else "%.4f".formatLocal(Locale.ROOT, s)
    new java.lang.StringBuilder(32).append('[').append(r.x0).append(',').append(r.y0)
      .append(',').append(r.x1).append(',').append(r.y1).append("];").append(score).toString
  }

  def assemble(spans: Seq[RawSpan], regionsByOffset: Map[Int, Seq[Region]]): Seq[OutSpan] = {
    val ordered = spans.sortBy(_.offset)
    val out = ordered.flatMap { s =>
      if (s.kind == "media")
        regionsByOffset.getOrElse(s.offset, Nil).map(r => (r.kind, regionText(r), s.media_ref))
      else
        Seq((s.kind, s.text, ""))
    }
    out.zipWithIndex.map { case ((kind, text, ref), i) => OutSpan(kind, text, ref, i) }
  }
}
