package graft.kernel

import org.scalatest.funsuite.AnyFunSuite
import graft.schema.{RawSpan, Region, Vocab}

/** The remaining FIXTURES.md §3 cases not already covered by DetectSpec
  * (fx01/04/09/10), OrderSpec (fx03), ExtractE2ESpec (fx11 partition
  * invariance) and the corrupt/missing tests (fx08 doc-level guard).
  */
class FixtureSpec extends AnyFunSuite {

  private def mapWith(w: Int, h: Int, boxes: Seq[(Int, Int, Int, Int)], v: Int = 240): Array[Byte] = {
    val cells = new Array[Byte](w * h)
    for ((x0, y0, x1, y1) <- boxes; y <- y0 until y1; x <- x0 until x1)
      cells(y * w + x) = v.toByte
    cells
  }

  test("fx02: two columns x three rows come out row-wise (reading order)") {
    // 2 columns x 3 rows of strong blobs; same-row pairs y-overlap fully so
    // they order by x, rows order by y (utils/utils.py:415-434 semantics)
    val blobs = for (row <- 0 until 3; colIdx <- 0 until 2)
      yield (20 + colIdx * 120, 20 + row * 80, 20 + colIdx * 120 + 40, 20 + row * 80 + 20)
    val probs = mapWith(256, 256, blobs)
    val rs = Order.finalize(Detect.std(probs, 0, 256, 256))
    assert(rs.length == 6)
    // row-major: y0 non-decreasing, and within equal y0 x0 increasing
    assert(rs.map(r => (r.y0, r.x0)) == rs.map(r => (r.y0, r.x0)).sorted)
    assert(rs.grouped(2).forall(pair => pair(0).x0 < pair(1).x0))
  }

  test("fx06: layout kinds map through the 11-class vocabulary") {
    val cands = (1 to 10).map { cls =>
      Payload.Candidate(cls, 60f * cls, 60f * cls, 50f, 30f, 0.5f + cls / 100f)
    }
    val rs = Detect.yolo(Vocab.StageLayout, 800, 800, cands)
    assert(rs.map(_.kind).toSet == Vocab.LayoutCategories.drop(1).toSet)
  }

  test("fx07: interleaved text/media assembly renumbers in offset order") {
    val spans = Seq(
      RawSpan("text", "t0", "", 0),
      RawSpan("media", "", "m-1", 1),
      RawSpan("text", "t2", "", 2),
      RawSpan("media", "", "m-3", 3),
      RawSpan("text", "t4", "", 4))
    val regions = Map(
      1 -> Seq(Region("std_text", 0, 0, 10, 10, 0.9), Region("std_text", 0, 20, 10, 30, 0.8)),
      3 -> Seq.empty[Region]) // media span with zero regions is dropped (fx08 guard)
    val out = Assemble.assemble(spans, regions)
    assert(out.map(_.order) == (0 until out.length))
    assert(out.map(s => (s.kind, s.media_ref)) == Seq(
      ("text", ""), ("std_text", "m-1"), ("std_text", "m-1"), ("text", ""), ("text", "")))
    assert(out(1).text == "[0,0,10,10];0.9000")
  }

  test("regionText equals the Formatter rendering it replaced") {
    // the Formatter one-liner regionText replaced, kept as the reference
    def reference(r: Region): String =
      "[%d,%d,%d,%d];%.4f".formatLocal(java.util.Locale.ROOT, r.x0, r.y0, r.x1, r.y1, r.score)
    val rng = new scala.util.Random(20261017L)
    val random = Seq.fill(200000)(rng.nextDouble())
    // halfway at the 5th decimal, where rounding direction shows
    val ties = (0 until 20000).map(k => (2 * k + 1) / 200000.0) ++
      Seq(0.12345, 0.00005, 0.00015, 0.99995, 0.5, 0.99994999)
    // Double.toString prints these in E-notation
    val tiny = Seq(1e-3 - 1e-12, 9.9999e-4, 5e-4, 4.9999e-4, 1.5e-4, 5e-5, 1e-5, 1e-9,
      Double.MinPositiveValue) ++ Seq.fill(20000)(rng.nextDouble() * 1e-3)
    val odd = Seq(0.0, 1.0, -0.0, -0.5, -0.00005, 1e20, 12345.67895,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val coords = Seq((0, 0, 10, 10), (-5, -17, -1, 3), (Int.MinValue, -1, Int.MaxValue, 123456789))
    val scores = random ++ ties ++ tiny ++ odd
    assert(tiny.forall(_.toString.contains("E")))
    for ((x0, y0, x1, y1) <- coords; score <- scores) {
      val r = Region(Vocab.StdKind, x0, y0, x1, y1, score)
      assert(Assemble.regionText(r) == reference(r), s"score $score at ($x0,$y0,$x1,$y1)")
    }
  }

  test("fx08: an all-below-threshold map yields no regions") {
    val probs = mapWith(64, 64, Seq((10, 10, 40, 40)), v = 60) // 60/255 < 0.3
    assert(Detect.std(probs, 0, 64, 64).isEmpty)
  }
}
