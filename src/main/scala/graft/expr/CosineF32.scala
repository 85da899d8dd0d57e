package graft.expr

import org.apache.spark.sql.catalyst.util.ArrayData

/** Cosine similarity of two float vectors, computed as DuckDB 1.0.0's
  * `list_cosine_similarity` computes it over FLOAT[] lists and rounded as
  * its `round(FLOAT, 4)` rounds — the recipe the oracle's dd5, sim1, sim3
  * and sim4 SQL evaluates:
  *
  *  1. dot, |a|² and |b|² each summed left to right in float (one float
  *     product, then one float add, per element);
  *  2. `dot / (sqrt(|a|²) * sqrt(|b|²))` in float, clamped to [-1, 1] with
  *     `std::max(-1, std::min(s, 1))` (so a NaN becomes -1);
  *  3. 4dp rounding as `round(FLOAT, 4)` does it: the float widened to
  *     double, times 10^4, rounded half away from zero, divided by 10^4.
  *
  * The result is returned as the double nearest the 4dp decimal, as the
  * double-precision path returned it before. Double math differs from this
  * recipe at sf0.1: pair (855, 906) is 0.35045001 in float, which rounds to
  * 0.3505, and 0.35044994 in double, which rounds to 0.3504. Pinned against
  * DuckDB 1.0.0 with zero differences, raw and rounded, on every pair of the
  * sf0.01 (124 750) and sf0.1 (1 999 000) embeddings tables.
  *
  * Vectors of different lengths are scored over the common prefix, and a
  * null element in that prefix gives a null cosine ([[DotProduct]]'s rule;
  * DuckDB rejects both inputs).
  */
object CosineF32 {

  /** Left-to-right float sum of `a(i) * b(i)` over the common prefix. */
  def dot(a: ArrayData, b: ArrayData): Float = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0f
    var i = 0
    while (i < n) { s += a.getFloat(i) * b.getFloat(i); i += 1 }
    s
  }

  /** `sqrt(|a|²)` in float (a double sqrt rounded to float is the correctly
    * rounded float sqrt).
    */
  def norm(a: ArrayData): Float = math.sqrt(dot(a, a).toDouble).toFloat

  /** Step 2 from a dot and the two norms. */
  def of(dot: Float, normA: Float, normB: Float): Float = {
    val s = dot / (normA * normB)
    val m = if (1f < s) 1f else s
    if (-1f < m) m else -1f
  }

  /** Step 3 on a float cosine widened to double. */
  def round4(x: Double): Double = {
    val y = x * 10000.0
    val a = math.abs(y)
    val t = math.floor(a)
    math.copySign(if (a - t >= 0.5) t + 1 else t, y) / 10000.0
  }

  /** The float cosine widened to double, or null on a null element. */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0f
    var na = 0f
    var nb = 0f
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i)
      val y = b.getFloat(i)
      d += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    of(d, math.sqrt(na.toDouble).toFloat, math.sqrt(nb.toDouble).toFloat).toDouble
  }
}
