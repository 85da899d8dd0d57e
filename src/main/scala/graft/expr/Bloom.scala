package graft.expr

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.unsafe.types.UTF8String

/** Immutable Bloom filter over strings, built once on the driver (or via the
  * [[BloomAgg]] distributed aggregator) and shipped to executors inside the
  * [[Native.mightContain]] Column — the engine's map-side membership
  * prefilter for the decontamination path when the eval-suite gram set
  * outgrows a broadcast hash join (ctn3; the same posture as Spark's own
  * runtime row-level bloom pruning, reimplemented here so the filter can be
  * built from ANY frame and pinned in the plan deterministically).
  *
  * Hashing: two independent FNV-1a 64-bit passes over the UTF-8 bytes
  * (different offset bases), combined Kirsch–Mitzenmacher style
  * (`h1 + i*h2`) into [[K]] probe positions; `mBits` is a power of two so
  * position reduction is a mask, not a modulo. The filter only ever gates
  * candidates ahead of an EXACT verify join, so its false-positive rate
  * affects shuffle volume, never results.
  */
final class LongBloom(val bits: Array[Long], val k: Int) extends Serializable {
  private val mask: Long = bits.length.toLong * 64L - 1L

  def mightContain(s: UTF8String): Boolean = {
    val h1 = LongBloom.fnv(s, LongBloom.Basis1)
    val h2 = LongBloom.fnv(s, LongBloom.Basis2)
    var i = 0
    while (i < k) {
      val pos = ((h1 + i * h2) & mask).toInt
      if ((bits(pos >>> 6) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Set bits, in words. */
  def sizeWords: Int = bits.length
}

object LongBloom {
  /** Probes per key; with [[BitsPerKey]] bits budgeted per distinct key the
    * false-positive rate is ~0.05% — prefilter survivors are then true hits
    * plus a vanishing sliver the exact verify join removes.
    */
  final val K = 10
  final val BitsPerKey = 16

  private final val Basis1 = 0xcbf29ce484222325L
  private final val Basis2 = 0x6c62272e07bb0142L // FNV-1a 128's low word: an independent basis
  private final val Prime = 0x100000001b3L

  private def fnv(s: UTF8String, basis: Long): Long = {
    var h = basis
    val n = s.numBytes()
    var i = 0
    while (i < n) { h = (h ^ (s.getByte(i) & 0xffL)) * Prime; i += 1 }
    h
  }

  /** Buffer width (64-bit words, power of two) for `n` distinct keys. */
  def wordsFor(n: Long): Int = {
    val wantBits = math.max(1024L, n * BitsPerKey)
    var w = 16
    while (w.toLong * 64 < wantBits && w < (1 << 26)) w <<= 1 // cap 512 MiB
    w
  }

  /** Set the [[K]] probe bits of `s` in `buf` (the aggregator's reduce). */
  def add(buf: Array[Long], s: String): Unit = {
    val u = UTF8String.fromString(s)
    val mask = buf.length.toLong * 64L - 1L
    val h1 = fnv(u, Basis1)
    val h2 = fnv(u, Basis2)
    var i = 0
    while (i < K) {
      val pos = ((h1 + i * h2) & mask).toInt
      buf(pos >>> 6) |= 1L << (pos & 63)
      i += 1
    }
  }
}

/** Distributed Bloom build: a typed [[Aggregator]] whose buffer is the raw
  * bit array — partials are OR-merged, so the build is one pass over the key
  * frame with no driver involvement until the final `words`-sized result
  * (bounded by construction: [[LongBloom.wordsFor]] caps at 512 MiB, the
  * documented driver-state bound for this operator family).
  */
final case class BloomAgg(words: Int) extends Aggregator[String, Array[Long], Array[Long]] {
  override def zero: Array[Long] = new Array[Long](words)
  override def reduce(b: Array[Long], a: String): Array[Long] = {
    if (a != null) LongBloom.add(b, a)
    b
  }
  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    var i = 0
    while (i < x.length) { x(i) |= y(i); i += 1 }
    x
  }
  override def finish(r: Array[Long]): Array[Long] = r
  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}
