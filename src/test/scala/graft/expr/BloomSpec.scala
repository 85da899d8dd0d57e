package graft.expr

import graft.SparkSpec
import org.apache.spark.unsafe.types.UTF8String

/** Gates for the bloom prefilter: the one property correctness depends on
  * (NO false negatives — a missed true hit would silently under-count
  * contamination), the fp-rate budget the shuffle-volume story depends on,
  * merge associativity (the distributed build ORs partials in arbitrary
  * order), and expression null propagation.
  */
class BloomSpec extends SparkSpec {

  private def key(i: Int): String = s"gram-$i-${"x" * (i % 7)}"

  test("no false negatives over 20k keys, fp rate within budget") {
    val n = 20000
    val words = LongBloom.wordsFor(n)
    val buf = new Array[Long](words)
    (0 until n).foreach(i => LongBloom.add(buf, key(i)))
    val bloom = new LongBloom(buf, LongBloom.K)
    (0 until n).foreach { i =>
      assert(bloom.mightContain(UTF8String.fromString(key(i))), s"false negative: ${key(i)}")
    }
    val fp = (n until 2 * n).count(i => bloom.mightContain(UTF8String.fromString(key(i))))
    // budget: BitsPerKey=16, K=10 gives ~0.05%; assert an order of slack
    assert(fp <= n / 200, s"fp rate too high: $fp / $n")
  }

  test("OR-merge of partial buffers equals the single-pass build") {
    val words = LongBloom.wordsFor(1000)
    val whole = new Array[Long](words)
    (0 until 1000).foreach(i => LongBloom.add(whole, key(i)))
    val a = new Array[Long](words)
    val b = new Array[Long](words)
    (0 until 500).foreach(i => LongBloom.add(a, key(i)))
    (500 until 1000).foreach(i => LongBloom.add(b, key(i)))
    val merged = BloomAgg(words).merge(a, b)
    assert(merged.sameElements(whole))
  }

  test("expression: codegen filter keeps members, propagates nulls, drops strangers") {
    val s = spark
    import org.apache.spark.sql.functions.col
    import s.implicits._
    val members = (0 until 100).map(key)
    val words = LongBloom.wordsFor(members.size)
    val buf = new Array[Long](words)
    members.foreach(LongBloom.add(buf, _))
    val bloom = new LongBloom(buf, LongBloom.K)
    val mc = Native.mightContain(bloom, col("h"))
    val rows = (members ++ Seq(null, "definitely-not-a-member-aaaa", "nor-this-bbbb"))
      .toDF("h")
    val kept = rows.where(mc).as[String].collect().toSet
    assert(kept == members.toSet) // null row filtered (predicate null), strangers rejected
  }
}
