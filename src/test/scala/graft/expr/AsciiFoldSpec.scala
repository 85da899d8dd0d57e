package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Gates for the native fold Column (Native.fold): parity with the plain-Scala
  * fold (and with the Scala UDF it replaced), codegen and interpreted paths,
  * nulls, the pure-ASCII identity fast path, and multi-byte inputs that must
  * NOT take it.
  */
class AsciiFoldSpec extends SparkSpec {

  private val cases = Seq(
    "cafe",                  // pure ASCII: identity
    "café",             // é -> e (precomposed, needs NFD)
    "über",            // combining diaeresis already decomposed
    "Ångström",    // Å -> A, ö -> o
    "",                      // empty
    "mixed café naïve résumé",
    "中文 stays")    // CJK has no decomposition: unchanged

  test("codegen column path matches the plain-Scala fold on every case") {
    val s = spark
    import s.implicits._
    val got = cases.toDF("t").select(Native.fold(col("t"))).collect()
    got.zip(cases).foreach { case (r, in) =>
      assert(r.getString(0) == AsciiFold.fold(in), s"mismatch for <$in>")
    }
  }

  test("interpreted eval path and UTF8 fast path agree") {
    cases.foreach { in =>
      assert(interpret(Native.fold(lit(in))).toString == AsciiFold.fold(in), s"eval mismatch for <$in>")
      assert(AsciiFold.foldUTF8(UTF8String.fromString(in)).toString == AsciiFold.fold(in))
    }
    // the ASCII fast path must return the SAME object (no allocation)
    val ascii = UTF8String.fromString("plain ascii 123")
    assert(AsciiFold.foldUTF8(ascii) eq ascii)
  }

  test("null propagates (nullIntolerant contract)") {
    val s = spark
    import s.implicits._
    val df = Seq(Some("café"), None).toDF("t")
      .select(Native.fold(col("t")).as("f"))
    val out = df.orderBy(col("f").asc_nulls_last).collect()
    assert(out(0).getString(0) == "cafe")
    assert(out(1).isNullAt(0))
  }
}
