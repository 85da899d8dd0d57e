package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Gates for the native DotProduct Catalyst expression (Native.dot): value parity with the
  * unrolled expression tree (bit-identical accumulation), codegen and
  * interpreted paths, float/double inputs, null/short-array semantics.
  */
class DotProductSpec extends SparkSpec {

  private def tree(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column, dim: Int) =
    (0 until dim).map(i => x.getItem(i).cast("double") * y.getItem(i).cast("double")).reduce(_ + _)

  test("bit-identical to the unrolled tree on float arrays (codegen path)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(5)
    val rows = Seq.fill(200)((Array.fill(64)(rng.nextFloat() * 2 - 1),
      Array.fill(64)(rng.nextFloat() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val both = df.select(
      Native.dot(col("a"), col("b")).as("native"),
      tree(col("a"), col("b"), 64).as("unrolled")).collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1), "accumulation differs"))
  }

  test("interpreted eval path matches codegen (fallback parity)") {
    val s = spark
    import s.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val expected = 1.0 * 4 + 2.0 * 5 + 3.0 * 6
    assert(df.select(Native.dot(col("a"), col("b"))).head.getDouble(0) == expected)
    // force the interpreted path through direct eval (catalyst literals —
    // Column.expr is not exposed in the Spark 4 API split)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val e = DotProduct(
      Literal.create(Array(1.0f, 2.0f, 3.0f), ArrayType(FloatType)),
      Literal.create(Array(4.0f, 5.0f, 6.0f), ArrayType(FloatType)))
    assert(e.eval(null) == expected)
  }

  test("double arrays, mixed lengths (min stride), and nulls") {
    val s = spark
    import s.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(10.0, 20.0))).toDF("a", "b")
    assert(df.select(Native.dot(col("a"), col("b"))).head.getDouble(0) == 50.0)
    val withNull = Seq((Some(Array(1.0)), Option.empty[Array[Double]])).toDF("a", "b")
    assert(withNull.select(Native.dot(col("a"), col("b"))).head.isNullAt(0))
  }

  test("null ELEMENT nulls the whole dot (codegen and interpreted paths)") {
    val s = spark
    import s.implicits._
    // containsNull=true columns via Option elements
    val df = Seq(
      (Array[java.lang.Double](1.0, null, 3.0), Array[java.lang.Double](4.0, 5.0, 6.0)),
      (Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](3.0, 4.0))
    ).toDF("a", "b")
    val out = df.select(Native.dot(col("a"), col("b")).as("d"))
      .orderBy(col("d").asc_nulls_last).collect()
    assert(out(0).getDouble(0) == 11.0)
    assert(out(1).isNullAt(0), "null element must propagate to a null dot")
    // interpreted path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val e = DotProduct(
      Literal.create(Array[java.lang.Double](1.0, null), ArrayType(DoubleType, containsNull = true)),
      Literal.create(Array[java.lang.Double](2.0, 3.0), ArrayType(DoubleType, containsNull = true)))
    assert(e.eval(null) == null)
    // a null element BEYOND the scanned (min-length) range does not null it
    val e2 = DotProduct(
      Literal.create(Array[java.lang.Double](2.0), ArrayType(DoubleType, containsNull = true)),
      Literal.create(Array[java.lang.Double](3.0, null), ArrayType(DoubleType, containsNull = true)))
    assert(e2.eval(null) == 6.0)
  }
}
