package graft.expr

import graft.SparkSpec
import graft.operators.SimilarityOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._

/** Gates for the float32 cosine recipe (CosineF32) the oracle's
  * `round(list_cosine_similarity(FLOAT[], FLOAT[]), 4)` follows: the sf0.1
  * pair where double math rounds the other way, DuckDB's clamp, the
  * codegen/interpreted parity of the Column path, and the null rule.
  */
class CosineF32Spec extends SparkSpec {
  import spark.implicits._

  private def arr(xs: Float*) = UnsafeArrayData.fromPrimitiveArray(xs.toArray)

  test("pair (855, 906) at sf0.1 is 0.3505 on every cosine path, as DuckDB 1.0.0 prints it") {
    val sf = "/root/testdata/sf0.1"
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val ab = e.where(col("vec_id") === 855).select(col("embedding").as("a"))
      .crossJoin(e.where(col("vec_id") === 906).select(col("embedding").as("b")))
      .select(Native.cosine(col("a"), col("b")).as("raw"))
      .select(col("raw"), Native.round4(col("raw")).as("cos"))
      .head()
    assert(ab.getDouble(0) == 0.35045001f.toDouble) // 0.35044994 in double math
    assert(ab.getDouble(1) == 0.3505)
    def pair(df: DataFrame): Seq[Double] =
      df.where(col("vec_a") === 855 && col("vec_b") === 906).select("cos").as[Double].collect().toSeq
    assert(pair(SimilarityOps.dedupEmbedding(spark, sf)) == Seq(0.3505), "dd5")
    assert(pair(SimilarityOps.srpNearDupBanded(spark, sf)) == Seq(0.3505), "sim4")
  }

  test("clamp and rounding follow DuckDB: NaN and overflow give -1, half rounds away from zero") {
    assert(CosineF32.cosine(arr(0f, 0f), arr(0f, 0f)) == -1.0)
    assert(CosineF32.cosine(arr(1e30f, 1e30f), arr(1e30f, 1e30f)) == -1.0)
    assert(CosineF32.cosine(arr(1f, 2f, 3f), arr(1f, 2f, 3f)) == 0.99999994f.toDouble)
    assert(CosineF32.round4(0.35045001f.toDouble) == 0.3505)
    assert(CosineF32.round4(-0.35045001f.toDouble) == -0.3505)
    assert(CosineF32.round4(0.35044998f.toDouble) == 0.3504)
  }

  test("Column path: codegen equals interpreted equals the kernel; null element gives null") {
    val rng = new scala.util.Random(7)
    val rows = Seq.fill(200)((Array.fill(64)(rng.nextFloat() * 2 - 1),
      Array.fill(64)(rng.nextFloat() * 2 - 1)))
    val got = rows.toDF("a", "b").select(Native.cosine(col("a"), col("b"))).as[Double].collect()
    rows.zip(got).foreach { case ((a, b), c) =>
      val kernel = CosineF32.cosine(arr(a: _*), arr(b: _*))
      assert(c == kernel.doubleValue)
      assert(interpret(Native.cosine(typedlit(a), typedlit(b))) == kernel)
    }
    val withNull = Seq((Array[java.lang.Float](1f, null), Array[java.lang.Float](1f, 2f)))
      .toDF("a", "b").select(Native.cosine(col("a"), col("b"))).head()
    assert(withNull.isNullAt(0))
    // common prefix, like DotProduct: the trailing 9 is not scored
    assert(CosineF32.cosine(arr(1f, 0f), arr(1f, 0f, 9f)) == 1.0)
  }
}
