package graft.operators

import graft.expr.CosineF32
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions.col

/** Test reference for the embedding near-dup operators. */
object EmbeddingReference {

  /** Exact all-pairs reference for SimilarityOps.dedupEmbedding: broadcast
    * the full table as a primitive-array kernel side. SMALL-SCALE ONLY — the
    * `collect()` runs out of memory beyond test scale; the blocked path
    * is the production operator, and OperatorsSpec asserts the two are
    * identical on the test corpora.
    */
  def dedupEmbeddingExact(spark: SparkSession, dir: String, threshold: Double = 0.35): DataFrame = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
    val side = rows.collect().sortBy(_._1).map { case (id, e) => (id, e.toArray) }
    val bc = spark.sparkContext.broadcast(side)
    val out = rows.mapPartitions { it =>
      val all = bc.value.map { case (id, e) =>
        val v = UnsafeArrayData.fromPrimitiveArray(e)
        (id, v, CosineF32.norm(v))
      }
      it.flatMap { case (ida, eaSeq) =>
        val ea = UnsafeArrayData.fromPrimitiveArray(eaSeq.toArray)
        val na = CosineF32.norm(ea)
        all.iterator.filter(_._1 > ida).flatMap { case (idb, eb, nb) =>
          SimilarityOps.roundedGate(ea, na, eb, nb, threshold).map(cos => (ida, idb, cos))
        }
      }
    }
    out.toDF("vec_a", "vec_b", "cos").orderBy("vec_a", "vec_b")
  }
}
