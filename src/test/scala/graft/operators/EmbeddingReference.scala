package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
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
    def norm(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val side = rows.collect().sortBy(_._1)
      .map { case (id, e) => (id, e.toArray, norm(e.toArray)) }
    val bc = spark.sparkContext.broadcast(side)
    val out = rows.mapPartitions { it =>
      val all = bc.value
      it.flatMap { case (ida, eaSeq) =>
        val ea = eaSeq.toArray
        val na = norm(ea)
        all.iterator.filter(_._1 > ida).flatMap { case (idb, eb, nb) =>
          var dotAb = 0.0; var i = 0
          while (i < ea.length) { dotAb += ea(i).toDouble * eb(i).toDouble; i += 1 }
          val raw = dotAb / na / nb
          SimilarityOps.roundedGate(raw, threshold).map(cos => (ida, idb, cos))
        }
      }
    }
    out.toDF("vec_a", "vec_b", "cos").orderBy("vec_a", "vec_b")
  }
}
