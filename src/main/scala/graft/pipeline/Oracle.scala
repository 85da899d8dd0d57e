package graft.pipeline

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.kernel.{Assemble, Detect}
import graft.operators.{ExtractOps, MinUnionFind, MultimodalOps, SimilarityOps}
import graft.schema.{Doc, ExtractedDoc}
import graft.sources.Tables

/** Straight-line single-threaded oracles: every computation here is an
  * independent recompute of a query the DuckDB oracle cannot express, and the
  * query registry (SparkEntry.queries) writes its rows as that query's side
  * table. Nothing in here is a production path.
  *
  * The extraction oracle extracts one document with no Spark involved. The
  * E2E suite asserts the distributed pipeline matches it exactly per row —
  * catching distribution bugs (cross-partition ordering, re-merge after skew
  * splits) rather than kernel bugs.
  */
object Oracle {
  def extract(doc: Doc, payloadFor: String => Array[Byte]): ExtractedDoc = {
    val byOffset = doc.spans.collect {
      case s if s.kind == "media" => s.offset -> Detect.extract(payloadFor(s.media_ref))
    }.toMap
    ExtractedDoc(doc.doc_id, Assemble.assemble(doc.spans, byOffset))
  }

  /** Oracle over generated data. */
  def extractGenerated(seed: Long, i: Long): ExtractedDoc = {
    val d = GenData.doc(seed, i)
    extract(d, ref => GenData.payload(seed, ref))
  }

  /** Config-driven oracle matching Extract.run's contract under `cfg`
    * (rendered kernel path, degrade-don't-fail, empty docs kept). Under
    * DetectConfig.Default it must equal `extract`, which renders through
    * Assemble instead (asserted in ExtractE2ESpec).
    */
  def extractConfigured(doc: Doc, payloadFor: String => Array[Byte],
                        cfg: graft.schema.DetectConfig): ExtractedDoc = {
    val flat = doc.spans.sortBy(_.offset).flatMap { s =>
      if (s.kind == "media") {
        val payload = try payloadFor(s.media_ref) catch { case _: Exception => null }
        Detect.extractRenderedSafe(payload, cfg)._1.map { case (k, t) => (k, t, s.media_ref) }
      } else Seq((s.kind, s.text, ""))
    }
    ExtractedDoc(doc.doc_id,
      flat.zipWithIndex.map { case ((k, t, m), i) => graft.schema.OutSpan(k, t, m, i) })
  }

  /** x1's side table: the oracle's flattened spans. */
  def spanRows(spark: SparkSession, dir: String): DataFrame =
    flatSpanRows(spark, dir, i => extractGenerated(GenData.DefaultSeed, i))

  /** x2's side table: `(doc_id, kind, media_ref)` per span of the same
    * single-threaded oracle x1 is checked against.
    */
  def spanKindRows(spark: SparkSession, dir: String): DataFrame =
    spanRows(spark, dir).select("doc_id", "kind", "media_ref")

  /** x3's and x4's side tables: the config-driven oracle's flattened spans. */
  def configuredSpanRows(cfg: graft.schema.DetectConfig): (SparkSession, String) => DataFrame =
    (spark, dir) => flatSpanRows(spark, dir, i => extractConfigured(GenData.doc(GenData.DefaultSeed, i),
      ref => GenData.payload(GenData.DefaultSeed, ref), cfg))

  /** One row per oracle span over the `ExtractOps.nDocsFor(dir)` generated
    * docs. The map is distributed over doc ids for speed but shares none of
    * the pipeline's plan machinery.
    */
  private def flatSpanRows(spark: SparkSession, dir: String, one: Long => ExtractedDoc): DataFrame = {
    import spark.implicits._
    spark.range(ExtractOps.nDocsFor(dir))
      .flatMap { i =>
        val d = one(i)
        d.spans.map(s => (d.doc_id, s.kind, s.text, s.media_ref, s.order))
      }
      .toDF("doc_id", "kind", "text", "media_ref", "span_order")
  }

  /** The mm sequential oracle: a plain single-threaded loop over the sorted refs
    * (bounded: one short string per document of the check corpus), running
    * the same [[MultimodalOps.MmSource]] the operator runs.
    */
  def mmRows[R <: Product : TypeTag](src: MultimodalOps.MmSource[R]): (SparkSession, String) => DataFrame =
    (spark, dir) =>
      spark.createDataFrame(MultimodalOps.refs(spark, dir, src).collect().sorted.toSeq.flatMap(src.rows))

  /** sim2's side table: [[annIvfOracleRows]] as a frame. */
  def annIvfRows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    annIvfOracleRows(spark, dir).toDF("q_id", "n_id", "cos", "rank")
  }

  /** Single-threaded reimplementation of the whole IVF path — normalize,
    * deterministic Lloyd iterations with the SAME fixed summation tree
    * (block by vec_id % NBlocks, sort within block, merge blocks ascending),
    * probe, exact cosine, 4dp HALF_UP round, rank. Because trainCentroids'
    * reduction is bit-deterministic by construction, this plain-Scala loop
    * reproduces the distributed result EXACTLY, which is what lets the
    * DuckDB hash compare value-check an approximate index
    * (sim2 was the suite's last no_oracle query). SMALL-SCALE ORACLE ONLY:
    * the collect is the whole embeddings table.
    */
  def annIvfOracleRows(spark: SparkSession, dir: String): Seq[(Long, Long, Double, Int)] = {
    import SimilarityOps.{NProbe, NumQueries, TopK}
    val vecs = oracleVecs(spark, dir)
    val indexed = oracleAssign(vecs, oracleCentroids(vecs), NProbe)
    vecs.filter(_._1 < NumQueries).toSeq.flatMap { case (qId, qVec) =>
      val probes = indexed(qId)._2.toSet
      val cands = vecs.iterator
        .filter { case (id, _) => id != qId && probes.contains(indexed(id)._1) }
        .map { case (id, v) => (id, oracleScore(qVec, v)) }
        .toSeq
      cands.sortBy { case (id, cos) => (-cos, id) }.take(TopK).zipWithIndex.map {
        case ((nId, cos), r) => (qId, nId, round4(cos), r + 1)
      }
    }.sortBy(t => (t._1, t._4))
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Collect + normalize the embeddings exactly like SimilarityOps'
    * `normalized`: float->double products left-to-right, then per-element
    * double division. SMALL-SCALE ORACLE ONLY — the collect is the whole
    * table.
    */
  private def oracleVecs(spark: SparkSession, dir: String): Array[(Long, Array[Double])] = {
    import spark.implicits._
    Tables.table(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
      .map { case (id, e) =>
        var s = 0.0
        e.foreach(f => s += f.toDouble * f.toDouble)
        val n = math.sqrt(s)
        (id, e.map(_.toDouble / n).toArray)
      }
  }

  private def oracleScore(v: Array[Double], c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * c(i); i += 1 }
    s
  }

  private def oracleAssign(vecs: Array[(Long, Array[Double])],
      centroids: IndexedSeq[IndexedSeq[Double]], nPr: Int): Map[Long, (Int, Seq[Int])] = {
    val cents = centroids.map(c => SimilarityOps.l2norm(c).toArray).toArray
    vecs.map { case (id, v) =>
      val scores = cents.map(c => oracleScore(v, c))
      val order = Array.range(0, cents.length).sortBy(i => (-scores(i), i))
      id -> (order(0), order.take(math.min(nPr, cents.length)).toSeq)
    }.toMap
  }

  /** The single-threaded mirror of SimilarityOps' trainCentroids —
    * deterministic Lloyd iterations with the SAME fixed summation tree (block
    * by vec_id % NBlocks, sort within block, merge blocks ascending).
    */
  private def oracleCentroids(vecs: Array[(Long, Array[Double])]): IndexedSeq[IndexedSeq[Double]] = {
    import SimilarityOps.{Dim, KMeansIters, NBlocks, NCells}
    var centroids: IndexedSeq[IndexedSeq[Double]] =
      vecs.take(NCells).map(_._2.toIndexedSeq).toIndexedSeq
    for (_ <- 0 until KMeansIters) {
      val cells = oracleAssign(vecs, centroids, 1)
      val nc = centroids.length
      val next = Array.fill(nc)(new Array[Double](Dim))
      val counts = new Array[Long](nc)
      vecs.groupBy(_._1 % NBlocks).toSeq.sortBy(_._1).foreach { case (_, members) =>
        val blockSums = Array.fill(nc)(new Array[Double](Dim))
        val blockCounts = new Array[Long](nc)
        members.sortBy(_._1).foreach { case (id, v) =>
          val c = cells(id)._1
          blockCounts(c) += 1
          var i = 0
          while (i < Dim) { blockSums(c)(i) += v(i); i += 1 }
        }
        for (k <- 0 until nc) {
          counts(k) += blockCounts(k)
          var i = 0
          while (i < Dim) { next(k)(i) += blockSums(k)(i); i += 1 }
        }
      }
      centroids = centroids.indices.map { k =>
        if (counts(k) == 0) centroids(k) else next(k).map(_ / counts(k)).toIndexedSeq
      }
    }
    centroids
  }

  /** sim5's side table: [[semDedupOracleRows]] as a frame. */
  def semDedupRows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    semDedupOracleRows(spark, dir)
      .toDF("vec_id", "cell", "group_id", "group_size", "keep", "centroid_cos")
  }

  /** Single-threaded mirror of SimilarityOps.semDedup — same k-means, same
    * assignment, exact within-cell pairwise cosines, union-find min-label
    * groups, same keeper rule. Bit-equal by the fixed summation tree.
    */
  def semDedupOracleRows(spark: SparkSession, dir: String): Seq[(Long, Int, Long, Long, Int, Double)] = {
    val vecs = oracleVecs(spark, dir)
    val centroids = oracleCentroids(vecs)
    val asg = oracleAssign(vecs, centroids, 1)
    val cents = centroids.map(c => SimilarityOps.l2norm(c).toArray).toArray
    val ccos = vecs.map { case (id, v) => id -> oracleScore(v, cents(asg(id)._1)) }.toMap
    // union-find with min-label fixpoint semantics (same as clustersFromPairs)
    val uf = new MinUnionFind
    vecs.groupBy(v => asg(v._1)._1).foreach { case (_, members) =>
      val m = members.sortBy(_._1)
      for (i <- m.indices; j <- (i + 1) until m.length)
        if (oracleScore(m(i)._2, m(j)._2) >= SimilarityOps.SemThreshold) uf.union(m(i)._1, m(j)._1)
    }
    val groupOf = vecs.map(v => v._1 -> uf.find(v._1)).toMap
    val sizes = groupOf.values.groupBy(identity).map { case (g, xs) => g -> xs.size.toLong }
    val keeperOf = vecs.groupBy(v => groupOf(v._1)).map { case (g, members) =>
      g -> members.map(_._1).minBy(id => (ccos(id), id))
    }
    vecs.map { case (id, _) =>
      (id, asg(id)._1, groupOf(id), sizes(groupOf(id)),
        if (keeperOf(groupOf(id)) == id) 1 else 0, round4(ccos(id)))
    }.toSeq.sortBy(_._1)
  }
}
