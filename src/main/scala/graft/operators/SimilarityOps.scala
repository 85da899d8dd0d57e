package graft.operators

import graft.expr.{CosineF32, Native}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (`vec_id, embedding:
  * array<float>, label`). Brute-force cosine top-k is the correctness
  * baseline (oracle-checked vs DuckDB); the IVF variant is the scale path:
  * a deterministic k-means coarse quantizer assigns every vector to a cell,
  * queries probe only `NProbe` cells, so the scored candidate set shrinks by
  * ~`NCells / NProbe` — at 100 TB the cell assignment is one scan + small
  * centroid broadcast per Lloyd iteration (the model is O(cells x dim),
  * driver-side by design, like MLlib k-means), and NCells scales with N
  * (cells ~ sqrt(N) keeps both the model and the per-cell candidate lists
  * bounded).
  *
  * All centroid scoring runs in a compact broadcast-kernel `mapPartitions`
  * loop: the earlier expression-tree form unrolled NCells x Dim = 640
  * multiply-adds twice into one Project, blew Janino's 64 KB method limit,
  * and silently fell back to interpreted evaluation (~7x slower). Per-pair
  * scoring (a single 64-term dot) stays a codegen'd expression.
  */
object SimilarityOps {
  final val TopK = 5
  final val NumQueries = 10
  final val NCells = 10
  final val NProbe = 3
  final val KMeansIters = 3
  /** Embedding dimensionality of the `embeddings` table. */
  final val Dim = 64

  /** Dot product via the engine's native Catalyst expression
    * (graft.expr.DotProduct): ONE generated loop instead of Dim inlined
    * multiply-adds, same left-to-right double accumulation as the previous
    * unrolled tree and as the mapPartitions kernels (sim2, sim5 and the SRP
    * bucket projections, whose oracles are double). The HOF form
    * `aggregate(zip_with(...))` materializes a Dim-length array per
    * invocation — at 12.5M pairs that alone cost ~60x wall time; the
    * unrolled tree form stacked per-centroid was what blew Janino's 64 KB cap
    * in round 1. Cosines do not use it: they follow the oracle's float32
    * recipe ([[CosineF32]], through [[Native.cosine]]).
    */
  private def dot(x: Column, y: Column): Column = Native.dot(x, y)

  /** Brute-force exact top-k cosine neighbors for the first `NumQueries`
    * vectors. The query side is tiny → broadcast; ranking via window on the
    * unrounded float32 cosine with a deterministic vec_id tie-break, as the
    * oracle ranks.
    */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.table(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val queries = all.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = all.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        Native.cosine(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopK)
      .select(col("q_id"), col("n_id"), Native.round4(col("cos")).as("cos"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** Fixed block count for the deterministic k-means reduction (below). */
  final val NBlocks = 32

  /** L2-normalized copy of the embeddings (doubles), spread across the
    * session's cores: the sf tables arrive as one parquet file = one input
    * partition, which would serialize every kernel pass onto a single task.
    *
    * Partitioning is BY BLOCK (`vec_id % NBlocks`), not round-robin: each
    * block lands wholly in one partition, which is what lets trainCentroids'
    * per-block accumulation be bit-deterministic (see there) regardless of
    * core count, scheduler interleaving, or session history.
    *
    * The norm is a column of its own, computed below the exchange: inside
    * the `transform` lambda it ran once per ELEMENT (Dim² multiply-adds per
    * vector), and in a Project right above the lambda's Project
    * `CollapseProject` would inline it back; the exchange between the two
    * keeps it at one Dim-term dot per row.
    */
  private[operators] def normalized(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), sqrt(dot(col("embedding"), col("embedding"))).as("norm"))
      .repartition(NBlocks, pmod(col("vec_id"), lit(NBlocks)))
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double") / col("norm")).as("vec"))

  /** Score every vector against all centroids in a tight primitive-array loop
    * (broadcast model, one pass, stays out of the Project so the surrounding
    * plan keeps whole-stage codegen). Emits (vec_id, vec, cell, probes):
    * `cell` = argmax-cosine centroid (first index wins ties, same rule as the
    * previous expression form), `probes` = top-`nProbe` cells by (cos desc,
    * index asc). Arithmetic is the same left-to-right double accumulation as
    * the expression form, so assignments are bit-identical.
    */
  private def cellAssignments(base: DataFrame, centroids: IndexedSeq[IndexedSeq[Double]],
                              nProbe: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val cn: Array[Array[Double]] = centroids.map(c => l2norm(c).toArray).toArray
    val bc = spark.sparkContext.broadcast(cn)
    base.select(col("vec_id"), col("vec")).as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val cents = bc.value
        val nc = cents.length
        it.map { case (id, vseq) =>
          val v = vseq.toArray
          val scores = new Array[Double](nc)
          var k = 0
          while (k < nc) {
            val c = cents(k)
            var s = 0.0
            var i = 0
            while (i < v.length) { s += v(i) * c(i); i += 1 }
            scores(k) = s
            k += 1
          }
          val order = Array.range(0, nc).sortBy(i => (-scores(i), i))
          (id, vseq, order(0), order.take(math.min(nProbe, nc)).toSeq)
        }
      }
      .toDF("vec_id", "vec", "cell", "probes")
  }

  /** Deterministic Lloyd iterations: init = the first `NCells` vectors by
    * vec_id, cosine assignment, centroid = member mean. Centroids are a
    * driver-side model (NCells x dim doubles); each iteration is ONE job —
    * per-partition (cell -> sumVec, count) partials computed inside the
    * assignment kernel, merged on the driver (the standard Spark k-means
    * shape; an earlier posexplode+groupBy-avg form cost two extra stages and
    * a shuffle per iteration).
    *
    * `NCells` is the coarse-quantizer size. At 100 TB choose ~sqrt(N) (the
    * standard IVF rule): the centroid model stays O(NCells x Dim) while
    * per-cell candidate lists stay O(sqrt(N)). The sf value keeps the frozen
    * test semantics.
    */
  private def trainCentroids(base: DataFrame): IndexedSeq[IndexedSeq[Double]] = {
    val spark = base.sparkSession
    import spark.implicits._
    val dim = Dim // fixed embedding dimensionality; avoids a per-train action
    // bounded collect: <= NCells rows of model state
    var centroids: IndexedSeq[IndexedSeq[Double]] = base
      .orderBy("vec_id").limit(NCells).collect()
      .map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    for (_ <- 0 until KMeansIters) {
      val nc = centroids.length
      // BIT-DETERMINISTIC reduction: floating-point addition is not
      // associative, so a naive per-partition sum depends on shuffle-fetch
      // row order and partition count — centroids (and therefore the whole
      // ANN output) would drift in ulps across cluster sizes. Instead each
      // partial is keyed by block = vec_id % NBlocks (a block never splits
      // across partitions — `normalized` partitions BY block), rows within a
      // block are sorted by vec_id before the left-to-right accumulation,
      // and the driver merges blocks in ascending block order. The result is
      // a fixed summation tree: same bits at local[4] and on 1000 executors,
      // and exactly replicable by the single-threaded oracle
      // (pipeline.Oracle.annIvfOracleRows) the DuckDB oracle value-checks
      // sim2 against. The collect is bounded: one partial per block, NBlocks rows.
      val partials = cellAssignments(base, centroids, 1)
        .select(col("vec_id"), col("cell"), col("vec")).as[(Long, Int, Seq[Double])]
        .mapPartitions { it =>
          it.toArray.groupBy(_._1 % NBlocks).iterator.map { case (block, rows) =>
            val sums = Array.fill(nc)(new Array[Double](dim))
            val counts = new Array[Long](nc)
            rows.sortBy(_._1).foreach { case (_, c, v) =>
              counts(c) += 1
              val s = sums(c)
              var i = 0
              while (i < dim) { s(i) += v(i); i += 1 }
            }
            (block, sums.map(_.toSeq).toSeq, counts.toSeq)
          }
        }
        .collect()
      val next = Array.fill(nc)(new Array[Double](dim))
      val counts = new Array[Long](nc)
      partials.sortBy(_._1).foreach { case (_, sums, cs) =>
        for (k <- 0 until nc) {
          counts(k) += cs(k)
          var i = 0
          while (i < dim) { next(k)(i) += sums(k)(i); i += 1 }
        }
      }
      centroids = centroids.indices.map { k =>
        // empty cells keep their previous centroid
        if (counts(k) == 0) centroids(k)
        else next(k).map(_ / counts(k)).toIndexedSeq
      }
    }
    centroids
  }

  private[graft] def l2norm(c: IndexedSeq[Double]): IndexedSeq[Double] = {
    val n = math.sqrt(c.map(x => x * x).sum)
    if (n == 0) c else c.map(_ / n)
  }

  /** The ONE cosine gate all exact-verify kernels share: the float32 cosine
    * of two vectors given as float arrays with their [[CosineF32.norm]]s,
    * rounded to 4dp as the oracle rounds it ([[CosineF32]]), kept when the
    * rounded value reaches `threshold`. A single definition because
    * OperatorsSpec asserts its two callers (dedupEmbedding and the test-side
    * exact all-pairs reference) are bit-identical — a change to the recipe
    * in one copy would silently de-synchronize the other.
    */
  @inline private[operators] def roundedGate(a: UnsafeArrayData, normA: Float,
                                             b: UnsafeArrayData, normB: Float,
                                             threshold: Double): Option[Double] = {
    val cos = CosineF32.round4(CosineF32.of(CosineF32.dot(a, b), normA, normB).toDouble)
    if (cos >= threshold) Some(cos) else None
  }

  /** Embedding-cosine near-duplicate pairs: EXACT all-pairs at threshold,
    * distributed via the classic block-pair ("triangle") join — vectors are
    * hashed into `nBlocks` blocks, every unordered block pair (p, q) becomes
    * one reduce group holding blocks p and q, and each group computes only
    * its own cross product. Replication factor is nBlocks (one shuffle of
    * nBlocks copies of the table), per-task memory is O(2n/nBlocks x Dim),
    * and NOTHING is collected to the driver. The O(n^2) pair compute is
    * irreducible for an exact join at cos >= 0.35 (pairs 69 degrees apart
    * share no geometric cell — sim3/sim4's SRP-LSH buckets are the
    * sub-quadratic approximate regime), so the design goal is spreading it:
    * n^2/2 dots over nBlocks(nBlocks+1)/2 tasks, nBlocks chosen so a task's
    * two blocks fit in memory (at 100 TB: nBlocks ~ n / 10^5).
    *
    * Output is bit-identical to the exact all-pairs reference in the tests
    * (same per-pair arithmetic, same pair set) — asserted in OperatorsSpec;
    * value-checked against DuckDB.
    */
  def dedupEmbedding(spark: SparkSession, dir: String, threshold: Double = 0.35,
                     nBlocks: Int = 8): DataFrame = {
    import spark.implicits._
    val rows = Tables.table(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
    val nb = nBlocks
    // each row goes to every block pair containing its block: group (p<=q)
    // receives block-p rows once (j=q) and block-q rows once (j=p)
    val expanded = rows.flatMap { case (id, e) =>
      val bi = (id % nb).toInt
      (0 until nb).map { j =>
        val p = math.min(bi, j)
        val q = math.max(bi, j)
        (p * nb + q, bi, id, e)
      }
    }
    val out = expanded.groupByKey(_._1).flatMapGroups { (bp, it) =>
      val p = bp / nb
      val q = bp % nb
      val members = it.map { case (_, blk, id, e) =>
        val v = UnsafeArrayData.fromPrimitiveArray(e.toArray)
        (blk, id, v, CosineF32.norm(v))
      }.toArray
      def pair(a: (Int, Long, UnsafeArrayData, Float), b: (Int, Long, UnsafeArrayData, Float)) = {
        val (lo, hi) = if (a._2 < b._2) (a, b) else (b, a)
        roundedGate(lo._3, lo._4, hi._3, hi._4, threshold).map(cos => (lo._2, hi._2, cos))
      }
      if (p == q) {
        val ms = members.sortBy(_._2)
        for {
          i <- ms.indices.iterator
          j <- (i + 1) until ms.length
          r <- pair(ms(i), ms(j))
        } yield r
      } else {
        val ps = members.filter(_._1 == p)
        val qs = members.filter(_._1 == q)
        for {
          a <- ps.iterator
          b <- qs
          r <- pair(a, b)
        } yield r
      }
    }
    out.toDF("vec_a", "vec_b", "cos").orderBy("vec_a", "vec_b")
  }

  /** IVF approximate top-k: assign all vectors to cells once, probe the
    * `NProbe` nearest cells per query, exact cosine only within probed cells.
    * Recall vs cosineTopK is asserted in OperatorsSpec. Centroid scoring runs
    * in the broadcast kernel; only the per-candidate dot (64 terms) is an
    * expression, so the whole plan stays inside whole-stage codegen.
    * `NCells`/`NProbe` set the index granularity (see trainCentroids for the
    * sqrt(N) scaling rule; the probe count trades recall for candidates).
    * Bit-deterministic by the fixed summation tree, so the single-threaded
    * oracle (pipeline.Oracle.annIvfOracleRows) reproduces it exactly.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    // cache only for the Lloyd iterations + the eager query collect below
    // (review fix: unpersisting before the collect forced one extra full
    // normalize+scoring recompute); the returned lazy plan still recomputes
    val base = normalized(spark, dir).persist()
    val centroids = trainCentroids(base)
    val indexed = cellAssignments(base, centroids, NProbe)
    // bounded collect: the query side is <= NumQueries rows — collect it
    // eagerly so the big `indexed` subtree appears ONCE in the final plan
    // instead of being recomputed for the broadcast side
    import spark.implicits._
    val qRows = indexed.where(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("vec"), col("probes"))
      .as[(Long, Seq[Double], Seq[Int])].collect()
    base.unpersist(blocking = false)
    val queries = qRows.flatMap { case (id, vec, probes) => probes.map(c => (id, vec, c)) }
      .toSeq.toDF("q_id", "q_vec", "cell")
    val cand = indexed.join(broadcast(queries), Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), dot(col("q_vec"), col("vec")).as("cos"))
      .dropDuplicates("q_id", "n_id")
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    cand
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopK)
      .select(col("q_id"), col("n_id"), round(col("cos"), 4).as("cos"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** Side parquet holding the single-threaded IVF oracle's rows. */
  def oracleTable(dir: String, n: Long, nCells: Int, nProbe: Int): String =
    OracleSide.path(s"sim2_oracle_ivf_c${nCells}_p$nProbe", dir, n)

  /** Cosine gate for semantic-duplicate groups (sim5). */
  final val SemThreshold = 0.35

  /** sim5: SemDeDup (Abbas et al. 2023) — semantic deduplication in
    * embedding space: k-means the corpus into cells, find within-cell pairs
    * with cosine ≥ [[SemThreshold]], connect them into semantic-duplicate
    * groups, and keep ONE representative per group — the member FARTHEST
    * from its cell centroid (the paper's keeper rule: boundary examples
    * carry more information than cluster-center ones), ties → min vec_id.
    * Output per vector: `(vec_id, cell, group_id, group_size, keep,
    * centroid_cos)`.
    *
    * Scale shape: the cells bound the candidate set exactly like the IVF
    * index (NCells ~ sqrt(N) keeps per-cell pair lists O(N)); groups come
    * from the shared CC helper (DedupOps.clustersFromPairs, dd7's) over the
    * within-cell pair graph; the keeper argmin is one `min(struct(ccos, vec_id))`
    * HashAggregate. Everything is bit-deterministic (fixed-summation-tree
    * k-means + left-to-right dot products), so the single-threaded oracle
    * side table reproduces the distributed output exactly — an approximate
    * semantic index with a hard value check, like sim2.
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = normalized(spark, dir).persist()
    val centroids = trainCentroids(base)
    val cents = centroids.map(c => l2norm(c))
    val centDf = cents.zipWithIndex.map { case (c, k) => (k, c) }.toDF("cell", "cvec")
    // materialize once: three consumers (both cell-join sides + the group
    // rollup) would otherwise re-run the scoring mapPartitions each —
    // localCheckpoint is the repo's iterative-reuse pattern (DedupOps.propagate
    // scaladoc covers the cluster-deployment caveat). Bench note: sim5's
    // time at sf0.1 is the SUM of many sub-second jobs (3 k-means iterations,
    // checkpoint materializations, the grouping) — per-job scheduling
    // overhead at probe scale, not a data-volume term; at cluster scale the
    // fixed costs amortize.
    val assigned = cellAssignments(base, centroids, 1)
      .join(broadcast(centDf), "cell")
      .select(col("vec_id"), col("vec"), col("cell"), dot(col("vec"), col("cvec")).as("ccos"))
      .localCheckpoint()
    // the eager checkpoint above was base's last consumer (review fix:
    // unpersisting before it forced a full recompute off the cache)
    base.unpersist(blocking = false)
    val pairs = Candidates.pairs(assigned, "vec_id", Seq(col("cell")), "vec")
      .where(dot(col("vec_a"), col("vec_b")) >= SemThreshold)
      .select(col("key").as("cell"), col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    // semantic-dup groups: the pair graph is WITHIN-CELL by construction
    // (candidates share a cell), so components never span cells. Shuffling
    // the pairs by cell puts every component in one pair partition, where
    // the shared CC helper's local union-find settles it (the oracle's own
    // algorithm, pipeline.Oracle.semDedupOracleRows): no vertex is split across partitions,
    // so no propagation round runs. Per-task state is O(cell pairs), bounded
    // by the sqrt(N)-cell design — the same bound the pairwise join above
    // already commits to. Same fixpoint: group id = min member id; sizes
    // come from the pair-touched vertices only, untouched vectors are
    // singletons.
    val withCos = DedupOps.clustersFromPairs(
        assigned.select(col("vec_id").as("doc_id"), col("cell"), col("ccos")),
        pairs.repartition(col("cell")).select("doc_a", "doc_b"))
      .select(col("doc_id").as("vec_id"), col("cell"), col("cluster_id").as("group_id"),
        col("cluster_size").as("group_size"), col("ccos"))
    val keepers = withCos.groupBy("group_id")
      .agg(min(struct(col("ccos"), col("vec_id"))).as("best"))
      .select(col("group_id"), col("best.vec_id").as("keeper"))
    withCos.join(keepers, "group_id")
      .select(col("vec_id"), col("cell"), col("group_id"), col("group_size"),
        (col("vec_id") === col("keeper")).cast("int").as("keep"),
        round(col("ccos"), 4).as("centroid_cos"))
      .orderBy("vec_id")
  }

  /** Side parquet holding the single-threaded SemDeDup oracle's rows. */
  def semOracleTable(dir: String, n: Long): String =
    OracleSide.path(s"sim5_oracle_semdedup_c$NCells", dir, n)

  /** Default hyperplane count for the single-table SRP-LSH near-dup variant —
    * the FROZEN test/oracle instance: the DuckDB mirror (SparkEntry
    * duckSrpBucket) generates exactly this many plane literals, so the
    * driver-checked query pins this value. 8 planes = 256 buckets is chosen
    * so the sf corpora (500-2000 spread vectors, max pairwise cos ~0.5)
    * still produce a NONEMPTY verified pair set for the driver to
    * value-check — at 16 correct planes this corpus's output is empty and
    * the check would be vacuous. Production calls pass
    * `nPlanesFor(corpus size)` instead (see below).
    */
  final val NPlanes = 8

  /** Frozen OR-amplification shape for the banded SRP variant (sim4):
    * `SrpBandTables` independent tables of `SrpBandPlanes` planes each.
    * Recall at similarity s (collision prob per plane s = 1 - theta/pi) is
    * 1-(1-s^r)^b: at cos 0.99 (a true near-dup) this 4x6 instance retains
    * ~0.997 of pairs, while a borderline cos-0.35 pair collides only ~20% of
    * the time — the standard LSH trade, gated by the planted-duplicate
    * recall test in OperatorsSpec.
    */
  final val SrpBandTables = 4
  final val SrpBandPlanes = 6

  /** Safety margin over log2(N) in the plane-count scaling rule. */
  final val SrpPlaneMargin = 10

  /** Plane count for a corpus of `n` vectors: `ceil(log2 n) + SrpPlaneMargin`,
    * capped at 62 (the bucket is packed into one signed Long).
    *
    * Why this is the right shape (mirrors NCells' sqrt(N) rule): with p
    * planes there are 2^p buckets, so expected same-bucket candidate pairs
    * over a spread corpus are ~ n^2 / 2^(p+1); at p = log2(n) + m that is
    * n / 2^(m+1) — LINEAR in n with constant 2^-(m+1) (~n/2048 background
    * candidates at m=10), instead of the ~10^13 pairs a frozen p=16 yields
    * at n=10^9 (65k buckets x ~15k docs each). The price is per-pair recall
    * (1 - theta/pi)^p shrinking with p; at scale that is recovered the
    * standard LSH way — OR over several independent plane tables (as dd3
    * does with its 32x2 bands), which multiplies cost by the table count but
    * keeps it linear. The occupancy property is pinned by a ScalaTest gate
    * (SimilaritySpec "srp plane-count rule").
    */
  def nPlanesFor(n: Long): Int =
    math.min(62, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)) + SrpPlaneMargin)

  /** ±1 weight of SRP hyperplane `p` at dimension `d`, from the SplitMix64
    * finalizer over the packed key (p << 32 | d). The weights reach the
    * DuckDB oracle SQL as ±1 LITERALS generated from this function
    * (SparkEntry duckSrpBucket), so any deterministic JVM mixer keeps the
    * bucket assignment driver-value-checked — no SQL-expressible arithmetic
    * needed.
    *
    * Round-4 fix: the previous family — parity of the affine map
    * (p*Dim+d)*HashB1 + 17 mod HashM1 — is DEGENERATE for even Dim: below
    * the modulus, parity((p*Dim+d)*257+17) = parity(p*Dim+d) xor 1, and with
    * Dim = 64 even that depends on `d` alone. Every "plane" was therefore
    * the SAME hyperplane, the bucket space collapsed to 2 values regardless
    * of plane count, and the bucket join was a hidden half-all-pairs
    * quadratic join (measured: 62k same-bucket pairs over the 500-vector sf
    * corpus vs ~4 with decorrelated planes). Parity of a multiplicative
    * finalizer has no such linear structure.
    */
  private[graft] def srpWeight(p: Int, d: Int): Double = {
    var z = ((p.toLong << 32) | d.toLong) + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= z >>> 31
    if ((z & 1L) == 1L) 1.0 else -1.0
  }

  /** Signed-random-projection LSH near-duplicate pairs (Charikar, STOC'02):
    * each vector's bucket is the `nPlanes`-bit sign pattern of fixed ±1
    * hyperplane projections; only same-bucket pairs are scored exactly.
    *
    * This is dd5's sub-quadratic regime: the collision probability of a pair
    * at angle theta is (1 - theta/pi)^nPlanes, so the equi-join on `bucket`
    * replaces the all-pairs O(n^2/NBlocks) block join with an expected
    * O(sum of bucket-size^2). The plane count must GROW with the corpus —
    * pass `nPlanesFor(n)` (log2(n) + margin; see its scaladoc for the
    * occupancy math) for production corpora; the `NPlanes`=8 default is the
    * frozen oracle instance the driver value-checks (8, not 16: see the
    * NPlanes scaladoc — at 16 this corpus's verified pair set is empty and
    * the value check would be vacuous), and (as with dd4)
    * skewed buckets split under AQE. Exact cosine verification runs on
    * candidates only, so output pairs are exactly dd5's pair set restricted
    * to same-bucket collisions (recall on THIS corpus is pinned by the
    * subset+recall ScalaTest gate).
    *
    * Projections are folded left-to-right in double precision by the native
    * DotProduct loop; DuckDB's `list_dot_product` over DOUBLE lists uses the
    * same fold order (verified bit-identical), and signs are taken on the
    * 4dp-rounded projection in both engines.
    */
  /** Bucket expression for planes [planeOffset, planeOffset + nPlanes) over a
    * materialized double-vector column `vd`: the packed sign pattern of the
    * plane projections, each sign taken on the 4dp-rounded dot (same rule as
    * the DuckDB mirror).
    */
  private def srpBucket(planeOffset: Int, nPlanes: Int): Column =
    (0 until nPlanes).map { i =>
      val w = lit((0 until Dim).map(d => srpWeight(planeOffset + i, d)).toArray)
      when(round(dot(col("vd"), w), 4) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  def srpNearDup(spark: SparkSession, dir: String, threshold: Double = 0.35,
                 nPlanes: Int = NPlanes): DataFrame =
    srpNearDupFrom(Tables.table(spark, dir, "embeddings"), threshold, nPlanes)

  private[graft] def srpNearDupFrom(e: DataFrame, threshold: Double, nPlanes: Int): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 62, s"nPlanes $nPlanes outside [1, 62]")
    // materialize the double-cast ONCE per row in its own select: inlined
    // into the plane dots it would re-run per plane (transform is a
    // CodegenFallback HOF — nPlanes interpreted array casts per row per join
    // side, measured 3.7s; CollapseProject keeps the split because a
    // non-cheap expr with many references must not be duplicated)
    val b = e
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"), x => x.cast("double")).as("vd"))
      .select(col("vec_id"), col("embedding"), srpBucket(0, nPlanes).as("bucket"))
      .localCheckpoint()
    Candidates.pairs(b, "vec_id", Seq(col("bucket")), "embedding")
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"),
        Native.round4(Native.cosine(col("embedding_a"), col("embedding_b"))).as("cos"))
      .where(col("cos") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** OR-amplified (banded) SRP near-dup: `nTables` independent plane tables
    * (table t uses planes [t*nPlanes, (t+1)*nPlanes)); a pair is a candidate
    * if it shares a bucket in ANY table, and candidates are verified with the
    * exact cosine. This is the standard LSH recall amplification (same shape
    * as dd3's 32x2 MinHash banding): per-pair recall 1-(1-s^r)^b, so true
    * near-dups (cos >= 0.99 → ~0.997 at the frozen 4x6 instance) survive
    * while the candidate volume stays sum-of-bucket-sizes^2 per table.
    *
    * Plan shape (scale path): ONE pass computes all table buckets, the
    * (table, bucket) keys meet in [[Candidates.pairs]] (one equi-join
    * shuffle, one pair dedup), then a candidates-only exact verify runs via
    * two co-keyed joins back to the embeddings. Never all-pairs; per-table
    * occupancy is governed by the same `nPlanesFor` rule as the single-table
    * variant.
    */
  def srpNearDupBanded(spark: SparkSession, dir: String, threshold: Double = 0.35,
                       nTables: Int = SrpBandTables, nPlanes: Int = SrpBandPlanes): DataFrame =
    srpNearDupBandedFrom(Tables.table(spark, dir, "embeddings"), threshold, nTables, nPlanes)

  private[graft] def srpNearDupBandedFrom(e: DataFrame, threshold: Double,
                                          nTables: Int, nPlanes: Int): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 62, s"nPlanes $nPlanes outside [1, 62]")
    require(nTables >= 1 && java.lang.Long.numberOfLeadingZeros(nTables - 1L) >= nPlanes,
      s"$nTables tables of $nPlanes planes overflow the packed key")
    // the per-vector buckets are materialized before the join, so its keys
    // (table t's bucket packed as t << nPlanes | bucket) never re-run the
    // nTables x nPlanes plane dots
    val bucketed = e
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vd"))
      .select(col("vec_id"),
        array((0 until nTables).map(t => srpBucket(t * nPlanes, nPlanes)): _*).as("bks"))
      .localCheckpoint()
    val keys = (0 until nTables).map(t =>
      shiftleft(lit(t.toLong), nPlanes).bitwiseOR(col("bks")(t)))
    val cand = Candidates.pairs(bucketed, "vec_id", keys)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
    val vecs = e.select(col("vec_id"), col("embedding"))
    cand
      .join(vecs.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
      .join(vecs.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        Native.round4(Native.cosine(col("emb_a"), col("emb_b"))).as("cos"))
      .where(col("cos") >= threshold)
      .orderBy("vec_a", "vec_b")
  }
}
