package graft.operators

import graft.expr.Native
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection at training-data-pipeline scale.
  *
  * MinHash+LSH: shingle → 64 minhash permutations (64 codegen'd agg
  * expressions, no explode blowup) → 32 bands x 2 rows → band-bucket
  * self-join → exact-Jaccard verification of the (few) candidates.
  * Sub-quadratic: only docs sharing a band bucket ever pair, and the exact
  * check runs on candidates only.
  *
  * SimHash: 60-bit signature from PORTABLE token hashes (polynomial rolling
  * hash — the same arithmetic is expressible in DuckDB SQL, so the pair set
  * is value-checked by the driver's oracle); near-dups via a two-level band
  * join + bit_count Hamming filter. Completeness (pigeonhole, d <= 3 diffs):
  * one of the 4 15-bit bands has 0 diffs; within that band's bucket the
  * remaining 45 bits still carry <= 3 diffs, so one of 4 sub-chunks of those
  * 45 bits also has 0 diffs — every d<=3 pair shares a (band, bandVal, sub,
  * subVal) key. The sub-split bounds bucket occupancy: a plain 4x15-bit
  * banding has only 2^15 buckets/band (at 10^9 docs every bucket holds ~10^4
  * docs and the self-join degenerates quadratically); with the 27-bit
  * compound key the expected occupancy at 10^9 docs is ~10 docs/bucket.
  */
object DedupOps {
  final val NumPerms = 64
  // 32 bands x 2 rows: band-match probability s^2 per band, so a true pair at
  // jaccard s is missed with (1-s^2)^32 — 6e-7 at s=0.6, 1e-4 at s=0.5 —
  // vs the 16x4 scheme whose miss rate at s=0.6 is a whopping 0.11. The
  // corpus is degenerately self-similar (tens of thousands of pairs sit at
  // 0.45-0.65), so recall right at the gate matters more than candidate
  // pruning sharpness.
  final val NumBands = 32
  final val RowsPerBand = NumPerms / NumBands

  // Portable polynomial rolling hash parameters (shared with TextOps
  // fingerprints; mirrored literally in the DuckDB oracle SQL).
  final val HashB1 = 257L
  final val HashM1 = 1000000007L
  final val HashB2 = 131L
  final val HashM2 = 998244353L

  final val SimBits = 60            // signature width (fits BIGINT in both engines)
  final val SimBands = 4            // 4 x 15-bit primary bands
  final val BandBits = SimBits / SimBands
  final val MaxHamming = 3
  /** Sub-chunks (start, len) of the 45 remaining bits once a band is removed. */
  final val SubBounds: Seq[(Int, Int)] = Seq((0, 12), (12, 11), (23, 11), (34, 11))

  /** Candidate near-dup pairs via LSH banding + exact Jaccard verification.
    * Output: (doc_a, doc_b, est_sim, jaccard) for pairs with jaccard >= minJaccard.
    *
    * @param maxDocs bounded probe window (pushed to the parquet scan). On
    *   THIS synthetic corpus ~29% of ALL doc pairs are >= 0.5-similar (tiny
    *   shared vocabulary), so band collisions — and therefore every correct
    *   near-dup finder's candidate volume — grow quadratically with corpus
    *   size NO MATTER the output gate (a 0.9 gate shrinks the output, not
    *   the collisions: measured 250s at 5k docs). The bench probes a fixed
    *   window so its number tracks the LSH machinery, not the degenerate
    *   corpus; at real-world dup densities the same plan is the documented
    *   sub-quadratic production path.
    */
  def dedupMinHash(spark: SparkSession, dir: String, minJaccard: Double = 0.5,
                   maxDocs: Long = Long.MaxValue): DataFrame = {
    val base = Tables.docs(spark, dir)
    val bounded = if (maxDocs == Long.MaxValue) base else base.where(col("doc_id") < maxDocs)
    minHashPairs(bounded, minJaccard)
  }

  def minHashPairs(d: DataFrame, minJaccard: Double): DataFrame = {
    // The per-doc signature build is a PURE MAP, one native pass per doc
    // (Native.shingleHashes + minHash): the former shape exploded
    // every (doc, shingle) row and ran 64 xxhash64 min-aggregate columns
    // through an ObjectHashAggregate + exchange — value-identical because
    // min_h xxhash64(i, h) is order- and duplicate-invariant, and the
    // shingle xxhash is taken over the same UTF-8 byte windows substr
    // produced (NativeTextHashSpec pins both). Materialized ONCE: the band
    // self-join and the est/verify joins each re-planned the whole pipeline
    // before (a broadcast build side never reuses the probe side's
    // exchange — the mm7/dd4 lesson). The shingle hashes keep duplicates:
    // the min-aggregation and the array_distinct below are themselves
    // dedupes, and a `.distinct()` would only add a (doc_id, h) exchange.
    val shingles = Native.shingleHashes(col("text"))
    val perDoc = Par.spread(
        d.where(length(col("text")) >= 3).select(col("doc_id"), col("text")))
      .select(col("doc_id"), shingles.as("sh"))
      .select(col("doc_id"),
        Native.minHash(col("sh"), NumPerms).as("sig"),
        array_distinct(col("sh")).as("hs"))
      .localCheckpoint()
    val sig = perDoc.select("doc_id", "sig")
    val bands = sig.select(col("doc_id"),
      posexplode(array((0 until NumBands).map { b =>
        xxhash64((b * RowsPerBand until (b + 1) * RowsPerBand).map(i => col("sig")(i)): _*)
      }: _*)).as(Seq("band", "bh")))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // estimated similarity from signature agreement (native positional
    // count — the zip_with/filter lambda walk ran interpreted per pair, on
    // the one or two AQE-coalesced post-shuffle tasks)
    val withEst = cand
      .join(sig.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sig", "sig_a"), "doc_a")
      .join(sig.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sig", "sig_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(Native.positionalEq(col("sig_a"), col("sig_b")).cast("double") / NumPerms, 4)
          .as("est_sim"))
    // exact verification on candidates only (sets are per-doc bounded);
    // prefilter on signature agreement cuts the verification join for
    // candidates whose estimated similarity is far below the gate. Slack is
    // 0.3 = 4.9 sigma at 64 perms (sigma <= sqrt(0.25/64) ~ 0.0625), so the
    // probability a true gate-level pair is dropped here is ~5e-7.
    // |union| = |a| + |b| - |a ∩ b| because both sides are distinct arrays,
    // so one native intersect count replaces the interpreted per-pair
    // array_intersect + array_union set builds.
    val sets = perDoc.select("doc_id", "hs")
    val inter = Native.intersectCount(col("hs_a"), col("hs_b"))
    withEst
      .where(col("est_sim") >= minJaccard - 0.3)
      .join(sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hs", "hs_a"), "doc_a")
      .join(sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hs", "hs_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("est_sim"),
        col("hs_a"), col("hs_b"), inter.as("inter"))
      .select(col("doc_a"), col("doc_b"), col("est_sim"),
        round(col("inter").cast("double") /
          (size(col("hs_a")) + size(col("hs_b")) - col("inter")).cast("double"), 4).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
      .orderBy("doc_a", "doc_b")
  }

  /** 60-bit SimHash per doc from portable whitespace-token hashes: bit i's
    * vote for a token is parity of (h1*(i+1) + h2) mod M1 — a cheap
    * two-hash family both engines compute with plain integer arithmetic.
    * Tokens are the non-empty elements of split(trim(text), "\\s+"); docs
    * without one (null, empty or whitespace-only text) get no signature.
    *
    * One native pass per doc (Native.simHash), a pure map after the
    * spread — the minHashPairs pattern: no per-token rows, no aggregate, no
    * exchange beyond the spread. NativeTextHashSpec pins it to the explode +
    * 60 sum(when(..)) aggregate the DuckDB oracle mirrors. The signature is
    * per ROW, which equals that per-doc_id aggregate because `doc_id` is the
    * documents key.
    */
  def simHashSignatures(d: DataFrame): DataFrame = {
    // `\S` matches exactly the texts with a token, so the signature below is
    // never null; assertNotNull states that in the schema (a non-null
    // `simhash`, and so dd4's non-null `hamming`, as the former aggregate
    // declared). The filter runs on the scan side of the spread: a filter on
    // the signature itself would be pushed below the spread's exchange and
    // hash every doc twice, once on the single scan task.
    val sig = Native.assertNotNull(
      Native.simHash(col("text"), SimBits, HashB1, HashM1, HashB2, HashM2))
    Par.spread(d.where(col("text").rlike("\\S")).select(col("doc_id"), col("text")))
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** The 16 compound band keys for one signature column: for each primary
    * band b (15 bits) and each sub-chunk s of the remaining 45 bits, a single
    * 31-bit key (comboId << 27 | bandVal << 12 | subVal). See the object doc
    * for the completeness argument and occupancy math.
    */
  private[operators] def simHashKeys(sig: Column): Seq[Column] =
    for { b <- 0 until SimBands; s <- 0 until SubBounds.length } yield {
      val cv = shiftright(sig, BandBits * b).bitwiseAND(lit((1L << BandBits) - 1))
      // remaining 45 bits with band b's bits removed
      val low = sig.bitwiseAND(lit((1L << (BandBits * b)) - 1))
      val high = shiftleft(shiftright(sig, BandBits * (b + 1)), BandBits * b)
      val r = low.bitwiseOR(high)
      val (st, ln) = SubBounds(s)
      val scv = shiftright(r, st).bitwiseAND(lit((1L << ln) - 1))
      shiftleft(lit((b * SubBounds.length + s).toLong), 27)
        .bitwiseOR(shiftleft(cv, 12)).bitwiseOR(scv)
    }

  /** SimHash signatures + near-dup pairs at Hamming distance <= MaxHamming
    * via the two-level band join. Output: (doc_a, doc_b, hamming) —
    * value-checked by the driver's DuckDB oracle (all-pairs at sf scale).
    */
  def dedupSimHash(spark: SparkSession, dir: String): DataFrame =
    simHashPairs(Tables.docs(spark, dir))

  def simHashPairs(d: DataFrame): DataFrame =
    simHashPairsUnsorted(d).orderBy("doc_a", "doc_b")

  /** The pair set without dd4's presentation sort — consumers that only need
    * the SET (dd7's connected components) skip the global range sort.
    */
  private[operators] def simHashPairsUnsorted(d: DataFrame): DataFrame = {
    // materialize the (doc_id, simhash) frame ONCE: the band self-join's
    // broadcast build side cannot reuse the probe side's exchange (it is a
    // BroadcastExchange over an identical subtree, not a shuffle), so the
    // whole scan + spread + signature pipeline would run TWICE per query
    // (verified in the dd4 physical plan). The checkpoint is one signature
    // row per doc.
    val sig = simHashSignatures(d).localCheckpoint()
    val chunks = sig.select(col("doc_id"), col("simhash"),
      explode(array(simHashKeys(col("simhash")): _*)).as("k"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= MaxHamming)
  }

  /** Iteration cap for the residual label-propagation rounds (each round is
    * neighbor-min + pointer-jump, so label depth halves per round: 25 rounds
    * cover any component whose min-label tree is < 2^25 deep — far beyond any
    * real dup cluster).
    */
  final val MaxCcIters = 25

  /** Duplicate-cluster assignment — the production OUTPUT of near-dup
    * detection: every document gets a cluster id (= min doc_id of its
    * connected component in the near-dup pair graph), a cluster size, and a
    * keeper flag (the canonical doc kept by dedup, same min-doc_id convention
    * as dd1). Edges here are the SimHash Hamming<=3 pairs (dd4's exact,
    * oracle-checked pair set); any pair source (MinHash, embedding) plugs in
    * unchanged.
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    dupClustersOf(Tables.docs(spark, dir))

  /** [[dupClusters]] over an explicit `(doc_id, text)` frame. */
  def dupClustersOf(d: DataFrame): DataFrame =
    clustersFromPairs(d.select(col("doc_id")),
      simHashPairsUnsorted(d).select("doc_a", "doc_b"))

  /** The repo's one connected-components routine (dd7, pipe3, sim5): every
    * `nodes` row gets `(doc_id, cluster_id, cluster_size, is_keeper)`, where
    * cluster_id is the min doc_id of its component in the undirected graph
    * of `pairs(doc_a, doc_b)` and the keeper is that min member; nodes no
    * pair touches are singletons. Any other `nodes` columns ride along after
    * those four. Rows are ordered by doc_id. Components come from
    * [[componentLabels]].
    */
  def clustersFromPairs(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    // clustered sizes come from the SMALL labels table (one window over
    // lbl); untouched nodes are singletons by construction (size 1, own
    // label) — the full node frame is scanned once and joined once
    val labels = componentLabels(pairs)._1
      .withColumn("size", count(lit(1)).over(Window.partitionBy("lbl")))
    val rest = nodes.columns.filter(_ != "doc_id").toSeq.map(col)
    val cluster = coalesce(col("lbl"), col("doc_id"))
    nodes.join(labels, Seq("doc_id"), "left")
      .select(Seq(col("doc_id"), cluster.as("cluster_id"),
        coalesce(col("size"), lit(1L)).as("cluster_size"),
        (col("doc_id") === cluster).cast("int").as("is_keeper")) ++ rest: _*)
      .orderBy("doc_id")
  }

  /** `(doc_id, lbl)` for every pair-touched vertex, lbl = min doc_id of its
    * component, plus the number of propagation rounds that ran. Local
    * contraction first (Kiveris et al., SoCC'14), label propagation only
    * for what it leaves:
    *  1. each pair partition runs an in-memory min-rooted union-find and
    *     emits (vertex, local root);
    *  2. one doc_id group takes each vertex's minimum local root; a vertex
    *     seen in more than one partition under different roots keeps those
    *     roots, and a LongAccumulator fused into the group's single
    *     `localCheckpoint` counts such vertices;
    *  3. only when that count is non-zero, [[propagate]] runs over the
    *     residual root-to-root edges (lbl(v), root) — near-clique dup
    *     graphs, and pairs pre-partitioned by component (sim5's cells),
    *     leave none, so no round runs;
    *  4. each vertex's label is its min root's residual label.
    * The fixpoint is unchanged: a local root is the min of a connected
    * vertex set, so the min root over a component is its min vertex.
    * Accumulator updates in transformations can only OVER-count (task
    * retry), and after a successful materialization every row was evaluated
    * at least once, so `count == 0 <=> no residual edge` — exact for the >0
    * predicate used here. Per-task state is O(vertices of one pair
    * partition).
    */
  private[operators] def componentLabels(pairs: DataFrame): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val local = pairs.select(col("doc_a"), col("doc_b")).as[(Long, Long)]
      .mapPartitions { it =>
        val uf = new MinUnionFind
        it.foreach { case (u, v) => uf.union(u, v) }
        uf.roots
      }
      .toDF("doc_id", "root")
    val acc = spark.sparkContext.longAccumulator("graft_cc_residual")
    val multi = udf { (n: Int) => if (n > 1) acc.add(1L); n > 1 }
    val contracted = local.groupBy("doc_id").agg(collect_set(col("root")).as("roots"))
      .select(col("doc_id"), array_min(col("roots")).as("lbl"),
        when(multi(size(col("roots"))), col("roots")).as("roots"))
      .localCheckpoint()
    if (acc.value == 0) return (contracted.select("doc_id", "lbl"), 0)
    val residual = contracted.where(col("roots").isNotNull)
      .select(col("lbl").as("doc_a"), explode(col("roots")).as("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
    val (rootLabels, rounds) = propagate(residual)
    val labels = contracted
      .join(rootLabels.select(col("doc_id").as("lbl"), col("lbl").as("top")), Seq("lbl"), "left")
      .select(col("doc_id"), coalesce(col("top"), col("lbl")).as("lbl"))
    (labels, rounds)
  }

  /** Connected components of the (small) residual pair graph via iterative
    * min-label propagation with pointer jumping, fused per round:
    *   lbl'(v) <- min(lbl(v), min over neighbors u of lbl(u), lbl(lbl(v)))
    * The jump term halves the depth of every label-reference chain, so
    * convergence is O(log(longest chain)) rounds rather than O(graph
    * diameter) — the same doubling idea as large-star/small-star (Kiveris et
    * al., SoCC'14), kept in label space where each round is one join feeding
    * a single union'd min-aggregate. Per round the labels table is
    * `localCheckpoint`ed EXACTLY ONCE: it materializes the iterate, carries
    * the fused convergence flag, and TRUNCATES lineage, so the plan Catalyst
    * optimizes stays one-round-sized instead of growing with the loop (on a
    * real cluster a reliable `checkpoint` dir makes the iterate survive
    * executor loss). Returns `(doc_id, lbl)` over the edge-touched vertices
    * and the number of rounds.
    */
  private def propagate(pairs: DataFrame): (DataFrame, Int) = {
    // `pairs` is a narrow projection of the checkpointed contraction, so the
    // per-round re-reads of `edges` are cheap and need no materialization
    val edges = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
    // ROUND 1 is a closed form, fused into the first materialization: with
    // lbl0(v) = v, the round's three candidate sources collapse to
    // min(v, min over neighbors u of u), i.e. ONE edge aggregate
    var labels = edges
      .groupBy(col("v").as("doc_id")).agg(min(col("u")).as("nbr"))
      .select(col("doc_id"), least(col("doc_id"), col("nbr")).as("lbl"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < MaxCcIters) {
      // candidates for v's new label are (a) v's own label, (b) each
      // neighbor's label, and (c) the pointer jump lbl(lbl(v)) — all taken
      // against the PREVIOUS round's materialized labels, which preserves the
      // fixpoint and the log-depth acceleration while letting the round
      // materialize exactly once. The jump is the SAME u-keyed lookup as the
      // neighbor propagation — jump "edges" are (u = lbl(v), v) — so both
      // ride ONE join against the label map.
      val viaEdges = edges
        .unionByName(labels.select(col("lbl").as("u"), col("doc_id").as("v")))
        .join(labels.select(col("doc_id").as("u"), col("lbl").as("cand")), "u")
        .select(col("v").as("doc_id"), col("cand"), lit(null).cast("long").as("old"))
      // convergence is counted the [[componentLabels]] way: a flag UDF feeds
      // an accumulator during the checkpoint, and the previous label rides
      // the self branch's `old` column through the aggregate, so no join back
      // to `labels` is needed
      val acc = pairs.sparkSession.sparkContext.longAccumulator(s"graft_cc_changed_$iter")
      val flag = udf { (c: Boolean) => if (c) acc.add(1L); c }
      val next = labels.select(col("doc_id"), col("lbl").as("cand"), col("lbl").as("old"))
        .unionByName(viaEdges)
        .groupBy("doc_id").agg(min(col("cand")).as("lbl"), min(col("old")).as("old"))
        .select(col("doc_id"), col("lbl"), flag(col("lbl") =!= col("old")).as("chg"))
        .localCheckpoint()
      changed = acc.value
      labels = next.select(col("doc_id"), col("lbl"))
      iter += 1
    }
    require(changed == 0, s"label propagation did not converge in $MaxCcIters rounds")
    (labels, iter)
  }

  /** pipe3: canonical-representative selection per near-dup cluster — the
    * step a dedup pipeline runs AFTER clustering (dd7): within each cluster
    * keep the member with the most tokens (ties → min doc_id), the
    * longest-member convention. `(cluster_id, n_members, keeper,
    * keeper_tokens)`, singletons included (they keep themselves).
    *
    * Scale shape: dd7's machinery plus one co-keyed doc_id join and one
    * cluster_id aggregation. The argmax rides a single `max(struct(...))`
    * (doc_id negated for the min tie-break) so the agg stays HashAggregate
    * with map-side combine — no per-cluster window/sort.
    */
  def clusterKeeper(spark: SparkSession, dir: String): DataFrame =
    clusterKeeperOf(Tables.docs(spark, dir))

  /** [[clusterKeeper]] over an explicit `(doc_id, text)` frame. */
  def clusterKeeperOf(d: DataFrame): DataFrame = {
    // tokensOf: null text counts 0 tokens in BOTH engines (qf1 contract);
    // spread the raw rows so the tokenize runs on every core — as the join's
    // (often broadcast-built) side it otherwise rides the single scan task
    val nToks = size(TextOps.tokensOf(col("text"))).cast("long")
    dupClustersOf(d)
      .join(Par.spread(d.select(col("doc_id"), col("text")))
        .select(col("doc_id"), nToks.as("n_tokens")), "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_tokens"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster_id"), col("n_members"),
        (-col("best.nid")).as("keeper"),
        col("best.n_tokens").as("keeper_tokens"))
      .orderBy("cluster_id")
  }

  /** Token-k-gram length for cross-document duplicate-substring coverage. */
  final val DupGramK = 8

  /** The dd6/dd8/ctn1 gram convention in ONE place: md5 of each
    * space-joined [[DupGramK]]-token window of `toks` (1-based positions,
    * `size - K + 1` grams). Callers must have materialized `toks` into a
    * real column first (re-evaluation pitfall, TextOps.repetitionStats).
    */
  private[operators] def gramHashes(toks: Column): Column =
    // native codegen expression: the former transform(sequence(...),
    // md5(array_join(slice(...)))) HOF ran interpreted per gram and
    // re-sliced + re-joined the window each time; one MessageDigest now
    // streams each window's bytes (value-identical — NativeTextHashSpec)
    Native.gramMd5s(toks, DupGramK)

  /** Cross-document duplicated-n-gram coverage (the distributed signal behind
    * exact-substring dedup, Lee et al. 2022 "Deduplicating Training Data
    * Makes Language Models Better": long n-grams shared across documents mark
    * memorization-prone content). Per document: how many of its distinct
    * 8-token k-grams also occur in at least one OTHER document.
    *
    * Unlike the pairwise near-dup joins (dd2/dd3), this is LINEAR in corpus
    * size: one shuffle keyed by gram hash to count document frequency (hash
    * partial agg combines map-side), one co-keyed join back, one doc_id
    * rollup — no candidate pair set is ever materialized. Grams are md5'd
    * before the shuffle so the key is 32 bytes regardless of gram length;
    * hot grams (df in the millions) are handled by AQE's skew-join split on
    * the probe side, since the df side is one row per gram after the agg.
    * Docs with fewer than K tokens have no k-grams and are absent (same rule
    * both engines).
    */
  def dupNgramCoverage(spark: SparkSession, dir: String): DataFrame = {
    // tokenized(): single materialization per row + Par.spread — dd6
    // md5-hashes every gram of every doc, exactly the CPU-dense work the
    // single-split guard exists for (review fix: the former inline copy
    // skipped the spread and serialized the corpus onto one task)
    val mat = tokenized(Tables.docs(spark, dir))
    val grams = gramHashes(col("toks"))
    val g = mat
      .select(col("doc_id"), explode(array_distinct(grams)).as("h"))
    val dfreq = g.groupBy("h").agg(count(lit(1)).as("df"))
    g.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams").cast("double"), 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Maximal duplicated token spans per document — the actual CUT LIST an
    * exact-substring deduplicator (Lee et al. 2022, ExactSubstr) would remove,
    * where dd6 only reports the coverage fraction. A token position i is
    * "duplicated" when its [[DupGramK]]-gram also occurs in at least one other
    * document; maximal runs of consecutive duplicated positions [i..j] become
    * spans [i, j+K-1] (1-based token indices, inclusive). `span_md5` is the
    * md5 of the span's text, so the oracle value-checks CONTENT, not just
    * coordinates.
    *
    * Scale shape (all corpus-LINEAR, no candidate pairs):
    *  1. gram-df shuffle — identical to dd6 (distinct grams per doc computed
    *     map-side via array_distinct, md5-compressed 32-byte keys, partial
    *     agg combines before the exchange);
    *  2. positions⋈df equi-join on the gram hash — the df side is one row
    *     per DUPLICATED gram (df>=2 filter pushed below the join), hot grams
    *     are AQE skew-split like dd6;
    *  3. one doc_id exchange for the gaps-and-islands window
    *     (i - row_number() over (doc_id, i) is constant within a run); the
    *     run aggregate reuses that partitioning (doc_id ⊆ group key, no 4th
    *     exchange);
    *  4. join back to the corpus on doc_id to render span_md5 — runs arrive
    *     already hash-partitioned by doc_id from step 3, so only the corpus
    *     side shuffles; an ExactSubstr CUTTER re-reads the text anyway.
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpansOf(Tables.docs(spark, dir))

  /** [[dupSpans]] over an explicit `(doc_id, text)` frame. */
  def dupSpansOf(d: DataFrame): DataFrame = {
    // same three-consumer fan-out as pipe2: materialize the tokens once
    val mat = tokenized(d).localCheckpoint()
    dupRunsOf(mat).join(mat, "doc_id")
      .select(col("doc_id"), col("span_start"), col("span_end"), col("span_tokens"),
        md5(array_join(
          slice(col("toks"), col("span_start").cast("int"),
            col("span_tokens").cast("int")), " ")).as("span_md5"))
      .orderBy("doc_id", "span_start")
  }

  /** Non-empty docs as `(doc_id, toks)` with at least `minToks` tokens —
    * tokens materialized once per row (TextOps.repetitionStats pitfall: HOFs
    * over a raw split(...) re-evaluate the split per element access), spread
    * across cores when the scan arrives single-split (Par scaladoc).
    */
  private[operators] def tokenized(d: DataFrame): DataFrame =
    // spread the RAW rows and tokenize AFTER the exchange: with the split
    // inside the spread's child it ran in the pre-shuffle map stage — i.e.
    // on the single scan task — and the shuffle then carried the fatter
    // token arrays instead of the source text. The former `size(toks) >=
    // minToks` post-split filter is gone: Catalyst pushed it (rewritten
    // over split(...)) below the spread exchange, re-serializing a full
    // tokenize pass on the scan task — and it was redundant anyway, since
    // gramHashes yields the empty array below K tokens and every consumer's
    // explode/join then drops the row identically.
    Par.spread(d
      .where(trim(col("text")) =!= "")
      .select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))

  /** The maximal duplicated runs `(doc_id, span_start, span_end,
    * span_tokens)` over a [[tokenized]] frame — the shared core of dd8 (which
    * renders each span's content md5) and pipe2 (which CUTS the spans).
    * Par.spread in [[tokenized]] pays here: both gram branches md5 every
    * k-gram of every doc — CPU-dense, unlike pipe1's cheap map (see
    * TextOps.trainingPrep).
    */
  private def dupRunsOf(mat: DataFrame): DataFrame = {
    val K = DupGramK
    val grams = gramHashes(col("toks"))
    val dfreq = mat
      .select(col("doc_id"), explode(array_distinct(grams)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2)
      .select("h")
    val pos = mat.select(col("doc_id"),
      posexplode(grams).as(Seq("i0", "h")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("i"), col("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("i")
    pos.join(dfreq, "h")
      .select(col("doc_id"), col("i"),
        (col("i") - row_number().over(w)).as("isl"))
      .groupBy("doc_id", "isl")
      .agg(min("i").as("span_start"), (max("i") + (K - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** The ExactSubstr CUT step (pipe2): remove every duplicated span dd8
    * reports from each document and emit the cleaned text's fingerprint —
    * `(doc_id, n_tokens, n_spans_cut, n_cut, n_kept, cleaned_md5)` over every
    * non-empty doc (docs too short to carry a k-gram pass through uncut).
    *
    * Scale shape: dd8's three linear shuffles, then the per-doc span arrays
    * (collect_list reuses the window's doc_id partitioning — no extra
    * exchange) LEFT-join the corpus on doc_id and a single HOF pass drops
    * covered positions. Span count per doc is small (bounded by
    * n_tokens/K runs), so the exists() probe inside the filter lambda is a
    * short linear scan, not a blowup.
    */
  def cutDupSpans(spark: SparkSession, dir: String): DataFrame =
    cutDupSpansOf(Tables.docs(spark, dir))

  /** [[cutDupSpans]] over an explicit `(doc_id, text)` frame. */
  def cutDupSpansOf(d: DataFrame): DataFrame = {
    // tokenize ONCE and materialize: three consumers (the gram-df branch,
    // the gram-positions branch, and the cut join's corpus side) each prune
    // different columns/filters, so lazy sharing re-scans and re-tokenizes
    // per branch (verified: 3 FileScans before this). A localCheckpoint of
    // the text-sized (doc_id, toks) frame collapses them to one scan — the
    // sim5/dd7 shared-iterate pattern (reliable `checkpoint` on a cluster);
    // the gram-eligible frame is a size filter over the same materialization
    val all = tokenized(d).localCheckpoint()
    val spansByDoc = dupRunsOf(all.where(size(col("toks")) >= DupGramK))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"),
        count(lit(1)).as("n_spans_cut"))
    val joined = all.join(spansByDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("spans"),
          array().cast("array<struct<span_start:bigint,span_end:bigint>>")).as("spans"),
        coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"))
    // one filter pass per doc: token position i+1 (1-based) survives unless
    // some span covers it
    val kept = filter(col("toks"), (_, i) =>
      !exists(col("spans"), s =>
        (i + 1) >= s.getField("span_start") && (i + 1) <= s.getField("span_end")))
    joined
      .select(col("doc_id"), col("toks"), col("n_spans_cut"), kept.as("kept"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        col("n_spans_cut"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_cut"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(array_join(col("kept"), " ")).as("cleaned_md5"))
      .orderBy("doc_id")
  }
}

/** Union-find over long ids whose root is always the set's minimum, with
  * path compression — the per-partition contraction step of
  * [[DedupOps.componentLabels]] and the grouping of sim5's single-threaded
  * oracle (pipeline.Oracle.semDedupOracleRows).
  */
private[graft] final class MinUnionFind {
  private val parent = scala.collection.mutable.HashMap.empty[Long, Long]

  def find(x: Long): Long = {
    var r = parent.getOrElseUpdate(x, x)
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  def union(x: Long, y: Long): Unit = {
    val (rx, ry) = (find(x), find(y))
    if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
  }

  /** (vertex, root) for every vertex seen so far. */
  def roots: Iterator[(Long, Long)] = parent.keys.toSeq.iterator.map(v => (v, find(v)))
}
