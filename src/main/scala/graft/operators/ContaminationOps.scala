package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the training-data pipeline stage that removes
  * (or flags) training documents overlapping an evaluation set, so measured
  * model quality is not leakage (the GPT-3 appendix-C / Lee et al. 2022 §6.2
  * n-gram collision procedure: a training doc is contaminated if it shares
  * any K-gram with an eval document).
  *
  * The eval set here is carved deterministically from the corpus itself
  * (`doc_id % EvalMod == 0` — no external data, per the build rules); swap
  * `evalSide` for a real benchmark table in production.
  *
  * Scale shape: eval suites are TINY next to a training corpus (10^5-10^6
  * grams vs 10^12 docs), so the eval gram set is built once (distinct over
  * the small side) and hash-joined against the exploded training grams.
  * The join carries no `broadcast` hint: the eval side is the
  * `doc_id % EvalMod` slice of the corpus, so it grows with the corpus. The
  * planner broadcasts it while its estimate fits `autoBroadcastJoinThreshold`
  * (PlanSpec pins, at sf0.001, that the corpus side never shuffles for the
  * join) and shuffles past it ([[decontaminateBloom]] is the plan for that
  * regime). The only corpus-keyed exchange otherwise is
  * the per-doc rollup aggregation. K reuses
  * [[DedupOps.DupGramK]] (md5'd 8-token grams, the dd6/dd8 convention).
  */
object ContaminationOps {

  /** Eval-set selector: every EvalMod-th doc_id. */
  final val EvalMod = 97L

  /** ctn1: per TRAINING doc (eval docs excluded from the output), the K-gram
    * collision profile against the eval set —
    * `(doc_id, n_tokens, n_grams, n_contaminated, contamination_frac,
    * contaminated)`. `n_contaminated` counts gram POSITIONS (occurrences,
    * not distinct grams); docs too short to carry a K-gram pass through with
    * zero grams and a clean verdict.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateOf(Tables.docs(spark, dir))

  /** [[decontaminate]] over an explicit `(doc_id, text)` frame. */
  def decontaminateOf(d: DataFrame): DataFrame = {
    val K = DedupOps.DupGramK
    // TOTAL over the training corpus — empty/null-text docs tokenize to []
    // (TextOps.tokensOf null contract) and pass through with a clean
    // verdict, so an inner-join consumer of the flag table never loses a
    // doc; Par.spread because the gram md5s are CPU-dense (dd8's argument)
    val mat = Par.spread(d.select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextOps.tokensOf(col("text")).as("toks"))
    val grams = when(size(col("toks")) >= K, DedupOps.gramHashes(col("toks")))
      .otherwise(array().cast("array<string>"))
    val evalGrams = mat
      .where(col("doc_id") % EvalMod === 0)
      .select(explode(grams).as("h"))
      .distinct()
      .withColumn("hit", lit(1))
    val train = mat
      .where(col("doc_id") % EvalMod =!= 0)
      // two selects: materialize the gram array BEFORE the Generate so the
      // non-generator columns are not hoisted above it and re-evaluated per
      // exploded row (the txt5 Generate-hoist pitfall); explode_outer keeps
      // one null-gram row for short docs so totality needs no second scan
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"), grams.as("g"))
      .select(col("doc_id"), col("n_tokens"), size(col("g")).cast("long").as("n_grams"),
        explode_outer(col("g")).as("h"))
    train
      .join(evalGrams, Seq("h"), "left")
      .groupBy("doc_id", "n_tokens", "n_grams")
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_contaminated"))
      .select(col("doc_id"), col("n_tokens"), col("n_grams"), col("n_contaminated"),
        when(col("n_grams") === 0, 0.0)
          .otherwise(round(col("n_contaminated").cast("double") / col("n_grams"), 4))
          .as("contamination_frac"),
        (col("n_contaminated") > 0).cast("int").as("contaminated"))
      .orderBy("doc_id")
  }

  /** ctn3: [[decontaminate]]'s answer by the BIG-eval-suite plan shape — the
    * path a pipeline takes when the eval gram set has outgrown a broadcast
    * hash join (a full eval harness is 10^7-10^9 grams; Spark caps broadcasts
    * at 8 GB and autoBroadcastJoinThreshold far lower). Three-stage exact
    * filter, the same posture as Spark's runtime row-level bloom pruning:
    *
    *  1. build a [[graft.expr.LongBloom]] over the distinct eval grams in one
    *     distributed pass ([[graft.expr.BloomAgg]] — partials OR-merge, the
    *     driver holds one bounded bit array);
    *  2. prefilter the exploded training gram POSITIONS map-side with the
    *     native [[graft.expr.Native.mightContain]] Column (whole-stage
    *     codegen, no UDF boxing) — at real contamination rates this kills
    *     ~everything, so the corpus-scale position stream never reaches a
    *     shuffle;
    *  3. EXACT verify: left-semi join the surviving positions against the
    *     eval gram set, pinned to a SHUFFLED hash join (`hint("shuffle_hash")`
    *     — at probe scale Spark would auto-broadcast the tiny eval side,
    *     which is precisely the plan this operator exists to avoid; both join
    *     inputs are bounded — survivors by true hits + the ~0.05% fp sliver,
    *     the build side by the eval suite).
    *
    * Per-doc totals ride a separate map-side pass (doc_id, n_tokens, n_grams
    * — no shuffle), and the tiny verified-hits rollup broadcasts back onto
    * it, so the corpus itself never shuffles at all. Output is COLUMN- and
    * VALUE-identical to [[decontaminate]] (asserted in OperatorsSpec); only
    * the join strategy differs — which is the point: the bloom's false
    * positives cost shuffle bytes, never correctness.
    */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame =
    decontaminateBloomOf(Tables.docs(spark, dir))(spark)

  /** [[decontaminateBloom]] over an explicit `(doc_id, text)` frame. */
  def decontaminateBloomOf(d: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val K = DedupOps.DupGramK
    val mat = Par.spread(d.select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextOps.tokensOf(col("text")).as("toks"))
    val grams = when(size(col("toks")) >= K, DedupOps.gramHashes(col("toks")))
      .otherwise(array().cast("array<string>"))
    // eval gram set: one corpus pass, materialized ONCE (localCheckpoint —
    // the dd7 lesson) because three consumers need it: the sizing count, the
    // bloom build, and the exact-verify join
    val evalGrams = mat
      .where(col("doc_id") % EvalMod === 0)
      .select(explode(grams).as("h"))
      .distinct()
      .localCheckpoint()
    val nEval = evalGrams.count()
    val bits = evalGrams.as[String]
      .select(graft.expr.BloomAgg(graft.expr.LongBloom.wordsFor(nEval)).toColumn)
      .head()
    val bloom = new graft.expr.LongBloom(bits, graft.expr.LongBloom.K)
    val mightContain = graft.expr.Native.mightContain(bloom, col("h"))
    val isTrain = col("doc_id") % EvalMod =!= 0
    // map-side-only totals pass: every training doc, no shuffle
    val totals = mat.where(isTrain)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        grams.as("g"))
      .select(col("doc_id"), col("n_tokens"), size(col("g")).cast("long").as("n_grams"))
    // position stream → bloom prefilter → exact shuffled verify → tiny rollup
    val hits = mat.where(isTrain)
      .select(col("doc_id"), grams.as("g"))
      .select(col("doc_id"), explode(col("g")).as("h"))
      .where(mightContain)
      .join(evalGrams.hint("shuffle_hash"), Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    totals
      .join(broadcast(hits), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_contaminated"),
        when(col("n_grams") === 0, 0.0)
          .otherwise(round(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_grams"), 4))
          .as("contamination_frac"),
        (coalesce(col("n_hits"), lit(0L)) > 0).cast("int").as("contaminated"))
      .orderBy("doc_id")
  }

  /** ctn2: the eval-side mirror of [[decontaminate]] — per EVAL document,
    * how compromised it is by the training corpus: `(doc_id, n_grams,
    * n_distinct_grams, n_hit_grams, n_train_docs, hit_frac, compromised)`.
    * `n_grams` counts gram positions (the ctn1 convention); hits count
    * DISTINCT grams (a benchmark item is compromised once per unique gram,
    * however often that gram repeats inside it); `n_train_docs` counts
    * distinct training docs sharing ≥1 gram — the "how many training docs
    * must be dropped to clean this eval item" measure of Lee et al. 2022
    * §6.2. Short/empty eval docs pass through with zero grams, clean.
    *
    * Scale shape: the pair frame is (training gram positions ∩ eval grams) —
    * bounded by actual contamination, not corpus size; built by joining the
    * distinct eval-gram set and the gram→eval-doc map into the training gram
    * stream without a hint (ctn1's argument: they grow with the corpus, and
    * the planner broadcasts them while they fit), then both distinct rollups
    * are two-level groupBys keyed by the compound pair first — never a countDistinct Expand over corpus-
    * scale data. The per-eval-doc totals and hit rollups meet in one
    * union-aggregate, not a join.
    */
  def evalContamination(spark: SparkSession, dir: String): DataFrame =
    evalContaminationOf(Tables.docs(spark, dir))

  /** [[evalContamination]] over an explicit `(doc_id, text)` frame. */
  def evalContaminationOf(d: DataFrame): DataFrame = {
    val K = DedupOps.DupGramK
    val mat = Par.spread(d.select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextOps.tokensOf(col("text")).as("toks"))
    val grams = when(size(col("toks")) >= K, DedupOps.gramHashes(col("toks")))
      .otherwise(array().cast("array<string>"))
    val withG = mat.select(col("doc_id"), grams.as("g"))
    val isEval = col("doc_id") % EvalMod === 0
    val evalTotals = withG.where(isEval)
      .select(col("doc_id"), size(col("g")).cast("long").as("n_grams"),
        size(array_distinct(col("g"))).cast("long").as("n_distinct_grams"))
    val evalGramDoc = withG.where(isEval)
      .select(col("doc_id").as("eval_doc"), col("g"))
      .select(col("eval_doc"), explode(col("g")).as("h"))
      .distinct()
    val evalGrams = evalGramDoc.select("h").distinct()
    val trainPairs = withG.where(!isEval)
      .select(col("doc_id").as("train_doc"), col("g"))
      .select(col("train_doc"), explode(col("g")).as("h"))
      .join(evalGrams, Seq("h"))
      .distinct()
    val pairs = trainPairs.join(evalGramDoc, Seq("h"))
    // per eval doc: its totals row plus one row per distinct hit gram and
    // per distinct training doc, summed — a union where a join would need a
    // forced broadcast (every frame here grows with the eval slice)
    val (zero, one) = (lit(0L), lit(1L))
    val sum0 = (c: String) => coalesce(sum(c), zero).as(c)
    evalTotals.select(col("doc_id"), col("n_grams"), col("n_distinct_grams"),
        zero.as("n_hit_grams"), zero.as("n_train_docs"))
      .union(pairs.select("eval_doc", "h").distinct().select(col("eval_doc"), zero, zero, one, zero))
      .union(pairs.select("eval_doc", "train_doc").distinct()
        .select(col("eval_doc"), zero, zero, zero, one))
      .groupBy("doc_id")
      .agg(sum0("n_grams"), sum0("n_distinct_grams"), sum0("n_hit_grams"), sum0("n_train_docs"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct_grams"), col("n_hit_grams"),
        col("n_train_docs"),
        when(col("n_distinct_grams") === 0, 0.0)
          .otherwise(round(col("n_hit_grams").cast("double") / col("n_distinct_grams"), 4))
          .as("hit_frac"),
        (col("n_hit_grams") > 0).cast("int").as("compromised"))
      .orderBy("doc_id")
  }
}
