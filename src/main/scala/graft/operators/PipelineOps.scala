package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end training-corpus build — every pipeline stage this library
  * implements, composed into ONE Catalyst plan the way a production run
  * chains them (the C4/RefinedWeb/Pile recipe):
  *
  *   quality gate (Gopher rules, qf1) → eval-doc exclusion → exact-dedup
  *   keeper (dd1) → benchmark decontamination (ctn1) → domain mixture
  *   sampling (ds3/ds4) → sequence packing (pack1)
  *
  * pipe1/pipe2/pipe3/ds4 each prove a pairwise composition; pipe4 is the
  * whole recipe, emitting the artifact a trainer actually consumes: the
  * packed layout `(doc_id, source, n_tokens, global_offset, seq_id,
  * offset_in_seq)` of every SURVIVING document. The DuckDB oracle recomputes
  * all six stages in SQL, so the driver hash-check gates the full
  * composition — stage interfaces included, not just each stage alone.
  */
object PipelineOps {

  /** pipe4: see the object doc. Stage order is part of the spec:
    *
    *  - eval docs (`doc_id % EvalMod == 0`) leave BEFORE dedup, so an eval
    *    doc can never be the keeper of a training dup group;
    *  - dedup keeps `min(doc_id)` per exact text among quality survivors
    *    (dd1's convention) via ONE window over the high-cardinality text
    *    hash — no self-join;
    *  - decontamination re-tokenizes the keepers instead of carrying token
    *    arrays through the dedup exchange: recomputing a map-side split is
    *    cheaper at scale than shuffling `array<string>` payloads;
    *    contaminated ids are bounded by actual contamination, which grows
    *    with the corpus, so they leave via an unhinted anti-join the
    *    planner broadcasts while it fits (ctn1's argument);
    *  - mixture rates are computed over the CLEAN corpus (equalize every
    *    surviving domain to the smallest survivor's token budget — ds3's
    *    integer arithmetic, no ds1 domain verdict: doc-level quality has
    *    already run) and applied with ds2's row-local hash bucket;
    *  - packing reuses pack1's two-level distributed prefix sum over the
    *    already-counted survivor frame (no re-tokenize, no single-partition
    *    corpus window).
    *
    * Corpus-scale exchanges: the dedup window, the pack bucket rollup + in-
    * bucket window, and the presentation sort — everything else is map work,
    * broadcasts of frames bounded by #sources, or the contaminated-id
    * anti-join.
    */
  def trainingCorpus(spark: SparkSession, dir: String): DataFrame =
    trainingCorpusOf(Tables.docs(spark, dir))

  /** [[trainingCorpus]] over an explicit `(doc_id, source, text)` frame. */
  def trainingCorpusOf(d: DataFrame): DataFrame = {
    val K = DedupOps.DupGramK
    // 1. quality gate + eval exclusion (map-only; spread the raw rows so the
    // quality HOFs + the dedup window's md5 run on every core — the single
    // scan task carried a 2.9 s serialized stage before. No-op at production
    // split counts, the Par rule.)
    // the eval-mod filter is row-local and CHEAP — let it sink to the scan;
    // the quality gate is NOT applied here: as a pre-window filter Catalyst
    // pushes it (rewritten over text) below the spread exchange, which
    // re-serializes the full rule evaluation on the scan task and computes
    // the stats twice. It moves below, after the dedup window — exact,
    // because the rules are a function of text alone, so every md5(text)
    // window group is keep-homogeneous: filtering whole groups after the
    // keeper window selects the same keepers from the same groups.
    val train = TextOps.qualityStats(
        Par.spread(d.where(col("doc_id") % ContaminationOps.EvalMod =!= 0)
          .select(col("doc_id"), col("source"), col("text"))))
      .select(col("doc_id"), col("source"), col("text"), col("keep"),
        col("n_tokens").cast("long").as("n_tokens"))
    // 2. exact-dedup keeper: one window over md5(text). The keeper frame is
    // localCheckpoint-materialized ONCE (the dd8/vocab1 shared-consumer
    // lesson): three consumers follow (the contamination gram stream, the
    // mixture rollup, the sampling pass), and without the checkpoint each
    // re-runs the quality+dedup subtree — including the window's exchange —
    // from the scan. This is the stage boundary a production run writes to
    // parquet anyway; the checkpoint is the one-plan analog.
    val kw = Window.partitionBy(md5(col("text")))
    // Par.spread AFTER the checkpoint: AQE coalesces the window's exchange
    // by bytes, so at probe scale the materialized keeper frame lands on ONE
    // partition and every downstream consumer (the contamination gram
    // stream above all — 1.6 s serialized before) inherits single-task
    // stages. On the materialized frame getNumPartitions is the real count,
    // so the guard is exact: a production-sized checkpoint keeps its
    // partitioning and no shuffle is added.
    val keepers = Par.spread(train
      .withColumn("grp_keeper", min("doc_id").over(kw))
      .where(col("doc_id") === col("grp_keeper") && col("keep") === 1)
      .drop("grp_keeper", "keep")
      .localCheckpoint())
    // 3. decontamination: eval grams from the RAW corpus (ctn1's eval-set
    // definition), semi-joined against the keepers' gram stream — unhinted:
    // the eval slice grows with the corpus (ctn1's argument)
    val gramsOf = (toks: org.apache.spark.sql.Column) =>
      when(size(toks) >= K, DedupOps.gramHashes(toks))
        .otherwise(array().cast("array<string>"))
    val evalGrams = Par.spread(d
        .where(col("doc_id") % ContaminationOps.EvalMod === 0)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextOps.tokensOf(col("text")).as("toks"))
      .select(explode(gramsOf(col("toks"))).as("h"))
      .distinct()
    val contaminated = keepers
      .select(col("doc_id"), TextOps.tokensOf(col("text")).as("toks"))
      .select(col("doc_id"), gramsOf(col("toks")).as("g"))
      .select(col("doc_id"), explode(col("g")).as("h"))
      .join(evalGrams, Seq("h"), "left_semi")
      .select("doc_id").distinct()
    val clean = keepers
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "source", "n_tokens")
    // 4. mixture: equalize surviving domains to the smallest survivor
    val perSrc = clean.groupBy("source").agg(sum("n_tokens").as("src_tokens"))
    val minTok = perSrc.agg(min("src_tokens").as("min_tokens"))
    // #sources rows, materialized once: the sampled frame below feeds pack1's
    // two-pass prefix sum, and an unmaterialized rates subtree (with its
    // 1-row min aggregate) would be re-evaluated per pass
    val rates = perSrc.crossJoin(broadcast(minTok))
      .select(col("source"),
        least(lit(1000L), expr("min_tokens * 1000 div src_tokens")).as("rate_permille"))
      .localCheckpoint()
    val sampled = clean
      .join(broadcast(rates), Seq("source"))
      .where(DomainOps.splitBucket < col("rate_permille"))
    // 5. pack the final corpus (counts already present — no re-tokenize)
    PackingOps.offsetsOverCounts(
        sampled.select(col("doc_id"), col("n_tokens"), col("source")))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("global_offset"), col("seq_id"), col("offset_in_seq"))
      .orderBy("doc_id")
  }
}
