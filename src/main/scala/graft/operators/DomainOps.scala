package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Domain-level (per-`source`) corpus profiling + filter decisions — the
  * URL/domain-filtering stage of a web-scale training-data pipeline (the C4
  * blocklist / RefinedWeb §3.1 / Gopher §A1.2 family): before any per-document
  * work is worth paying for, whole domains are profiled and boilerplate
  * mirrors or low-quality farms dropped wholesale.
  *
  * Scale shape (the reason this is NOT `groupBy(source)` over raw docs): a
  * domain key is LOW-cardinality — at 10^12 docs a direct
  * `groupBy(source).agg(countDistinct(text_hash))` would funnel every
  * distinct text of a hot domain through one reducer. Instead:
  *   1. pre-aggregate on the HIGH-cardinality compound key `(source,
  *      md5(text))` — spreads evenly, map-side combine collapses exact dups;
  *      every per-doc quality signal rides along as `min(...)` over
  *      identical-text groups (exact, the pipe1 keeper trick), so no second
  *      scan or join back to the corpus;
  *   2. roll up to `source` — the input is already one row per distinct
  *      text, partial aggregation reduces each task's slice to ≤ #sources
  *      rows before the (tiny) second shuffle.
  * Two shuffles, both map-side combined, no skew, corpus scanned once.
  *
  * The keep/drop decision uses INTEGER cross-multiplication
  * (`2*n_kept < n_docs`, `4*dup_docs > n_docs`), never a float threshold, so
  * the verdict is bit-portable across engines. dup_docs counts docs whose
  * exact text occurs ≥2× within the same source (mirror/boilerplate signal);
  * this synthetic corpus has only NEAR dups, so the live rows exercise the
  * quality axis while planted fixtures (OperatorsSpec) gate the dup axis.
  */
object DomainOps {

  /** Permille buckets for [[hashSplit]]. */
  final val SplitBuckets = 1000L
  /** test = buckets [0, TestPermille); val = [TestPermille, ValPermille). */
  final val TestPermille = 10L
  final val ValPermille = 60L

  /** The ds2 permille bucket of a `doc_id` — row-local, reshuffle-stable,
    * engine-portable (the repo's polynomial rolling hash). Shared by ds2's
    * split assignment and ds4's mixture sampling so both read the SAME
    * bucket for a document by construction.
    */
  private[operators] def splitBucket: org.apache.spark.sql.Column = pmod(
    graft.expr.Native.polyHash(col("doc_id").cast("string"), DedupOps.HashB1, DedupOps.HashM1),
    lit(SplitBuckets))

  /** ds2: deterministic train/val/test assignment by portable hash of the
    * doc_id — `(doc_id, source, bucket, split)`. The split survives
    * reshuffles, reruns, engine changes, and corpus growth (a doc's
    * assignment never depends on other rows): the property that matters at
    * 10^12 docs, where a random() split is unreproducible and a sort-based
    * one is a global shuffle. Pure map, zero data shuffles (the qf1 rule);
    * the polynomial rolling hash is the repo's portable-hash convention so
    * DuckDB reproduces every bucket exactly.
    */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    hashSplitOf(Tables.docs(spark, dir))

  /** [[hashSplit]] over an explicit frame carrying `doc_id, source`. */
  def hashSplitOf(d: DataFrame): DataFrame = {
    d.select(col("doc_id"), col("source"), splitBucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < TestPermille, "test")
          .when(col("bucket") < ValPermille, "val")
          .otherwise("train"))
      .orderBy("doc_id")
  }

  /** ds3: domain mixture re-weighting plan — the stage after ds1's verdicts:
    * equalize the token budget across surviving domains (the
    * Pile/DoReMi-family heuristic in its deterministic integer form) by
    * downsampling every kept source to the SMALLEST kept source's token
    * count. `rate_permille = min(1000, min_kept_tokens * 1000 div
    * total_tokens)` — integer arithmetic end to end, so both engines agree
    * exactly; dropped sources rate 0. Applied downstream by ds2's hash
    * buckets (`keep doc iff bucket < rate_permille`), which keeps the
    * sampling row-local and reproducible. Output: `(source, n_docs,
    * total_tokens, keep, rate_permille, est_tokens)`.
    *
    * Scale: everything after ds1's two aggregations operates on one row per
    * source — the global min is an aggregate over that tiny frame,
    * broadcast back (never a corpus-wide pass).
    */
  def mixPlan(spark: SparkSession, dir: String): DataFrame =
    mixPlanOf(Tables.docs(spark, dir))

  /** [[mixPlan]] over an explicit `(doc_id, source, text)` frame. */
  def mixPlanOf(d: DataFrame): DataFrame = {
    val stats = sourceStatsOf(d)
      .select(col("source"), col("n_docs"), col("total_tokens"), col("keep"))
    // global min over the PER-SOURCE frame (one row per domain) via an
    // unpartitioned window: single-partition is fine — and correct — at
    // domain cardinality, and it keeps ds1's two-shuffle plan evaluated
    // ONCE (a separate .agg branch + crossJoin re-ran the whole rollup a
    // second time: measured 7.7 s → 1.3 s at sf0.1)
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    // coalesce BEFORE least: with zero kept sources min_kept is null, and
    // Spark's least() skips nulls (would yield 1000) while the oracle's
    // coalesce yields 0 — fold the empty-kept case to rate 0 in both
    val rate = least(lit(1000L),
      expr("coalesce(min_kept, 0) * 1000 div total_tokens"))
    stats
      .withColumn("min_kept",
        min(when(col("keep") === 1, col("total_tokens"))).over(w))
      .select(col("source"), col("n_docs"), col("total_tokens"), col("keep"),
        when(col("keep") === 0, 0L).otherwise(rate).as("rate_permille"))
      .withColumn("est_tokens", expr("total_tokens * rate_permille div 1000"))
      .orderBy("source")
  }

  /** ds4: APPLY the [[mixPlan]] — the resample stage the ds3 plan exists
    * for (the Pile/DoReMi sampling pass): keep a document iff its ds2 hash
    * bucket falls under its source's `rate_permille`, and report per-source
    * achieved token counts against the plan's `est_tokens`.
    *
    * Plan shape (the whole point): the tiny per-source plan is broadcast
    * into ONE corpus pass — the bucket is row-local (no ds2 join needed),
    * the keep decision is a pure-map predicate, and the rollup is a
    * map-side-combined `groupBy(source)` whose shuffle carries ≤ #sources
    * rows per task. Dropped sources stay visible (achieved 0) because the
    * sampling predicate lives INSIDE the aggregate, not in a filter — which
    * also keeps [[mixPlanOf]] (and ds1's rollup under it) evaluated exactly
    * once instead of once per branch of a filter-then-join-back shape.
    * `dev_tokens = achieved - est` is a plain subtraction (no integer
    * division, whose rounding direction differs between engines for
    * negative operands).
    */
  def applyMix(spark: SparkSession, dir: String): DataFrame =
    applyMixOf(Tables.docs(spark, dir))

  /** [[applyMix]] over an explicit `(doc_id, source, text)` frame. */
  def applyMixOf(d: DataFrame): DataFrame = {
    val plan = mixPlanOf(d)
      .select(col("source"), col("rate_permille"), col("est_tokens"))
    val kept = col("bucket") < col("rate_permille")
    // the second corpus pass is unspread (measured: a wash at sf0.1 — the
    // token count + row-local bucket hash is the ds5 class of cheap map,
    // and the spread exchange costs what it parallelizes)
    d.select(col("doc_id"), col("source"),
        size(TextOps.tokensOf(col("text"))).cast("long").as("n_tokens"),
        splitBucket.as("bucket"))
      .join(broadcast(plan), Seq("source"))
      .groupBy("source", "rate_permille", "est_tokens")
      .agg(
        count(lit(1)).as("n_docs_in"),
        sum(when(kept, 1L).otherwise(0L)).as("n_docs_kept"),
        sum(when(kept, col("n_tokens")).otherwise(0L)).as("achieved_tokens"))
      .withColumn("dev_tokens", col("achieved_tokens") - col("est_tokens"))
      .orderBy("source")
  }

  /** ds5: per-source exact token-length distribution summary —
    * `(source, n_docs, min_tokens, p50, p90, p99, max_tokens)`, with pN the
    * ceiling-rank discrete percentile (the smallest length whose cumulative
    * doc count reaches N% of the source's docs — integer cross-multiplied,
    * `cum * 100 >= n * p`, so both engines agree bit-for-bit; no
    * interpolation, whose float semantics differ between Spark's
    * `percentile` and DuckDB's `quantile_cont`).
    *
    * Scale shape (why this is neither a per-source sort nor
    * `percentile_approx`): token lengths are BOUNDED-cardinality (≤ the max
    * document length in tokens, ~10^5 distinct values) — so aggregate to the
    * `(source, n_tokens) → count` histogram first (high-cardinality compound
    * key, map-side combined, skew-free: the ds1 argument), then run the
    * cumulative window over the TINY per-source histogram. Exact percentiles
    * at 10^12 docs for one corpus shuffle plus a window over
    * #sources × #distinct-lengths rows.
    */
  def lengthPercentiles(spark: SparkSession, dir: String): DataFrame =
    lengthPercentilesOf(Tables.docs(spark, dir))

  /** [[lengthPercentiles]] over an explicit `(source, text)` frame. */
  def lengthPercentilesOf(d: DataFrame): DataFrame = {
    // NOT Par.spread: measured both ways at sf0.1, the spread exchange costs
    // more than the map it parallelizes — ds5's per-row work is ONLY the
    // token count (no quality rules, no hashing), the cheapest map in the
    // ds family (0.48 s unspread vs 0.64-0.78 s spread)
    val hist = d.select(col("source"),
        size(TextOps.tokensOf(col("text"))).cast("long").as("n_tokens"))
      .groupBy("source", "n_tokens").agg(count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("n_tokens")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val cum = hist
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wAll))
    def pct(p: Int) =
      min(when(col("cum") * 100 >= col("n") * p, col("n_tokens"))).as(s"p$p")
    cum.groupBy("source")
      .agg(max("n").as("n_docs"), min("n_tokens").as("min_tokens"),
        pct(50), pct(90), pct(99), max("n_tokens").as("max_tokens"))
      .orderBy("source")
  }

  /** ds1: per-source profile — doc/distinct-text/dup counts, token totals,
    * Gopher-rule pass rate, reject-reason histogram, and the domain
    * keep/drop verdict (`boilerplate` checked before `low_quality`).
    */
  def sourceStats(spark: SparkSession, dir: String): DataFrame =
    sourceStatsOf(Tables.docs(spark, dir))

  /** [[sourceStats]] over an explicit `(doc_id, source, text)` frame. */
  def sourceStatsOf(d: DataFrame): DataFrame = {
    // Par.spread of the raw rows: the quality-rule HOFs + md5 ran on the
    // single scan task before (no-op at production split counts)
    val st = TextOps.qualityStats(
      Par.spread(d.select(col("doc_id"), col("source"), col("text"))))
    val perText = st
      .groupBy(col("source"), md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c"),
        min("n_tokens").as("t"),
        min("keep").as("k"),
        min("reject_idx").as("r"))
    val hist = TextOps.RejectReasons.zipWithIndex.map { case (name, i) =>
      sum(when(col("r") === (i + 1), col("c")).otherwise(0L)).as(s"n_$name")
    }
    val aggs = Seq(
      count(lit(1)).as("n_texts"),
      sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_docs"),
      sum(col("c") * col("t")).as("total_tokens"),
      sum(col("c") * col("k")).as("n_kept")) ++ hist
    val perSource = perText
      .groupBy("source")
      .agg(sum("c").as("n_docs"), aggs: _*)
    perSource
      .select(
        Seq(col("source"), col("n_docs"), col("n_texts"), col("dup_docs"),
          col("total_tokens"), col("n_kept"),
          round(col("n_kept").cast("double") / col("n_docs"), 4).as("kept_frac"),
          round(col("dup_docs").cast("double") / col("n_docs"), 4).as("dup_frac")) ++
          TextOps.RejectReasons.map(n => col(s"n_$n")) ++ Seq(
          when(col("dup_docs") * 4 > col("n_docs"), "boilerplate")
            .when(col("n_kept") * 2 < col("n_docs"), "low_quality")
            .otherwise(null).as("drop_reason"),
          (col("dup_docs") * 4 <= col("n_docs") && col("n_kept") * 2 >= col("n_docs"))
            .cast("int").as("keep")): _*)
      .orderBy("source")
  }
}
