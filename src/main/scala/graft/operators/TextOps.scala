package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the `documents`
  * table: token counting, quality scoring, language-ID, exact dedup, n-gram
  * Jaccard similarity. All codegen'd `functions._` — no UDFs in the hot path.
  */
object TextOps {

  /** Whitespace token count per document (tokensOf: null text counts 0,
    * the contract every tokenizing op in this file shares).
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.docs(spark, dir)
      .select(col("doc_id"), size(tokensOf(col("text"))).as("n_tokens"))
      .orderBy("doc_id")

  /** GPT-2-style pretokenizer classes, lookahead-free so Java regex (Spark)
    * and RE2 (DuckDB) segment identically: optional leading space + a
    * maximal run of letters / digits / other-non-space. The whitespace set
    * in the "other" class is spelled out explicitly because the engines'
    * `\s` disagree on vertical tab (Java includes \x0B, RE2 does not) —
    * both interpret the literal class below identically.
    */
  final val BpeWordPat = " ?[A-Za-z]+"
  final val BpeDigitPat = " ?[0-9]+"
  final val BpeOtherPat = " ?[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]+"
  final val BpePat = s"$BpeWordPat|$BpeDigitPat|$BpeOtherPat"

  /** txt6: token counting under a BPE-ish regex pretokenizer (the GPT-2
    * `\\p{L}+`/`\\p{N}+`/other split, ASCII classes, no lookahead) next to
    * the whitespace count — the two tokenizer views a data pipeline
    * budget-checks against each other. Pure map, zero data shuffles.
    * By construction `n_bpe_tokens = n_word_runs + n_digit_runs +
    * n_other_runs`; emitting both sides lets the oracle verify the two
    * engines' regex segmentation agrees, not just a single total.
    */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    def cnt(p: String) = size(regexp_extract_all(t, lit(p), lit(0)))
    // range-spread (Par scaladoc): five full regex passes per row — the
    // priciest pure-map projection in the txt family — now run once and in
    // parallel instead of twice on the single scan task
    Par.rangeSpread(Tables.docs(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        size(tokensOf(col("text"))).as("n_ws_tokens"),
        cnt(BpePat).as("n_bpe_tokens"),
        cnt(BpeWordPat).as("n_word_runs"),
        cnt(BpeDigitPat).as("n_digit_runs"),
        cnt(BpeOtherPat).as("n_other_runs"))
      .sortWithinPartitions("doc_id")
  }

  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

  /** Quality metrics: char/token counts, punctuation count, stopword ratio.
    * Ratios rounded to 4dp for stable cross-engine comparison.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    // tokensOf + coalesce: null text behaves as empty text in every column
    // (the file-wide contract; the former inline split diverged to NULL)
    val t = coalesce(col("text"), lit(""))
    val toks = tokensOf(col("text"))
    val nTokens = size(toks)
    val nStop = size(filter(toks, x => array_contains(lit(Stopwords.toArray), lower(x))))
    // range-spread + sortWithinPartitions == orderBy row-for-row (Par
    // scaladoc): the tokenize/regexp projection runs once, in parallel,
    // and the exchange moves raw text instead of being re-sampled over it
    Par.rangeSpread(Tables.docs(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
      .select(
        col("doc_id"),
        length(t).as("n_chars"),
        nTokens.as("n_tokens"),
        length(regexp_replace(t, "[^.,;:!?]", "")).as("n_punct"),
        when(nTokens === 0, lit(0.0))
          .otherwise(round(nStop.cast("double") / nTokens.cast("double"), 4)).as("stop_ratio"))
      .sortWithinPartitions("doc_id")
  }

  /** Marker-word counts per language. Occurrences of ` marker ` in the padded
    * text, computed with exact integer arithmetic (length difference / marker
    * length) so both engines agree bit-for-bit.
    */
  private def markerScore(markers: Seq[String]) = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    markers.map { m =>
      val needle = s" $m "
      // literal replace (codegen'd UTF8String scan), not regexp_replace: the
      // needles are literals and the regex engine cost ~3x'd this query
      (length(padded) - length(replace(padded, lit(needle), lit("")))) / needle.length
    }.reduce(_ + _)
  }

  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "und", "die", "das"),
    "fr" -> Seq("le", "et", "les", "des"),
    "es" -> Seq("el", "y", "los", "las"))

  /** Verdict vocabulary, indexed by [[predLangIdx]]. */
  private[operators] val LangNames: Seq[String] = Seq("zh", "en", "de", "fr", "es")

  /** `df` plus the columns [[predLangIdx]] decides over: the CJK-char count
    * and each language's marker score, all over `text`.
    *
    * They are projected once, ahead of the decision, because the decision
    * tree references each score up to four times: inlined into one
    * expression, whole-stage codegen expanded every reference into one
    * generated method of ~19 KB, past HotSpot's 8000-byte
    * `DontCompileHugeMethods` limit, so txt3 and pipe1 ran it interpreted.
    * Spark keeps the two projections apart (it does not collapse a
    * projection whose costly outputs the next one reads more than once).
    */
  private[operators] def withLangScores(df: DataFrame): DataFrame =
    df.select(col("*") +:
      length(regexp_replace(col("text"), "[^\\u4e00-\\u9fff]", "")).as("_cjk") +:
      LangMarkers.map { case (l, ms) => markerScore(ms).as(s"_score_$l") }: _*)

  /** The language-ID decision tree as a composable INT Column over the
    * columns of [[withLangScores]]:
    * CJK chars force zh (0); otherwise the highest marker-word vote wins,
    * ties broken in (en, de, fr, es) order. The single decision tree both
    * txt3 and pipe1 build on, so the two can never drift apart. Int (not
    * string) on purpose: pipe1 carries `min(pred)` through its exact-dedup
    * aggregate, and min over an int rides HashAggregate while min over a
    * string falls back to SortAggregate with a per-partition map-side sort.
    */
  private[operators] def predLangIdx: Column = {
    val score = (l: String) => col(s"_score_$l")
    when(col("_cjk") > 0, 0)
      .when(score("en") >= score("de") && score("en") >= score("fr") && score("en") >= score("es"), 1)
      .when(score("de") >= score("fr") && score("de") >= score("es"), 2)
      .when(score("fr") >= score("es"), 3)
      .otherwise(4)
  }

  /** The verdict as its language name. */
  private[operators] def predLang: Column =
    element_at(lit(LangNames.toArray), predLangIdx + 1)

  /** N-gram-heuristic language ID (txt3). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val pred = predLang
    // range-spread (Par scaladoc): the 17 marker-word scans over the full
    // text ran twice before — once in the orderBy's range sampler, once for
    // real — and both on the single scan task
    withLangScores(Par.rangeSpread(
        Tables.docs(spark, dir).select(col("doc_id"), col("lang"), col("text")), col("doc_id")))
      .select(col("doc_id"), col("lang"), pred.as("pred_lang"),
        (pred === col("lang")).cast("int").as("matched"))
      .sortWithinPartitions("doc_id")
  }

  final val FpK = 8   // k-gram length
  final val FpW = 16  // winnowing window

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03): hash all
    * k-grams, keep the minimum hash of every w-window, dedupe. Robust to
    * local edits — shifted copies share most fingerprints. Columnar
    * higher-order functions only (codegen'd). Output: one (doc_id, fp) row
    * per distinct fingerprint.
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    val len = length(col("text"))
    // the whole hash+window+distinct kernel is ONE native codegen expression
    // (Native.winnow): the former transform/array_min/slice HOF pipeline
    // ran interpreted per position — O(len·(FpK+FpW)) tree-walks per doc,
    // the most CPU-dense columnar stage in the suite — and the sliding
    // minimum is now the O(len) monotonic-deque form. Output SET per doc is
    // value-identical (NativeTextHashSpec; the per-(doc_id, fp) sort fixes
    // presentation order either way). Range-spread on doc_id (Par scaladoc):
    // every row a doc explodes into stays in that doc's partition, and
    // partitions hold ascending doc_id ranges, so sorting each partition on
    // (doc_id, fp) IS the total order. The range sampler scans only the
    // narrow rows — a final orderBy's sampler ran the winnow kernel twice.
    val fps = graft.expr.Native.winnow(col("text"), FpK, FpW, DedupOps.HashB1, DedupOps.HashM1)
    Par.rangeSpread(Tables.docs(spark, dir).where(len >= FpK + FpW).select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), explode(fps).as("fp"))
      .sortWithinPartitions("doc_id", "fp")
  }

  /** Whitespace token array of a text column; null and blank text both yield
    * the EMPTY array (the DuckDB mirrors coalesce(text, '') the same way —
    * without the guard Spark's size(null) yields NULL under ANSI mode (the
    * Spark 4 default; -1 pre-ANSI) vs the contract's 0, and downstream
    * arithmetic silently diverges on any future null-text row). The ONE
    * tokenizer every text op in this file shares so they cannot drift apart.
    */
  private[operators] def tokensOf(text: Column): Column = {
    val t = trim(coalesce(text, lit("")))
    when(t === "", array().cast("array<string>")).otherwise(split(t, "\\s+"))
  }

  /** Adjacent-token 2-grams over a MATERIALIZED token-array column (callers
    * must alias tokensOf into a column first — see the re-evaluation pitfalls
    * documented on fingerprints and repetitionStats). The joiner (u0001)
    * cannot occur inside a whitespace token.
    */
  private[operators] def bigramsOf(toks: Column, n: Column): Column =
    when(n < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), n - 1),
        i => concat(element_at(toks, i), lit("\u0001"), element_at(toks, i + 1))))

  /** Gopher-style repetition signals per document (Rae et al. 2021, §A1.1:
    * repetitious documents are low-quality training data): token count,
    * distinct-token ratio, top-token fraction (most frequent token's share),
    * and duplicate-2-gram fraction. The 2-gram ratio is per-row columnar
    * (array HOFs, codegen'd, shuffle-free); the top-token mode runs through
    * an explode + two-level aggregation, with the per-row stats CARRIED as
    * grouping constants instead of re-joined — ONE scan of the corpus, no
    * join, and both agg levels combine map-side so only (doc_id, token,
    * count) partials (plus three numeric constants) shuffle. Ratios rounded
    * to 4dp for stable cross-engine comparison (same rule as qualityScore).
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    // materialize the token array ONCE per row before anything indexes into
    // it: every element_at/array_distinct over the raw `when(split(...))`
    // expression re-evaluates the full split per access (same pitfall as the
    // fingerprints window, see above) — measured 86s -> sub-second on the
    // sf0.01 bench
    // Par.spread of the RAW rows first: the token-array HOF stats below are
    // the CPU-dense stage and ran on the single scan task before
    val mat = Par.spread(Tables.docs(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), tokensOf(col("text")).as("toks"))
    val n = size(col("toks"))
    val g2 = bigramsOf(col("toks"), n)
    mat.select(
        col("doc_id"), col("toks"), n.as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        when(n < 2, lit(0.0))
          .otherwise(lit(1.0) -
            size(array_distinct(g2)).cast("double") / (n - 1).cast("double")).as("dup2"))
      // the stats MUST be a separate select below the explode: a single
      // select(stats..., explode(toks)) analyzes into Project(stats) ABOVE
      // the Generate, re-evaluating the array-HOF stats once per TOKEN row
      // (~n_tokens x blowup; measured 8.9s -> 1.3s at sf0.1). Split this way
      // they sit in the Generate's child and ride through as plain columns.
      // explode_outer: an empty doc keeps one null-token row, so totality
      // survives without a second scan + join (its top_cnt of 1 is dead —
      // the n_tokens==0 guard below zeroes the fraction)
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("dup2"),
        explode_outer(col("toks")).as("tok"))
      .groupBy("doc_id", "n_tokens", "n_distinct", "dup2", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_tokens", "n_distinct", "dup2").agg(max(col("c")).as("top_cnt"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(round(col("n_distinct").cast("double") / col("n_tokens"), 4)).as("distinct_ratio"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(round(coalesce(col("top_cnt"), lit(0L)).cast("double") / col("n_tokens"), 4)).as("top_tok_frac"),
        round(col("dup2"), 4).as("dup_2gram_frac"))
      .orderBy("doc_id")
  }

  /** Gopher-rule composite quality filter (Rae et al. 2021 §A1.1 shape):
    * per-document signals plus a keep/drop decision and the FIRST failing
    * rule's name. Entirely per-row columnar — a pure map over the scan, no
    * shuffle anywhere (the filter stage of a 100 TB pipeline must be
    * embarrassingly parallel; the orderBy here is presentation-only for the
    * oracle compare). Thresholds are calibrated so every data-dependent rule
    * fires on a real slice of this corpus (min-token p10 ~21, distinct-ratio
    * p25 0.36, dup-2gram p90 0.065, stopword p5 0.0). Rule evaluation uses
    * the RAW double ratios (bit-identical IEEE division in both engines);
    * rounding to 4dp is display-only.
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    qualityFilterOf(Tables.docs(spark, dir))

  /** Append the raw quality stats + first-failing-rule verdict to `d` (which
    * must carry `text`), keeping every input column — the composable form
    * qf1 formats and pipe1 builds on WITHOUT a self-join back to the corpus
    * (re-joining derived flags onto the source is a shuffle the 100 TB plan
    * must not pay; appending columns is free).
    */
  def qualityStats(d: DataFrame): DataFrame = {
    val mat = d.withColumn("toks", tokensOf(col("text")))
    val n = size(col("toks"))
    val nD = n.cast("double")
    val meanTokLen = when(n === 0, 0.0)
      .otherwise(length(array_join(col("toks"), "")).cast("double") / nD)
    val stopRatio = when(n === 0, 0.0)
      .otherwise(size(filter(col("toks"),
        x => array_contains(lit(Stopwords.toArray), lower(x)))).cast("double") / nD)
    val distinctRatio = when(n === 0, 0.0)
      .otherwise(size(array_distinct(col("toks"))).cast("double") / nD)
    val g2 = bigramsOf(col("toks"), n)
    val dup2 = when(n < 2, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(g2)).cast("double") / (n - 1).cast("double"))
    mat
      .select(d.columns.map(col) ++ Seq(n.as("n_tokens"), meanTokLen.as("mtl"),
        stopRatio.as("stop_r"), distinctRatio.as("dist_r"), dup2.as("dup2")): _*)
      // first-failing-rule semantics: order matters and is part of the spec.
      // The verdict is an INT index first (0 = keep) so aggregations over it
      // (ds1 groups by text hash carrying min(reject_idx)) stay in
      // HashAggregate — min over a nullable string demotes the whole agg to
      // SortAggregate (the pipe1 keeper_lang lesson); the name column is a
      // display decode of the index.
      .withColumn("reject_idx",
        when(col("n_tokens") < 25, 1)
          .when(col("n_tokens") > 100000, 2)
          .when(col("mtl") < 3.0 || col("mtl") > 10.0, 3)
          .when(col("stop_r") < 0.01, 4)
          .when(col("dist_r") < 0.35, 5)
          .when(col("dup2") > 0.06, 6)
          .otherwise(0))
      .withColumn("reject_reason",
        when(col("reject_idx") === 0, lit(null).cast("string"))
          .otherwise(element_at(lit(RejectReasons.toArray), col("reject_idx"))))
      .withColumn("keep", (col("reject_idx") === 0).cast("int"))
  }

  /** Reject-rule names, indexed by `reject_idx` (1-based; 0 = keep). */
  val RejectReasons: Seq[String] =
    Seq("too_short", "too_long", "word_length", "low_stopword", "low_distinct", "repetitive")

  def qualityFilterOf(d: DataFrame): DataFrame =
    // range-spread keeps qf1's one-exchange-and-it-is-the-sort contract
    // (PlanSpec): the single rangepartitioning exchange now sits BELOW the
    // quality rules, so the HOF stats run once, in parallel, instead of
    // twice (sort sampler + final) on the single scan task
    qualityStats(Par.rangeSpread(d.select(col("doc_id"), col("text")), col("doc_id")))
      .select(col("doc_id"), col("n_tokens"),
        round(col("mtl"), 4).as("mean_tok_len"),
        round(col("stop_r"), 4).as("stop_ratio"),
        round(col("dist_r"), 4).as("distinct_ratio"),
        round(col("dup2"), 4).as("dup_2gram_frac"),
        col("reject_reason"), col("keep"))
      .sortWithinPartitions("doc_id")

  /** pipe1: the full training-data prep flow as ONE Catalyst plan — Gopher
    * quality gate → exact dedup among survivors → keeper stats (predicted
    * language + token count). Everything before the aggregation is columnar
    * map work (tokenize, quality rules, langid, md5), then a single
    * hash-aggregate shuffle carries only (hash, count, mins) tuples — the
    * 100 TB shape: corpus scanned once, one shuffle, no self-joins
    * (PlanSpec asserts the single exchange). keeper_lang / keeper_tokens
    * are functions of the group's (identical) text, so min() is exact, not
    * an arbitrary pick.
    */
  def trainingPrep(spark: SparkSession, dir: String): DataFrame =
    // Par.spread of the RAW rows; the quality gate is applied AFTER the
    // aggregate (as min(keep) — exact: the rules are a function of text
    // alone, so every md5(text) group is keep-homogeneous and dropping
    // groups post-agg keeps n_dups/keeper/stats identical). A pre-agg
    // `.where(keep === 1)` is a deterministic predicate Catalyst pushes
    // below the spread exchange, which re-serializes the full rule
    // evaluation onto the single scan task AND evaluates the stats twice
    // (measured: a 4.1 s single-task Filter stage). Post-agg the filter
    // sits on aggregate outputs and cannot sink.
    withLangScores(qualityStats(Par.spread(Tables.docs(spark, dir).select(col("doc_id"), col("text")))))
      .select(col("doc_id"), col("text"), col("n_tokens"), col("keep"),
        predLangIdx.as("pred_idx"))
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_dups"), min("doc_id").as("keeper"),
        min("pred_idx").as("ki"), min("n_tokens").as("keeper_tokens"),
        min("keep").as("grp_keep"))
      .where(col("grp_keep") === 1)
      .select(col("text_hash"), col("n_dups"), col("keeper"),
        element_at(lit(LangNames.toArray), col("ki") + 1).as("keeper_lang"),
        col("keeper_tokens"))
      .orderBy("text_hash")

  /** Exact deduplication: hash-groupBy on md5(text); keeper = min doc_id.
    * At 100 TB this is the standard one-shuffle exact-dedup: hash partial
    * aggregation combines map-side, so only (hash, count, min) tuples shuffle.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.docs(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_dups"), min("doc_id").as("keeper"))
      .orderBy("text_hash")

  /** Character-trigram Jaccard near-duplicate pairs within the same source.
    * Inverted-index self-join on shingle (the scalable pattern: only docs
    * sharing a shingle ever pair up), distinct shingle sets, pairs with
    * similarity >= 0.5.
    *
    * Scale posture (deliberate): this operator is EXACT and stays quadratic
    * on hot shingles — a document-frequency cap on the inverted index would
    * bound the join but silently drops any pair whose shared shingles are all
    * hot, i.e. it stops being exact; the capped/sub-quadratic regime is
    * DedupOps.minHashPairs (dd3), whose banding is the principled version of
    * that trade. dd2's role in the suite is the small-scale exact oracle that
    * dd3's recall is calibrated against.
    *
    * @param maxDocs bounded probe window (pushed to the scan). dd2's role is
    *   exactness at oracle scale, not corpus-scale wall time (round-2 verdict:
    *   it should not gate the headline); the bench probes the same fixed
    *   window the driver's oracle verifies, keeping the timed work an engine
    *   property on this degenerately self-similar corpus.
    */
  def ngramJaccard(spark: SparkSession, dir: String, maxDocs: Long = Long.MaxValue): DataFrame = {
    val base = Tables.docs(spark, dir).select("doc_id", "source", "text")
    val d = if (maxDocs == Long.MaxValue) base else base.where(col("doc_id") < maxDocs)
    // positions 1..len-2; sequence() must be guarded (a descending bound
    // silently yields a reversed range in Spark)
    val grams = when(length(col("text")) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(col("text")) - 2),
        i => col("text").substr(i, lit(3))))
    val shingles = d
      .select(col("doc_id"), col("source"), explode(grams).as("g"))
      .distinct()
    val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val a = shingles.as("a")
    val b = shingles.as("b")
    val common = a.join(b,
        col("a.g") === col("b.g") && col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"), 4)
          .as("jaccard"))
      .where(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }
}
