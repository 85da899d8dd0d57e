package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level unigram statistics — the vocabulary profile and LM-quality
  * stages of a web-scale training-data pipeline (the CCNet / RefinedWeb
  * "perplexity filter" family: score every document under a unigram language
  * model fit on the corpus itself, and characterize each domain by its most
  * over-represented terms).
  *
  * Both operators ride the SAME scale shape: ONE explode + map-side-combined
  * groupBy on a HIGH-cardinality key collapses the corpus to a vocabulary- or
  * doc-bounded frame, and every later step runs over that tiny frame
  * (localCheckpoint'ed once — the dd7 lesson — so its multiple consumers
  * never re-scan the corpus).
  */
object VocabOps {

  /** Top-K terms reported per source by [[topTerms]]. */
  final val TopK = 5

  /** vocab1: per-source characteristic-term profile — the top-[[TopK]] terms
    * of each source by term frequency, with the "lift" of the term in that
    * source over the corpus: `(source, rank, term, tf, src_total, corpus_tf,
    * lift)` where `lift = (tf/src_total) / (corpus_tf/corpus_total)` (the
    * pointwise ratio a TF-IDF-style domain card reports when every domain
    * shares the vocabulary, as web domains do — document frequency is
    * saturated, relative rate is not). Rank ties break by term ascending so
    * the report is deterministic.
    *
    * Scale shape: one corpus explode → groupBy on the HIGH-cardinality
    * `(source, term)` compound key (map-side combined, skew-free — the ds1
    * argument), localCheckpoint'ed ONCE (#sources × vocab rows); the three
    * rollups it feeds (per-source totals, per-term corpus counts, the corpus
    * total) and the top-K window are all over that tiny frame, joined back by
    * broadcast. The corpus is scanned exactly once, at checkpoint time.
    */
  def topTerms(spark: SparkSession, dir: String): DataFrame =
    topTermsOf(Tables.docs(spark, dir))

  /** [[topTerms]] over an explicit `(source, text)` frame. */
  def topTermsOf(d: DataFrame, k: Int = TopK): DataFrame = {
    // spread raw rows, tokenize after the exchange (Par scaladoc)
    val tf = Par.spread(d.select(col("source"), col("text")))
      .select(col("source"), TextOps.tokensOf(col("text")).as("toks"))
      .select(col("source"), explode(col("toks")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val srcTot = tf.groupBy("source").agg(sum("tf").as("src_total"))
    val termTot = tf.groupBy("term").agg(sum("tf").as("corpus_tf"))
    val corpusTot = srcTot.agg(sum("src_total").as("corpus_total"))
    val w = Window.partitionBy("source").orderBy(col("tf").desc, col("term"))
    tf.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .join(broadcast(srcTot), Seq("source"))
      .join(broadcast(termTot), Seq("term"))
      .crossJoin(broadcast(corpusTot))
      .select(col("source"), col("rank"), col("term"), col("tf"),
        col("src_total"), col("corpus_tf"),
        round((col("tf").cast("double") / col("src_total").cast("double"))
          / (col("corpus_tf").cast("double") / col("corpus_total").cast("double")), 4)
          .as("lift"))
      .orderBy("source", "rank")
  }

  /** lm1: every document scored under an add-one-smoothed unigram LM fit on
    * the corpus itself — `(doc_id, n_tokens, nll, ppl)` with
    * `nll = -(1/n) Σ ln((c(t)+1)/(T+V))` and `ppl = exp(nll)` (both rounded
    * to 4dp AFTER the full-precision computation). The CCNet §4.3 /
    * RefinedWeb quality stage in its deterministic unigram form: high
    * perplexity under the corpus's own statistics marks gibberish and
    * boilerplate outliers. Empty/null docs score `(0, 0.0, 1.0)`.
    *
    * Scale shape — a deliberate TWO-pass LM (fit, then score), each pass one
    * corpus scan: pass 1 explodes to the vocabulary (high-cardinality term
    * key, map-side combined) and localCheckpoints the tiny `(term, c)` frame;
    * the model (per-term log-prob with the T+V normalizer crossed in from a
    * 1-row aggregate) broadcasts into pass 2's explode, whose
    * `groupBy(doc_id)` collapses map-side to ≤1 row per doc BEFORE its
    * shuffle (explode preserves row locality). Totality over empty docs is a
    * UNION of the zero-token branch, never a corpus-scale doc_id join.
    * At 10^12 docs the broadcast model is capped in practice by a top-M
    * vocabulary + UNK bucket (the standard closed-vocab LM move); this corpus
    * fits whole.
    */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame =
    unigramLogprobOf(Tables.docs(spark, dir))

  /** [[unigramLogprob]] over an explicit `(doc_id, text)` frame. */
  def unigramLogprobOf(d: DataFrame): DataFrame = {
    // NOT Par.spread: measured both ways at sf0.1 — the fit and score
    // passes are separate jobs that cannot share a spread exchange, so the
    // spread paid TWO text shuffles for a map (tokenize + explode) that the
    // per-doc partial aggregation already keeps cheap (1.10 s unspread vs
    // 1.49 s spread)
    val toks = d.select(col("doc_id"), TextOps.tokensOf(col("text")).as("toks"))
    val terms = toks.select(col("doc_id"), explode(col("toks")).as("term"))
    val vocab = terms.groupBy("term").agg(count(lit(1)).as("c")).localCheckpoint()
    val stats = vocab.agg(sum("c").as("t_total"), count(lit(1)).as("v_size"))
    val model = vocab.crossJoin(broadcast(stats))
      .select(col("term"),
        log((col("c") + 1).cast("double")
          / (col("t_total") + col("v_size")).cast("double")).as("lp"))
    val scored = terms.join(broadcast(model), Seq("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("lp").as("sum_lp"))
      .select(col("doc_id"), col("n_tokens"),
        round(-col("sum_lp") / col("n_tokens"), 4).as("nll"),
        round(exp(-col("sum_lp") / col("n_tokens")), 4).as("ppl"))
    // size(toks) == 0 iff the trimmed text is empty (tokensOf contract:
    // split of a NON-empty trimmed string always yields >= 1 token) — the
    // cheap row-local form sinks to the scan, where the former size(toks)
    // predicate pushed a full single-task tokenize pass below the exchange
    val empty = d.where(trim(coalesce(col("text"), lit(""))) === "")
      .select(col("doc_id"), lit(0L).as("n_tokens"),
        lit(0.0).as("nll"), lit(1.0).as("ppl"))
    scored.union(empty).orderBy("doc_id")
  }
}
