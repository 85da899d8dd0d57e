package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.pipeline.Oracle
import graft.sources.Annotations

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry is one implemented operator (SURVEY.md §2 /
  * training-data pipeline ops). Entries with a matching `oracleSql` key are
  * value-checked against DuckDB on the same parquet tables; the rest
  * (extraction, hash-based dedup, LSH ANN, multimodal) are non-SQL-expressible
  * and are instead gated by the ScalaTest oracle suites (`sbt -batch test`).
  */
object SparkEntry {

  /** DuckDB mirror of TextOps.kgramHash: unrolled Horner fold of FpK
    * codepoints mod HashM1, at 1-based position `iExpr` into `text`.
    */
  private def duckKgramHash(iExpr: String): String =
    (0 until TextOps.FpK).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
      s"(($acc * ${DedupOps.HashB1} + ascii(substr(text, CAST($iExpr + $j AS INT), 1))) % ${DedupOps.HashM1})"
    }

  /** DuckDB mirror of DedupOps.polyHash over a token column. */
  private def duckPolyHash(b: Long, m: Long): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, length(tok) + 1),
       |        i -> CAST(ascii(substr(tok, CAST(i AS INT), 1)) AS BIGINT))),
       |      (a, c) -> (a * $b + c) % $m)""".stripMargin

  /** ds1's CTE chain (quality rules → reject index → (source, md5) pre-agg →
    * per-source rollup), shared by the ds1 and ds3 oracle queries.
    */
  private def duckDs1Ctes: String =
    """d AS (
      |  SELECT doc_id, source, text,
      |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(coalesce(text, '')), '\s+') END AS toks
      |  FROM documents),
      |s AS (
      |  SELECT source, text, len(toks) AS n,
      |    CASE WHEN len(toks) = 0 THEN 0.0
      |         ELSE CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks) END AS mtl,
      |    CASE WHEN len(toks) = 0 THEN 0.0
      |         ELSE CAST(len(list_filter(toks,
      |                x -> list_contains(['the','a','and','of','to','in','is','on','for','with'], lower(x)))) AS DOUBLE)
      |              / len(toks) END AS stop_r,
      |    CASE WHEN len(toks) = 0 THEN 0.0
      |         ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS dist_r,
      |    CASE WHEN len(toks) < 2 THEN 0.0
      |         ELSE 1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
      |                  i -> toks[i] || chr(1) || toks[i+1]))) AS DOUBLE)
      |              / CAST(len(toks) - 1 AS DOUBLE) END AS dup2
      |  FROM d),
      |r AS (
      |  SELECT source, md5(text) AS h, n,
      |    CASE WHEN n < 25 THEN 1 WHEN n > 100000 THEN 2
      |         WHEN mtl < 3.0 OR mtl > 10.0 THEN 3
      |         WHEN stop_r < 0.01 THEN 4
      |         WHEN dist_r < 0.35 THEN 5
      |         WHEN dup2 > 0.06 THEN 6 ELSE 0 END AS ri
      |  FROM s),
      |g1 AS (
      |  SELECT source, h, count(*) AS c, min(n) AS t,
      |    min(CASE WHEN ri = 0 THEN 1 ELSE 0 END) AS k, min(ri) AS ri
      |  FROM r GROUP BY 1, 2),
      |g2 AS (
      |  SELECT source, CAST(sum(c) AS BIGINT) AS n_docs, count(*) AS n_texts,
      |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_docs,
      |    CAST(sum(c * t) AS BIGINT) AS total_tokens,
      |    CAST(sum(c * k) AS BIGINT) AS n_kept,
      |    CAST(sum(CASE WHEN ri = 1 THEN c ELSE 0 END) AS BIGINT) AS n_too_short,
      |    CAST(sum(CASE WHEN ri = 2 THEN c ELSE 0 END) AS BIGINT) AS n_too_long,
      |    CAST(sum(CASE WHEN ri = 3 THEN c ELSE 0 END) AS BIGINT) AS n_word_length,
      |    CAST(sum(CASE WHEN ri = 4 THEN c ELSE 0 END) AS BIGINT) AS n_low_stopword,
      |    CAST(sum(CASE WHEN ri = 5 THEN c ELSE 0 END) AS BIGINT) AS n_low_distinct,
      |    CAST(sum(CASE WHEN ri = 6 THEN c ELSE 0 END) AS BIGINT) AS n_repetitive
      |  FROM g1 GROUP BY 1)""".stripMargin

  /** DuckDB mirror of DedupOps.simHashSignatures as a CTE chain ending in
    * `sig(doc_id, s)` — shared by dd4 (pairs) and dd7 (clusters).
    */
  private def duckSimHashCtes: String =
    s"""toks AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |    FROM documents)
       |  WHERE tok <> ''),
       |h AS (
       |  SELECT doc_id,
       |    ${duckPolyHash(DedupOps.HashB1, DedupOps.HashM1)} AS h1,
       |    ${duckPolyHash(DedupOps.HashB2, DedupOps.HashM2)} AS h2
       |  FROM toks),
       |v AS (
       |  SELECT doc_id, bit,
       |    sum(CASE WHEN ((h1 * (bit + 1) + h2) % ${DedupOps.HashM1}) % 2 = 1
       |             THEN 1 ELSE -1 END) AS v
       |  FROM h, (SELECT unnest(range(0, ${DedupOps.SimBits})) AS bit)
       |  GROUP BY 1, 2),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT))
       |                  ELSE 0 END) AS BIGINT) AS s
       |  FROM v GROUP BY 1)""".stripMargin

  /** DuckDB mirror of SimilarityOps' SRP bucket over planes
    * [p0, p0 + n): sum over the planes of (sign bit << i), each sign taken
    * on the 4dp-rounded double dot product with the same ±1 literal weights
    * the Spark side builds from srpWeight (list_dot_product over DOUBLE
    * lists folds left-to-right like graft_dot, so the doubles are
    * bit-identical).
    */
  private def duckSrpBucket(p0: Int, n: Int): String =
    (0 until n).map { i =>
      val w = (0 until SimilarityOps.Dim)
        .map(d => if (SimilarityOps.srpWeight(p0 + i, d) > 0) "1.0" else "-1.0").mkString(",")
      s"""(CASE WHEN round(list_dot_product(
         |      list_transform(embedding, x -> CAST(x AS DOUBLE)), [$w]), 4) >= 0
         |  THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)""".stripMargin
    }.mkString("(", "\n + ", ")")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ExtractOps.extractSpans(spark, "/root/testdata/sf0.001")

  private type Query = (SparkSession, String) => DataFrame

  /** A query value-checked through an oracle side table: the registry, not
    * the operator, decides which single-threaded oracle rows back it and
    * under which path. `OracleSide.ensure` writes `rows` at `path(dir)` when
    * no complete table is there, then the operator runs. `path` takes its
    * `n` from the same per-scale-factor function [[oracleSqlFor]] reads the
    * table with, so writer and reader always agree.
    */
  private def sided(path: String => String)(rows: Query)(op: Query): Query =
    (spark, dir) => {
      OracleSide.ensure(path(dir))(rows(spark, dir))
      op(spark, dir)
    }

  /** documents.parquet row count per scale factor (TESTDATA.md). */
  def nDocsTable(sfDir: String): Long = if (sfDir.contains("sf0.1")) 5000L else 500L

  /** embeddings.parquet row count per scale factor (TESTDATA.md). */
  def nEmbTable(sfDir: String): Long = if (sfDir.contains("sf0.1")) 2000L else 500L

  private def mm[R <: Product : scala.reflect.runtime.universe.TypeTag](
      table: (String, Long) => String, src: MultimodalOps.MmSource[R])(op: Query): Query =
    sided(d => table(d, nDocsTable(d)))(Oracle.mmRows(src))(op)

  private def extracted(table: (String, Long) => String)(rows: Query)(op: Query): Query =
    sided(d => table(d, ExtractOps.nDocsFor(d)))(rows)(op)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // extraction pipeline (north rule core)
    "x1_extract_spans" -> extracted(ExtractOps.oracleSpansTable)(Oracle.spanRows)(
      ExtractOps.extractSpans),
    "x2_extract_metrics" -> extracted(ExtractOps.sideTable)(Oracle.spanKindRows)(
      ExtractOps.extractMetrics),
    "x3_extract_rotated" -> extracted(ExtractOps.oracleRotatedTable)(
      Oracle.configuredSpanRows(graft.schema.DetectConfig.ReferenceDefault))(
      ExtractOps.extractSpansRotated),
    // every optional reference-tail feature on: dilation + angle-clf + crop
    // digests (cropped_img analog) through the rotated pipeline
    "x4_extract_full" -> extracted(ExtractOps.oracleFullTable)(
      Oracle.configuredSpanRows(ExtractOps.FullConfig))(ExtractOps.extractSpansFull),
    // relational / window / event plumbing
    "q1_pricing_agg" -> (RelationalOps.pricingAgg _),
    "q2_market_revenue" -> (RelationalOps.marketRevenue _),
    "q3_nation_top_customers" -> (RelationalOps.nationTopCustomers _),
    "q4_shipdate_filter" -> (RelationalOps.shipdateFilter _),
    "q5_priority_heavy_orders" -> (RelationalOps.priorityHeavyOrders _),
    "q6_brand_stats" -> (RelationalOps.brandStats _),
    "q7_shipping_priority" -> (RelationalOps.shippingPriority _),
    "ev1_hourly_events" -> (RelationalOps.hourlyEvents _),
    "ev2_user_sessions" -> (RelationalOps.userSessions _),
    "ev3_props_agg" -> (RelationalOps.propsAgg _),
    // ordered view->click->purchase funnel: sequential-dependency windows,
    // one shuffle, per-user stage timestamps + depth
    "ev4_funnel" -> (RelationalOps.eventFunnel _),
    // hour-over-hour cohort retention: distinct pairs + shifted-key self-join
    "ev5_retention" -> (RelationalOps.retention _),
    // annotation sources (TSV index + GT line parse, SURVEY S4/S5)
    "src1_gt_summary" -> sided(d => Annotations.sideTable(d, Annotations.nFor(d)))(
      (s, d) => Annotations.parseAnnotations(s, Annotations.Seed, Annotations.nFor(d)))(
      Annotations.gtSummary),
    // text analysis
    "txt1_token_count" -> (TextOps.tokenCount _),
    "txt2_quality_score" -> (TextOps.qualityScore _),
    "txt3_langid" -> (TextOps.langId _),
    "txt4_fingerprints" -> (TextOps.fingerprints _),
    "txt5_repetition" -> (TextOps.repetitionStats _),
    // Gopher-rule composite keep/drop filter — pure map, no shuffle
    "qf1_quality_filter" -> (TextOps.qualityFilter _),
    // composite training-data prep: quality gate -> exact dedup among
    // survivors -> keeper language + token count, ONE plan, one shuffle
    "pipe1_training_prep" -> (TextOps.trainingPrep _),
    // the ExactSubstr CUT step: dd8's spans removed from each doc, cleaned
    // text fingerprinted — the second fused pipeline stage
    "pipe2_cut_dups" -> (DedupOps.cutDupSpans _),
    // domain-level profiling + filter decision (C4/RefinedWeb family):
    // per-source doc/dup counts, Gopher pass rate, reject histogram, verdict
    "ds1_source_stats" -> (DomainOps.sourceStats _),
    // benchmark decontamination: per-train-doc K-gram collisions against the
    // (broadcast) eval-set gram set — the GPT-3 appendix-C leakage stage
    "ctn1_decontaminate" -> (ContaminationOps.decontaminate _),
    // sequence-packing offsets via the two-level distributed prefix sum; the
    // oracle's flat global-window cumsum value-checks the decomposition
    "pack1_sequence_offsets" -> (PackingOps.sequenceOffsets _),
    // per-cluster canonical representative (longest member, tie min doc_id)
    // over dd7's clusters — the post-clustering keeper-selection stage
    "pipe3_cluster_keeper" -> (DedupOps.clusterKeeper _),
    // the WHOLE recipe in one plan: quality -> eval exclusion -> exact-dedup
    // keeper -> decontamination -> mixture sampling -> sequence packing;
    // emits the packed layout of every surviving doc, oracle re-derives all
    // six stages in SQL so the stage INTERFACES are value-checked too
    "pipe4_training_corpus" -> (PipelineOps.trainingCorpus _),
    // deterministic train/val/test split by portable doc_id hash: row-local
    // (reshuffle/rerun/growth-stable), pure map, zero data shuffles
    "ds2_hash_split" -> (DomainOps.hashSplit _),
    // BPE-ish regex pretokenizer counts beside the whitespace count
    "txt6_bpe_tokens" -> (TextOps.bpeTokens _),
    // domain mixture re-weighting: equalize kept domains to the smallest
    // kept token budget, integer permille rates applied via ds2's buckets
    "ds3_mix_plan" -> (DomainOps.mixPlan _),
    // ds3's plan APPLIED: broadcast the per-source rates into one corpus
    // pass, keep iff ds2-bucket < rate, report achieved vs estimated tokens
    // (dropped sources stay visible — the keep predicate lives inside the
    // aggregate, so ds1's rollup is evaluated exactly once)
    "ds4_mix_apply" -> (DomainOps.applyMix _),
    // per-source exact token-length percentiles off the (source, n_tokens)
    // histogram — ceiling-rank integers, never a per-source sort or
    // percentile_approx; the dataset-card length-distribution stage
    "ds5_length_percentiles" -> (DomainOps.lengthPercentiles _),
    // per-sequence packing manifest: doc/boundary counts and fill per
    // SeqLen window — the attention-masking metadata over pack1's layout
    "pack2_sequence_manifest" -> (PackingOps.sequenceManifest _),
    // eval-side contamination mirror: distinct hit grams + train-doc blast
    // radius per eval item (Lee et al. 2022 §6.2's removal measure)
    "ctn2_eval_contamination" -> (ContaminationOps.evalContamination _),
    // ctn1's answer by the BIG-eval-suite plan: distributed-built bloom
    // prefilter (native expression) + shuffled exact verify — the corpus
    // never shuffles and nothing corpus-scale is ever broadcast
    "ctn3_bloom_decontaminate" -> (ContaminationOps.decontaminateBloom _),
    // per-source top-K characteristic terms with corpus lift — the TF-IDF-
    // style domain card over one checkpointed (source, term) histogram
    "vocab1_top_terms" -> (VocabOps.topTerms _),
    // CCNet-style unigram-LM perplexity scoring: fit pass + score pass,
    // broadcast model, union (not join) for empty-doc totality
    "lm1_unigram_logprob" -> (VocabOps.unigramLogprob _),
    // deduplication
    "dd1_dedup_exact" -> (TextOps.dedupExact _),
    // bounded 500-doc probe window like dd3_09: dd2 is the exact small-scale
    // oracle; unbounded it times the corpus's 29% near-dup density, not the
    // engine (round-2 verdict: dd2 must not gate the headline wall-time)
    "dd2_ngram_jaccard" -> ((s: SparkSession, d: String) =>
      TextOps.ngramJaccard(s, d, maxDocs = 500)),
    // est_sim (minhash agreement) is engine-internal — the oracle-checked
    // surface is the exact-verified (doc_a, doc_b, jaccard) pair set.
    // Gate 0.6: with 32x2 banding the per-pair miss probability at s>=0.6 is
    // <= 6e-7 (~0.005 expected misses over this corpus's 8.3k such pairs),
    // so the LSH output deterministically equals the oracle's exact all-pairs
    // set; at 0.5 the corpus's 20k boundary pairs would make equality a
    // coin flip.
    "dd3_dedup_minhash" -> ((s: SparkSession, d: String) =>
      DedupOps.dedupMinHash(s, d, minJaccard = 0.6).select("doc_a", "doc_b", "jaccard")),
    // the bench-visible LSH variant: 0.9 gate + a bounded 500-doc probe
    // window (band collisions scale with this corpus's 29% near-dup pair
    // density regardless of the gate — see dedupMinHash scaladoc), so dd3's
    // runtime is driver-visible without measuring the degenerate corpus
    "dd3_dedup_minhash09" -> ((s: SparkSession, d: String) =>
      DedupOps.dedupMinHash(s, d, minJaccard = 0.9, maxDocs = 500)
        .select("doc_a", "doc_b", "jaccard")),
    "dd4_dedup_simhash" -> (DedupOps.dedupSimHash _),
    "dd5_dedup_embedding" -> ((s: SparkSession, d: String) => SimilarityOps.dedupEmbedding(s, d)),
    // cross-doc duplicated-n-gram coverage: the linear (non-pairwise)
    // exact-substring dedup signal — one df-count shuffle, no candidate pairs
    "dd6_dup_ngrams" -> (DedupOps.dupNgramCoverage _),
    // the ExactSubstr cut list itself: maximal duplicated token spans
    // (gaps-and-islands over duplicated gram positions), content-md5-checked
    "dd8_dup_spans" -> (DedupOps.dupSpans _),
    // connected-component duplicate clusters over the dd4 pair graph:
    // per-partition union-find, label propagation only over what it leaves
    "dd7_dup_clusters" -> (DedupOps.dupClusters _),
    // similarity search
    "sim1_cosine_topk" -> (SimilarityOps.cosineTopK _),
    "sim2_ann_ivf" -> sided(d => SimilarityOps.oracleTable(d, nEmbTable(d), SimilarityOps.NCells,
      SimilarityOps.NProbe))(Oracle.annIvfRows)(SimilarityOps.annIvf),
    // SemDeDup: k-means cells -> within-cell cosine pairs -> semantic-dup
    // groups -> keep the member farthest from its centroid; bit-deterministic
    // like sim2, so the single-threaded oracle side table value-checks it
    "sim5_semdedup" -> sided(d => SimilarityOps.semOracleTable(d, nEmbTable(d)))(
      Oracle.semDedupRows)(SimilarityOps.semDedup),
    // SRP-LSH bucketed cosine near-dup: dd5's sub-quadratic regime, with a
    // bucket the DuckDB oracle recomputes from the same plane literals
    // (full value check of the LSH path)
    "sim3_srp_lsh" -> ((s: SparkSession, d: String) => SimilarityOps.srpNearDup(s, d)),
    // OR-amplified banded SRP (4 tables x 6 planes): the recall-bearing LSH
    // shape — explode to (table, bucket) keys, one equi-join, exact verify
    "sim4_srp_banded" -> ((s: SparkSession, d: String) => SimilarityOps.srpNearDupBanded(s, d)),
    // multimodal plumbing (engine tensor payloads)
    "mm1_media_meta" -> mm(MultimodalOps.oracleTable, MultimodalOps.MetaSource)(
      MultimodalOps.mediaMeta),
    // real image decode: BMP/PGM/PPM/PNG bytes -> pixels -> luma -> STD
    // kernel, pure-JVM parsers, value-checked against a sequential oracle
    "mm2_image_meta" -> mm(MultimodalOps.imageOracleTable, MultimodalOps.ImageSource)(
      MultimodalOps.imageMeta),
    // decode + resize policy (type0 resize_long, /32) + detect + P7 box
    // de-normalization back to source coords, digest value-checked
    "mm3_image_detect" -> mm(MultimodalOps.imageDetectOracleTable, MultimodalOps.DetectSource)(
      MultimodalOps.imageDetect),
    // corrupt-payload quarantine: a payload mix with deterministic bad
    // records (truncation / lied magic / bit-rot / decode-bomb headers) —
    // bad rows classified and quarantined, never a task failure; survivors
    // pixel-hash value-checked like mm2
    "mm4_decode_quarantine" -> mm(MultimodalOps.quarantineOracleTable,
      MultimodalOps.QuarantineSource)(MultimodalOps.decodeQuarantine),
    // all three stage tails (STD + the two YOLO heads) on genuinely decoded
    // pixels: CCL candidate proposal stands in for the neural forward, the
    // tails are the reference semantics; kind+box digests value-checked
    "mm5_detect_stages" -> mm(MultimodalOps.stageDetectOracleTable, MultimodalOps.StagesSource)(
      MultimodalOps.imageDetectStages),
    // perceptual-hash image near-dup detection: container re-encodes and a
    // uniform re-exposure collide on the DCT phash (bytes differ), distinct
    // scenes don't; dedup verdict = one window over the phash key
    "mm6_phash_dupes" -> mm(MultimodalOps.phashOracleTable, MultimodalOps.PhashSource)(
      MultimodalOps.imagePhashDupes),
    // Hamming-banded phash near-dup pairs (the lossy-JPEG class mm6's exact
    // grouping structurally misses): 8x8-bit bands, bucket join, exact
    // bit_count(xor) verify — pigeonhole-exact for Hamming<=7, so the
    // DuckDB oracle brute-forces the identical set over the side table
    "mm7_phash_banded" -> mm(MultimodalOps.phashBandedOracleTable, MultimodalOps.PhashBitsSource)(
      MultimodalOps.imagePhashBandedPairs),
    // HTML boilerplate strip (north rule surface): wrap each doc's text in a
    // deterministic full page, strip it back with the DOM-heuristic kernel;
    // oracle is md5(text) straight off the source table — no side table
    "hx1_html_extract" -> (HtmlOps.htmlExtract _),
    // PDF parse (north rule surface): serialize each doc's text into a real
    // multi-page PDF (Flate streams, Tj/TJ/hex show ops), re-extract it
    // through the structure walk; same independent md5(text) oracle
    "px1_pdf_extract" -> (PdfOps.pdfExtract _),
  )

  /** Driver contract: the static map is the sf0.01 instance (the scale the
    * driver runs Verify at). Verify itself dumps `oracleSqlFor(sfDir)` so the
    * side-table sizes always match the scale actually run (round-2 ADVICE:
    * the hardcoded sizes went stale at any other sf).
    */
  def oracleSql: Map[String, String] = oracleSqlFor("/root/testdata/sf0.01")

  def oracleSqlFor(sfDir: String): Map[String, String] = {
    val nX = ExtractOps.nDocsFor(sfDir)
    val nAnn = graft.sources.Annotations.nFor(sfDir)
    val nDocsTable = SparkEntry.nDocsTable(sfDir)
    val nEmbTable = SparkEntry.nEmbTable(sfDir)
    val base = Map(
    // the IVF index is approximate but DETERMINISTIC (fixed summation tree in
    // trainCentroids), so its single-threaded oracle reproduces it bit-exactly
    "sim2_ann_ivf" ->
      s"""SELECT q_id, n_id, cos, rank
        |FROM read_parquet('${SimilarityOps.oracleTable(sfDir, nEmbTable, SimilarityOps.NCells, SimilarityOps.NProbe)}/*.parquet')
        |ORDER BY q_id, rank""".stripMargin,
    // sim5: same deterministic-index argument as sim2 — the side table is an
    // independent single-threaded recompute (own k-means loop, union-find
    // instead of label propagation, same fixpoint)
    "sim5_semdedup" ->
      s"""SELECT vec_id, cell, group_id, group_size, keep, centroid_cos
        |FROM read_parquet('${SimilarityOps.semOracleTable(sfDir, nEmbTable)}/*.parquet')
        |ORDER BY vec_id""".stripMargin,
    // extraction value checks: the Spark pipeline's flattened spans vs the
    // single-threaded oracle's side parquet (see ExtractOps scaladoc)
    "x1_extract_spans" ->
      s"""SELECT doc_id, kind, text, media_ref, span_order
        |FROM read_parquet('${ExtractOps.oracleSpansTable(sfDir, nX)}/*.parquet')
        |ORDER BY doc_id, span_order""".stripMargin,
    "x3_extract_rotated" ->
      s"""SELECT doc_id, kind, text, media_ref, span_order
        |FROM read_parquet('${ExtractOps.oracleRotatedTable(sfDir, nX)}/*.parquet')
        |ORDER BY doc_id, span_order""".stripMargin,
    "mm1_media_meta" ->
      s"""SELECT media_ref, stage, width, height, n_bytes, n_regions
        |FROM read_parquet('${MultimodalOps.oracleTable(sfDir, nDocsTable)}/*.parquet')
        |ORDER BY media_ref""".stripMargin,
    "mm2_image_meta" ->
      s"""SELECT media_ref, format, width, height, channels, n_bytes, pix_hash, n_regions
        |FROM read_parquet('${MultimodalOps.imageOracleTable(sfDir, nDocsTable)}/*.parquet')
        |ORDER BY media_ref""".stripMargin,
    "mm3_image_detect" ->
      s"""SELECT media_ref, width, height, rw, rh, n_regions, box_digest, sum_area
        |FROM read_parquet('${MultimodalOps.imageDetectOracleTable(sfDir, nDocsTable)}/*.parquet')
        |ORDER BY media_ref""".stripMargin,
    "mm4_decode_quarantine" ->
      s"""SELECT media_ref, status, err_kind, format, width, height, pix_hash, n_bytes
        |FROM read_parquet('${MultimodalOps.quarantineOracleTable(sfDir, nDocsTable)}/*.parquet')
        |ORDER BY media_ref""".stripMargin,
    "mm5_detect_stages" ->
      s"""SELECT media_ref, stage, width, height, n_cands, n_regions,
        |  kind_digest, box_digest, sum_area
        |FROM read_parquet('${MultimodalOps.stageDetectOracleTable(sfDir, nDocsTable)}/*.parquet')
        |ORDER BY media_ref, stage""".stripMargin,
    // mm6: the side table carries the sequentially recomputed per-image rows;
    // the dedup verdict is RE-DERIVED here in SQL, so the window semantics
    // (group size, min-ref keeper, dup flag) are value-checked cross-engine
    "mm6_phash_dupes" ->
      s"""WITH p AS (SELECT media_ref, format, width, height, phash, pix_hash
        |  FROM read_parquet('${MultimodalOps.phashOracleTable(sfDir, nDocsTable)}/*.parquet'))
        |SELECT media_ref, format, width, height, phash, pix_hash,
        |  CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same,
        |  min(media_ref) OVER (PARTITION BY phash) AS keeper,
        |  CASE WHEN media_ref = min(media_ref) OVER (PARTITION BY phash)
        |       THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS is_dup
        |FROM p ORDER BY media_ref""".stripMargin,
    // mm7: the banded join is pigeonhole-EXACT at Hamming<=7, so brute-force
    // all-pairs over the sequentially recomputed side hashes is the same set
    "mm7_phash_banded" ->
      s"""WITH s AS (SELECT media_ref, phash_bits
        |  FROM read_parquet('${MultimodalOps.phashBandedOracleTable(sfDir, nDocsTable)}/*.parquet'))
        |SELECT a.media_ref AS ref_a, b.media_ref AS ref_b,
        |  CAST(bit_count(xor(a.phash_bits, b.phash_bits)) AS BIGINT) AS hamming
        |FROM s a JOIN s b ON a.media_ref < b.media_ref
        |WHERE bit_count(xor(a.phash_bits, b.phash_bits)) <= ${MultimodalOps.MaxImageHamming}
        |ORDER BY 1, 2""".stripMargin,
    "q1_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_price,
        | round(avg(l_discount), 4) AS avg_disc, count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_market_revenue" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q3_nation_top_customers" ->
      """SELECT n_name, c_custkey, round(c_acctbal, 2) AS acctbal, rn
        |FROM (SELECT c_nationkey, c_custkey, c_acctbal,
        |        row_number() OVER (PARTITION BY c_nationkey
        |                           ORDER BY c_acctbal DESC, c_custkey) AS rn
        |      FROM customer) c
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE rn <= 3 ORDER BY n_name, rn""".stripMargin,
    "q4_shipdate_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q5_priority_heavy_orders" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 49)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q6_brand_stats" ->
      """SELECT p_brand, count(*) AS n_parts,
        | round(avg(p_retailprice), 2) AS avg_price, max(p_size) AS max_size
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,
    "q7_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin,
    "ev1_hourly_events" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        | round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ev2_user_sessions" ->
      """WITH g AS (
        |  SELECT user_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev3_props_agg" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "hx1_html_extract" ->
      """SELECT doc_id, length(text) AS content_len, md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "px1_pdf_extract" ->
      """SELECT doc_id, length(text) AS content_len, md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "txt1_token_count" ->
      """SELECT doc_id,
        | CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |      ELSE len(string_split_regex(trim(coalesce(text, '')), '\s+')) END AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "txt2_quality_score" ->
      """SELECT doc_id, length(coalesce(text, '')) AS n_chars,
        | CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |      ELSE len(string_split_regex(trim(coalesce(text, '')), '\s+')) END AS n_tokens,
        | length(regexp_replace(coalesce(text, ''), '[^.,;:!?]', '', 'g')) AS n_punct,
        | CASE WHEN trim(coalesce(text, '')) = '' THEN 0.0
        |      ELSE round(len(list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
        |             x -> list_contains(['the','a','and','of','to','in','is','on','for','with'], lower(x))))
        |           / CAST(len(string_split_regex(trim(coalesce(text, '')), '\s+')) AS DOUBLE), 4)
        | END AS stop_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "txt3_langid" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) // 5
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) // 5
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) // 4
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' is ', ''))) // 4 AS s_en,
        |    (length(' '||text||' ') - length(replace(' '||text||' ', ' der ', ''))) // 5
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' und ', ''))) // 5
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' die ', ''))) // 5
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' das ', ''))) // 5 AS s_de,
        |    (length(' '||text||' ') - length(replace(' '||text||' ', ' le ', ''))) // 4
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' et ', ''))) // 4
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' les ', ''))) // 5
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' des ', ''))) // 5 AS s_fr,
        |    (length(' '||text||' ') - length(replace(' '||text||' ', ' el ', ''))) // 4
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' y ', ''))) // 3
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' los ', ''))) // 5
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' las ', ''))) // 5 AS s_es,
        |    length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS s_zh
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN s_zh > 0 THEN 'zh'
        |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr'
        |       ELSE 'es' END AS pred_lang,
        |  CAST(CASE WHEN s_zh > 0 THEN 'zh'
        |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr'
        |       ELSE 'es' END = lang AS INT) AS matched
        |FROM s ORDER BY doc_id""".stripMargin,
    "dd1_dedup_exact" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "dd2_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, source, substr(text, CAST(i AS INT), 3) AS g
        |  FROM (SELECT doc_id, source, text,
        |          unnest(range(1, greatest(length(text) - 1, 1))) AS i
        |        FROM documents WHERE doc_id < 500)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |common AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b
        |    ON a.g = b.g AND a.source = b.source AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 4) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 4) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dd3_dedup_minhash09" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text) - 1, 1))) AS i
        |        FROM documents WHERE doc_id < 500)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |common AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 4) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 4) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dd3_dedup_minhash" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text) - 1, 1))) AS i
        |        FROM documents)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |common AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 4) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 4) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dd4_dedup_simhash" ->
      s"""WITH $duckSimHashCtes
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.s, b.s)) <= ${DedupOps.MaxHamming}
        |ORDER BY doc_a, doc_b""".stripMargin,
    // clusters = transitive closure of the dd4 pair graph; the recursive CTE
    // is the oracle's independent reachability computation (the Spark side is
    // label propagation — different algorithm, same fixpoint)
    "dd7_dup_clusters" ->
      s"""WITH RECURSIVE $duckSimHashCtes,
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.s, b.s)) <= ${DedupOps.MaxHamming}),
        |edges AS (SELECT doc_a AS eu, doc_b AS ev FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.ev FROM reach r JOIN edges e ON r.b = e.eu),
        |lab AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY 1),
        |cs AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
        |SELECT l.doc_id, l.cluster_id, cs.cluster_size,
        |  CAST(l.doc_id = l.cluster_id AS INT) AS is_keeper
        |FROM lab l JOIN cs USING (cluster_id)
        |ORDER BY l.doc_id""".stripMargin,
    // pipe3: dd7's reachability CTEs, then keeper = row_number 1 under
    // (n_tokens DESC, doc_id) per cluster — the deterministic argmax the
    // Spark side encodes as max(struct(n_tokens, -doc_id))
    "pipe3_cluster_keeper" ->
      s"""WITH RECURSIVE $duckSimHashCtes,
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.s, b.s)) <= ${DedupOps.MaxHamming}),
        |edges AS (SELECT doc_a AS eu, doc_b AS ev FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.ev FROM reach r JOIN edges e ON r.b = e.eu),
        |lab AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY 1),
        |tk AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
        |  FROM documents),
        |j AS (
        |  SELECT l.cluster_id, l.doc_id, t.n_tokens,
        |    row_number() OVER (PARTITION BY l.cluster_id
        |                       ORDER BY t.n_tokens DESC, l.doc_id) AS rn
        |  FROM lab l JOIN tk t USING (doc_id)),
        |m AS (SELECT cluster_id, count(*) AS n_members FROM lab GROUP BY 1)
        |SELECT j.cluster_id, m.n_members, j.doc_id AS keeper,
        |  j.n_tokens AS keeper_tokens
        |FROM j JOIN m USING (cluster_id) WHERE j.rn = 1
        |ORDER BY j.cluster_id""".stripMargin,
    "txt4_fingerprints" ->
      s"""WITH hs AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text) - ${TextOps.FpK - 2}),
        |      i -> ${duckKgramHash("i")}) AS hs
        |  FROM documents WHERE length(text) >= ${TextOps.FpK + TextOps.FpW}),
        |wins AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(hs) - ${TextOps.FpW - 2}),
        |      j -> list_min(list_slice(hs, CAST(j AS INT),
        |                               CAST(j + ${TextOps.FpW - 1} AS INT))))) AS fps
        |  FROM hs)
        |SELECT doc_id, unnest(fps) AS fp FROM wins ORDER BY doc_id, fp""".stripMargin,
    "txt5_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(coalesce(text, '')), '\s+') END AS toks
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, toks, len(toks) AS n, len(list_distinct(toks)) AS ndist,
        |    CASE WHEN len(toks) < 2 THEN 0.0
        |         ELSE 1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |                  i -> toks[i] || chr(1) || toks[i+1]))) AS DOUBLE)
        |              / CAST(len(toks) - 1 AS DOUBLE) END AS dup2
        |  FROM d),
        |top AS (
        |  SELECT doc_id, max(c) AS top_cnt
        |  FROM (SELECT doc_id, tok, count(*) AS c
        |        FROM (SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT b.doc_id, b.n AS n_tokens,
        |  CASE WHEN b.n = 0 THEN 0.0
        |       ELSE round(CAST(b.ndist AS DOUBLE) / b.n, 4) END AS distinct_ratio,
        |  CASE WHEN b.n = 0 THEN 0.0
        |       ELSE round(CAST(coalesce(t.top_cnt, 0) AS DOUBLE) / b.n, 4) END AS top_tok_frac,
        |  round(b.dup2, 4) AS dup_2gram_frac
        |FROM base b LEFT JOIN top t USING (doc_id) ORDER BY doc_id""".stripMargin,
    "dd6_dup_ngrams" ->
      s"""WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''),
        |idx AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) - ${DedupOps.DupGramK - 2})) AS i
        |  FROM d WHERE len(toks) >= ${DedupOps.DupGramK}),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    md5(array_to_string(list_slice(toks, i, i + ${DedupOps.DupGramK - 1}), ' ')) AS h
        |  FROM idx),
        |f AS (SELECT h, count(*) AS df FROM g GROUP BY 1)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_frac
        |FROM g JOIN f USING (h) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // dd8: same gram family as dd6, then classic gaps-and-islands
    // (i - row_number() is constant within a consecutive run); the final
    // join back to d re-renders the span text for the content md5
    "dd8_dup_spans" ->
      s"""WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''),
        |idx AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) - ${DedupOps.DupGramK - 2})) AS i
        |  FROM d WHERE len(toks) >= ${DedupOps.DupGramK}),
        |p AS (
        |  SELECT doc_id, i,
        |    md5(array_to_string(list_slice(toks, i, i + ${DedupOps.DupGramK - 1}), ' ')) AS h
        |  FROM idx),
        |f AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df FROM p GROUP BY 1) WHERE df >= 2),
        |isl AS (
        |  SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS k
        |  FROM p JOIN f USING (h)),
        |runs AS (
        |  SELECT doc_id, min(i) AS span_start, max(i) + ${DedupOps.DupGramK - 1} AS span_end
        |  FROM isl GROUP BY doc_id, k)
        |SELECT r.doc_id, r.span_start, r.span_end,
        |  r.span_end - r.span_start + 1 AS span_tokens,
        |  md5(array_to_string(list_slice(d.toks, r.span_start, r.span_end), ' ')) AS span_md5
        |FROM runs r JOIN d USING (doc_id)
        |ORDER BY r.doc_id, r.span_start""".stripMargin,
    "sim3_srp_lsh" ->
      s"""WITH b AS (SELECT vec_id, embedding, ${duckSrpBucket(0, SimilarityOps.NPlanes)} AS bucket FROM embeddings)
        |SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
        |  round(list_cosine_similarity(a.embedding, b2.embedding), 4) AS cos
        |FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        |WHERE round(list_cosine_similarity(a.embedding, b2.embedding), 4) >= 0.35
        |ORDER BY 1, 2""".stripMargin,
    // banded SRP: candidate = same bucket in ANY of the 4 tables (OR), then
    // the same exact-cosine verification — an independent DuckDB computation
    // of the amplified pair set
    "sim4_srp_banded" -> {
      val bucketCols = (0 until SimilarityOps.SrpBandTables)
        .map(t => s"${duckSrpBucket(t * SimilarityOps.SrpBandPlanes, SimilarityOps.SrpBandPlanes)} AS bk$t")
        .mkString(",\n  ")
      val anySame = (0 until SimilarityOps.SrpBandTables)
        .map(t => s"a.bk$t = b2.bk$t").mkString(" OR ")
      s"""WITH b AS (SELECT vec_id, embedding, $bucketCols FROM embeddings)
        |SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
        |  round(list_cosine_similarity(a.embedding, b2.embedding), 4) AS cos
        |FROM b a JOIN b b2 ON a.vec_id < b2.vec_id AND ($anySame)
        |WHERE round(list_cosine_similarity(a.embedding, b2.embedding), 4) >= 0.35
        |ORDER BY 1, 2""".stripMargin
    },
    "qf1_quality_filter" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(coalesce(text, '')), '\s+') END AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, len(toks) AS n,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks) END AS mtl,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(toks,
        |                x -> list_contains(['the','a','and','of','to','in','is','on','for','with'], lower(x)))) AS DOUBLE)
        |              / len(toks) END AS stop_r,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS dist_r,
        |    CASE WHEN len(toks) < 2 THEN 0.0
        |         ELSE 1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |                  i -> toks[i] || chr(1) || toks[i+1]))) AS DOUBLE)
        |              / CAST(len(toks) - 1 AS DOUBLE) END AS dup2
        |  FROM d),
        |r AS (
        |  SELECT doc_id, n, mtl, stop_r, dist_r, dup2,
        |    CASE WHEN n < 25 THEN 'too_short'
        |         WHEN n > 100000 THEN 'too_long'
        |         WHEN mtl < 3.0 OR mtl > 10.0 THEN 'word_length'
        |         WHEN stop_r < 0.01 THEN 'low_stopword'
        |         WHEN dist_r < 0.35 THEN 'low_distinct'
        |         WHEN dup2 > 0.06 THEN 'repetitive'
        |         ELSE NULL END AS reject_reason
        |  FROM s)
        |SELECT doc_id, n AS n_tokens, round(mtl, 4) AS mean_tok_len,
        |  round(stop_r, 4) AS stop_ratio, round(dist_r, 4) AS distinct_ratio,
        |  round(dup2, 4) AS dup_2gram_frac, reject_reason,
        |  CAST(reject_reason IS NULL AS INT) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    // the composite pipeline: qf1's quality rules, dd1's dedup, txt3's
    // langid — each CTE reuses the corresponding single-operator oracle's
    // expressions verbatim, so pipe1's oracle is their composition too
    // pipe2: dd8's runs CTE, then every token position left-joins the runs
    // (disjoint by the islands construction, so no fanout) and the survivors
    // re-assemble in position order for the content md5
    "pipe2_cut_dups" ->
      s"""WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''),
        |idx AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) - ${DedupOps.DupGramK - 2})) AS i
        |  FROM d WHERE len(toks) >= ${DedupOps.DupGramK}),
        |p AS (
        |  SELECT doc_id, i,
        |    md5(array_to_string(list_slice(toks, i, i + ${DedupOps.DupGramK - 1}), ' ')) AS h
        |  FROM idx),
        |f AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df FROM p GROUP BY 1) WHERE df >= 2),
        |isl AS (
        |  SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS k
        |  FROM p JOIN f USING (h)),
        |runs AS (
        |  SELECT doc_id, min(i) AS s, max(i) + ${DedupOps.DupGramK - 1} AS e
        |  FROM isl GROUP BY doc_id, k),
        |tok AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM d),
        |keep AS (
        |  SELECT t.doc_id, t.i, t.toks[t.i] AS tok
        |  FROM tok t LEFT JOIN runs r ON t.doc_id = r.doc_id AND t.i BETWEEN r.s AND r.e
        |  WHERE r.doc_id IS NULL),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    md5(coalesce(string_agg(tok, ' ' ORDER BY i), '')) AS cleaned_md5
        |  FROM keep GROUP BY doc_id),
        |nsp AS (SELECT doc_id, count(*) AS n_spans_cut FROM runs GROUP BY doc_id)
        |SELECT d.doc_id, len(d.toks) AS n_tokens,
        |  coalesce(nsp.n_spans_cut, 0) AS n_spans_cut,
        |  len(d.toks) - coalesce(agg.n_kept, 0) AS n_cut,
        |  coalesce(agg.n_kept, 0) AS n_kept,
        |  coalesce(agg.cleaned_md5, md5('')) AS cleaned_md5
        |FROM d LEFT JOIN agg USING (doc_id) LEFT JOIN nsp USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // ds3: ds1's CTEs, the verdict recomputed, the min over kept sources,
    // and integer permille rates — all integer arithmetic in both engines
    "ds3_mix_plan" ->
      s"""WITH $duckDs1Ctes,
        |st AS (
        |  SELECT source, n_docs, total_tokens,
        |    CASE WHEN dup_docs * 4 <= n_docs AND n_kept * 2 >= n_docs
        |         THEN 1 ELSE 0 END AS keep
        |  FROM g2),
        |mk AS (SELECT CAST(min(total_tokens) AS BIGINT) AS min_kept
        |       FROM st WHERE keep = 1),
        |rt AS (
        |  SELECT st.source, st.n_docs, st.total_tokens, st.keep,
        |    CAST(CASE WHEN st.keep = 0 THEN 0
        |         ELSE least(1000, coalesce(mk.min_kept, 0) * 1000 // st.total_tokens)
        |         END AS BIGINT) AS rate_permille
        |  FROM st, mk)
        |SELECT source, n_docs, total_tokens, keep, rate_permille,
        |  CAST(total_tokens * rate_permille // 1000 AS BIGINT) AS est_tokens
        |FROM rt ORDER BY source""".stripMargin,
    // ds4: ds3's plan re-derived, then one pass over documents with the
    // ds2 bucket hash — the keep predicate sits inside the aggregates so
    // rate-0 sources still emit a row (achieved 0); dev is a subtraction
    // (integer // rounds toward -inf in DuckDB but toward 0 in Spark)
    "ds4_mix_apply" ->
      s"""WITH $duckDs1Ctes,
        |st AS (
        |  SELECT source, n_docs, total_tokens,
        |    CASE WHEN dup_docs * 4 <= n_docs AND n_kept * 2 >= n_docs
        |         THEN 1 ELSE 0 END AS keep
        |  FROM g2),
        |mk AS (SELECT CAST(min(total_tokens) AS BIGINT) AS min_kept
        |       FROM st WHERE keep = 1),
        |pl AS (
        |  SELECT st.source,
        |    CAST(CASE WHEN st.keep = 0 THEN 0
        |         ELSE least(1000, coalesce(mk.min_kept, 0) * 1000 // st.total_tokens)
        |         END AS BIGINT) AS rate_permille, st.total_tokens
        |  FROM st, mk),
        |plan AS (
        |  SELECT source, rate_permille,
        |    CAST(total_tokens * rate_permille // 1000 AS BIGINT) AS est_tokens
        |  FROM pl),
        |tk AS (
        |  SELECT source,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST(0 AS BIGINT)
        |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(CAST(doc_id AS VARCHAR)) + 1),
        |        i -> CAST(ascii(substr(CAST(doc_id AS VARCHAR), CAST(i AS INT), 1)) AS BIGINT))),
        |      (a, c) -> (a * ${DedupOps.HashB1} + c) % ${DedupOps.HashM1})
        |      % ${DomainOps.SplitBuckets} AS b
        |  FROM documents),
        |a AS (
        |  SELECT p.source, p.rate_permille, p.est_tokens,
        |    count(*) AS n_docs_in,
        |    CAST(sum(CASE WHEN tk.b < p.rate_permille THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
        |    CAST(sum(CASE WHEN tk.b < p.rate_permille THEN tk.n_tokens ELSE 0 END) AS BIGINT) AS achieved_tokens
        |  FROM tk JOIN plan p USING (source)
        |  GROUP BY 1, 2, 3)
        |SELECT source, rate_permille, est_tokens, n_docs_in, n_docs_kept,
        |  achieved_tokens,
        |  CAST(achieved_tokens - est_tokens AS BIGINT) AS dev_tokens
        |FROM a ORDER BY source""".stripMargin,
    // ds5: ceiling-rank percentiles off the per-source length histogram —
    // cum*100 >= n*p cross-multiplied in integers in both engines; the
    // window sums are cast (DuckDB sum() returns HUGEINT, the ds1 lesson)
    "ds5_length_percentiles" ->
      s"""WITH t AS (
        |  SELECT source,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST(0 AS BIGINT)
        |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
        |  FROM documents),
        |h AS (SELECT source, n_tokens, count(*) AS c FROM t GROUP BY 1, 2),
        |cw AS (
        |  SELECT source, n_tokens,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY n_tokens) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM h)
        |SELECT source, max(n) AS n_docs, min(n_tokens) AS min_tokens,
        |  min(CASE WHEN cum * 100 >= n * 50 THEN n_tokens END) AS p50,
        |  min(CASE WHEN cum * 100 >= n * 90 THEN n_tokens END) AS p90,
        |  min(CASE WHEN cum * 100 >= n * 99 THEN n_tokens END) AS p99,
        |  max(n_tokens) AS max_tokens
        |FROM cw GROUP BY source ORDER BY source""".stripMargin,
    // vocab1: same (source, term) histogram + rollups; rank ties break by
    // term ascending in both engines; lift is double-divided then rounded
    "vocab1_top_terms" ->
      s"""WITH t AS (
        |  SELECT source,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\\s+') END AS toks
        |  FROM documents),
        |e AS (SELECT source, unnest(toks) AS term FROM t),
        |tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM e GROUP BY 1, 2),
        |st AS (SELECT source, CAST(sum(tf) AS BIGINT) AS src_total
        |       FROM tf GROUP BY 1),
        |ct AS (SELECT term, CAST(sum(tf) AS BIGINT) AS corpus_tf
        |       FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(src_total) AS BIGINT) AS corpus_total FROM st),
        |r AS (SELECT source, term, tf,
        |        CAST(row_number() OVER (PARTITION BY source
        |          ORDER BY tf DESC, term) AS BIGINT) AS rank
        |      FROM tf)
        |SELECT r.source, r.rank, r.term, r.tf, st.src_total, ct.corpus_tf,
        |  round((CAST(r.tf AS DOUBLE) / CAST(st.src_total AS DOUBLE))
        |    / (CAST(ct.corpus_tf AS DOUBLE) / CAST(tot.corpus_total AS DOUBLE)), 4)
        |    AS lift
        |FROM r JOIN st USING (source) JOIN ct USING (term) CROSS JOIN tot
        |WHERE r.rank <= ${VocabOps.TopK}
        |ORDER BY r.source, r.rank""".stripMargin,
    // lm1: identical add-one unigram model — ln of the SAME double division,
    // rounded after the full-precision exp/ratio in both engines; empty docs
    // come from the zero-token branch, not a doc_id join
    "lm1_unigram_logprob" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(toks) AS term FROM t),
        |v AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
        |s AS (SELECT CAST(sum(c) AS BIGINT) AS t_total,
        |             CAST(count(*) AS BIGINT) AS v_size FROM v),
        |m AS (SELECT term,
        |        ln(CAST(c + 1 AS DOUBLE) / CAST(t_total + v_size AS DOUBLE)) AS lp
        |      FROM v CROSS JOIN s),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |         sum(lp) AS sum_lp
        |       FROM e JOIN m USING (term) GROUP BY 1)
        |SELECT doc_id, n_tokens, round(-sum_lp / n_tokens, 4) AS nll,
        |  round(exp(-sum_lp / n_tokens), 4) AS ppl
        |FROM sc
        |UNION ALL
        |SELECT doc_id, CAST(0 AS BIGINT) AS n_tokens, 0.0 AS nll, 1.0 AS ppl
        |FROM t WHERE len(toks) = 0
        |ORDER BY doc_id""".stripMargin,
    // txt6: same lookahead-free patterns evaluated by DuckDB's RE2 — the
    // value check proves Java-regex and RE2 segmentation agree per class
    "txt6_bpe_tokens" ->
      s"""SELECT doc_id,
        |  CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |       ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+')) END AS n_ws_tokens,
        |  len(regexp_extract_all(coalesce(text, ''), '${TextOps.BpePat}')) AS n_bpe_tokens,
        |  len(regexp_extract_all(coalesce(text, ''), '${TextOps.BpeWordPat}')) AS n_word_runs,
        |  len(regexp_extract_all(coalesce(text, ''), '${TextOps.BpeDigitPat}')) AS n_digit_runs,
        |  len(regexp_extract_all(coalesce(text, ''), '${TextOps.BpeOtherPat}')) AS n_other_runs
        |FROM documents ORDER BY doc_id""".stripMargin,
    // ds2: the portable polynomial hash over the doc_id string, folded in
    // DuckDB with the same left-to-right arithmetic
    "ds2_hash_split" ->
      s"""SELECT doc_id, source, b AS bucket,
        |  CASE WHEN b < ${DomainOps.TestPermille} THEN 'test'
        |       WHEN b < ${DomainOps.ValPermille} THEN 'val'
        |       ELSE 'train' END AS split
        |FROM (
        |  SELECT doc_id, source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(CAST(doc_id AS VARCHAR)) + 1),
        |        i -> CAST(ascii(substr(CAST(doc_id AS VARCHAR), CAST(i AS INT), 1)) AS BIGINT))),
        |      (a, c) -> (a * ${DedupOps.HashB1} + c) % ${DedupOps.HashM1})
        |      % ${DomainOps.SplitBuckets} AS b
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // pack1: the oracle computes the offsets with a FLAT global-order window
    // cumsum — equality proves the engine's two-level bucket decomposition
    // reproduces the sequential prefix sum exactly
    "pack1_sequence_offsets" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS global_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, global_offset,
        |  CAST(global_offset // ${PackingOps.SeqLen} AS BIGINT) AS seq_id,
        |  CAST(global_offset % ${PackingOps.SeqLen} AS BIGINT) AS offset_in_seq
        |FROM o ORDER BY doc_id""".stripMargin,
    // pack2: pack1's flat-window offsets expanded to one row per
    // (doc, sequence) via range(first_seq, last_seq+1), rolled up per
    // sequence; overlap arithmetic is all BIGINT (every operand nonnegative,
    // so // and div agree across engines)
    "pack2_sequence_manifest" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS global_offset
        |  FROM t),
        |s AS (
        |  SELECT doc_id, n_tokens, global_offset,
        |    CAST(global_offset // ${PackingOps.SeqLen} AS BIGINT) AS first_seq,
        |    CAST((global_offset + n_tokens - 1) // ${PackingOps.SeqLen} AS BIGINT) AS last_seq
        |  FROM o WHERE n_tokens > 0),
        |x AS (
        |  SELECT doc_id, n_tokens, global_offset, first_seq,
        |    unnest(range(first_seq, last_seq + 1)) AS seq_id
        |  FROM s)
        |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN seq_id = first_seq THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  CAST(sum(least((seq_id + 1) * ${PackingOps.SeqLen}, global_offset + n_tokens)
        |       - greatest(seq_id * ${PackingOps.SeqLen}, global_offset)) AS BIGINT) AS tokens_filled
        |FROM x GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    // ctn1: grams CTE shared with dd6/dd8's shape; eval side = doc_id % 97,
    // distinct eval grams LEFT-joined to training gram positions, per-doc
    // rollup via a doc_id LEFT join for totality over short docs
    "ctn1_decontaminate" ->
      s"""WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(coalesce(text, '')), '\\s+') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    CASE WHEN len(toks) >= ${DedupOps.DupGramK}
        |         THEN list_transform(range(1, len(toks) - ${DedupOps.DupGramK - 2}),
        |           i -> md5(array_to_string(list_slice(toks, i, i + ${DedupOps.DupGramK - 1}), ' ')))
        |         ELSE CAST([] AS VARCHAR[]) END AS grams
        |  FROM d),
        |e AS (
        |  SELECT DISTINCT unnest(grams) AS h FROM g WHERE doc_id % ${ContaminationOps.EvalMod} = 0),
        |t AS (
        |  SELECT doc_id, unnest(grams) AS h FROM g WHERE doc_id % ${ContaminationOps.EvalMod} <> 0),
        |c AS (
        |  SELECT t.doc_id,
        |    CAST(sum(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cont
        |  FROM t LEFT JOIN e ON t.h = e.h GROUP BY 1)
        |SELECT g.doc_id, g.n_tokens, len(g.grams) AS n_grams,
        |  coalesce(c.n_cont, 0) AS n_contaminated,
        |  CASE WHEN len(g.grams) = 0 THEN 0.0
        |       ELSE round(CAST(coalesce(c.n_cont, 0) AS DOUBLE) / len(g.grams), 4)
        |       END AS contamination_frac,
        |  CASE WHEN coalesce(c.n_cont, 0) > 0 THEN 1 ELSE 0 END AS contaminated
        |FROM g LEFT JOIN c USING (doc_id)
        |WHERE g.doc_id % ${ContaminationOps.EvalMod} <> 0
        |ORDER BY g.doc_id""".stripMargin,
    // ctn2: ctn1's gram CTE, flipped to the eval side — distinct hit grams
    // and distinct colliding train docs per eval item; the pair frame is the
    // (train grams ∩ eval grams) intersection in both engines
    "ctn2_eval_contamination" ->
      s"""WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(coalesce(text, '')), '\\s+') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= ${DedupOps.DupGramK}
        |         THEN list_transform(range(1, len(toks) - ${DedupOps.DupGramK - 2}),
        |           i -> md5(array_to_string(list_slice(toks, i, i + ${DedupOps.DupGramK - 1}), ' ')))
        |         ELSE CAST([] AS VARCHAR[]) END AS grams
        |  FROM d),
        |ev AS (SELECT doc_id, grams FROM g WHERE doc_id % ${ContaminationOps.EvalMod} = 0),
        |tot AS (
        |  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |    CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams
        |  FROM ev),
        |eg AS (
        |  SELECT DISTINCT doc_id AS eval_doc, h
        |  FROM (SELECT doc_id, unnest(grams) AS h FROM ev)),
        |tg AS (
        |  SELECT DISTINCT doc_id AS train_doc, h
        |  FROM (SELECT doc_id, unnest(grams) AS h FROM g
        |        WHERE doc_id % ${ContaminationOps.EvalMod} <> 0)),
        |p AS (SELECT eg.eval_doc, eg.h, tg.train_doc FROM eg JOIN tg USING (h)),
        |hg AS (SELECT eval_doc, CAST(count(DISTINCT h) AS BIGINT) AS n_hit_grams
        |       FROM p GROUP BY 1),
        |hd AS (SELECT eval_doc, CAST(count(DISTINCT train_doc) AS BIGINT) AS n_train_docs
        |       FROM p GROUP BY 1)
        |SELECT tot.doc_id, tot.n_grams, tot.n_distinct_grams,
        |  coalesce(hg.n_hit_grams, 0) AS n_hit_grams,
        |  coalesce(hd.n_train_docs, 0) AS n_train_docs,
        |  CASE WHEN tot.n_distinct_grams = 0 THEN 0.0
        |       ELSE round(CAST(coalesce(hg.n_hit_grams, 0) AS DOUBLE)
        |            / tot.n_distinct_grams, 4) END AS hit_frac,
        |  CASE WHEN coalesce(hg.n_hit_grams, 0) > 0 THEN 1 ELSE 0 END AS compromised
        |FROM tot LEFT JOIN hg ON tot.doc_id = hg.eval_doc
        |LEFT JOIN hd ON tot.doc_id = hd.eval_doc
        |ORDER BY tot.doc_id""".stripMargin,
    // ds1: pipe1's quality CTEs verbatim, then the first-failing rule as an
    // index, the (source, md5) pre-aggregation, and the per-source rollup —
    // the keep/drop verdict is integer cross-multiplication in both engines
    "ds1_source_stats" ->
      s"""WITH $duckDs1Ctes
        |SELECT source, n_docs, n_texts, dup_docs, total_tokens, n_kept,
        |  round(CAST(n_kept AS DOUBLE) / n_docs, 4) AS kept_frac,
        |  round(CAST(dup_docs AS DOUBLE) / n_docs, 4) AS dup_frac,
        |  n_too_short, n_too_long, n_word_length, n_low_stopword,
        |  n_low_distinct, n_repetitive,
        |  CASE WHEN dup_docs * 4 > n_docs THEN 'boilerplate'
        |       WHEN n_kept * 2 < n_docs THEN 'low_quality' END AS drop_reason,
        |  CASE WHEN dup_docs * 4 <= n_docs AND n_kept * 2 >= n_docs
        |       THEN 1 ELSE 0 END AS keep
        |FROM g2 ORDER BY source""".stripMargin,
    // pipe4: the six-stage recipe recomputed end-to-end in SQL — pipe1's
    // quality CTEs (source carried through), dd1's min-doc_id keeper window,
    // ctn1's gram CTEs, ds3's integer rate arithmetic over the CLEAN corpus,
    // ds2's portable polyhash bucket, pack1's flat-window prefix sum
    "pipe4_training_corpus" ->
      s"""WITH d AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(coalesce(text, '')), '\\s+') END AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source, text, toks, len(toks) AS n,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks) END AS mtl,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(toks,
        |                x -> list_contains(['the','a','and','of','to','in','is','on','for','with'], lower(x)))) AS DOUBLE)
        |              / len(toks) END AS stop_r,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS dist_r,
        |    CASE WHEN len(toks) < 2 THEN 0.0
        |         ELSE 1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |                  i -> toks[i] || chr(1) || toks[i+1]))) AS DOUBLE)
        |              / CAST(len(toks) - 1 AS DOUBLE) END AS dup2
        |  FROM d),
        |k AS (
        |  SELECT doc_id, source, text, toks, n FROM s
        |  WHERE NOT (n < 25 OR n > 100000 OR mtl < 3.0 OR mtl > 10.0
        |             OR stop_r < 0.01 OR dist_r < 0.35 OR dup2 > 0.06)
        |    AND doc_id % ${ContaminationOps.EvalMod} <> 0),
        |kp AS (
        |  SELECT doc_id, source, toks, n FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS kpr FROM k)
        |  WHERE doc_id = kpr),
        |e AS (
        |  SELECT DISTINCT unnest(
        |    CASE WHEN len(toks) >= ${DedupOps.DupGramK}
        |         THEN list_transform(range(1, len(toks) - ${DedupOps.DupGramK - 2}),
        |           i -> md5(array_to_string(list_slice(toks, i, i + ${DedupOps.DupGramK - 1}), ' ')))
        |         ELSE CAST([] AS VARCHAR[]) END) AS h
        |  FROM d WHERE doc_id % ${ContaminationOps.EvalMod} = 0),
        |cont AS (
        |  SELECT DISTINCT kg.doc_id FROM (
        |    SELECT doc_id, unnest(
        |      CASE WHEN len(toks) >= ${DedupOps.DupGramK}
        |           THEN list_transform(range(1, len(toks) - ${DedupOps.DupGramK - 2}),
        |             i -> md5(array_to_string(list_slice(toks, i, i + ${DedupOps.DupGramK - 1}), ' ')))
        |           ELSE CAST([] AS VARCHAR[]) END) AS h
        |    FROM kp) kg JOIN e USING (h)),
        |clean AS (
        |  SELECT doc_id, source, CAST(n AS BIGINT) AS n_tokens FROM kp
        |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        |src AS (
        |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        |  FROM clean GROUP BY 1),
        |mn AS (SELECT min(src_tokens) AS m FROM src),
        |r AS (
        |  SELECT source, CAST(least(1000, m * 1000 // src_tokens) AS BIGINT) AS rate
        |  FROM src, mn),
        |smp AS (
        |  SELECT cl.doc_id, cl.source, cl.n_tokens FROM clean cl JOIN r USING (source)
        |  WHERE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(CAST(cl.doc_id AS VARCHAR)) + 1),
        |        i -> CAST(ascii(substr(CAST(cl.doc_id AS VARCHAR), CAST(i AS INT), 1)) AS BIGINT))),
        |      (a, c) -> (a * ${DedupOps.HashB1} + c) % ${DedupOps.HashM1})
        |      % ${DomainOps.SplitBuckets} < r.rate),
        |o AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS global_offset
        |  FROM smp)
        |SELECT doc_id, source, n_tokens, global_offset,
        |  CAST(global_offset // ${PackingOps.SeqLen} AS BIGINT) AS seq_id,
        |  CAST(global_offset % ${PackingOps.SeqLen} AS BIGINT) AS offset_in_seq
        |FROM o ORDER BY doc_id""".stripMargin,
    "pipe1_training_prep" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(coalesce(text, '')), '\s+') END AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, text, len(toks) AS n,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks) END AS mtl,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(toks,
        |                x -> list_contains(['the','a','and','of','to','in','is','on','for','with'], lower(x)))) AS DOUBLE)
        |              / len(toks) END AS stop_r,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS dist_r,
        |    CASE WHEN len(toks) < 2 THEN 0.0
        |         ELSE 1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |                  i -> toks[i] || chr(1) || toks[i+1]))) AS DOUBLE)
        |              / CAST(len(toks) - 1 AS DOUBLE) END AS dup2
        |  FROM d),
        |k AS (
        |  SELECT doc_id, text, n FROM s
        |  WHERE NOT (n < 25 OR n > 100000 OR mtl < 3.0 OR mtl > 10.0
        |             OR stop_r < 0.01 OR dist_r < 0.35 OR dup2 > 0.06)),
        |l AS (
        |  SELECT doc_id, text, n,
        |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) // 5
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) // 5
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) // 4
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' is ', ''))) // 4 AS s_en,
        |    (length(' '||text||' ') - length(replace(' '||text||' ', ' der ', ''))) // 5
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' und ', ''))) // 5
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' die ', ''))) // 5
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' das ', ''))) // 5 AS s_de,
        |    (length(' '||text||' ') - length(replace(' '||text||' ', ' le ', ''))) // 4
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' et ', ''))) // 4
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' les ', ''))) // 5
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' des ', ''))) // 5 AS s_fr,
        |    (length(' '||text||' ') - length(replace(' '||text||' ', ' el ', ''))) // 4
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' y ', ''))) // 3
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' los ', ''))) // 5
        |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' las ', ''))) // 5 AS s_es,
        |    length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS s_zh
        |  FROM k)
        |SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS keeper,
        |  min(CASE WHEN s_zh > 0 THEN 'zh'
        |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr'
        |       ELSE 'es' END) AS keeper_lang,
        |  min(n) AS keeper_tokens
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev4_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS us FROM events),
        |v AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN us END) OVER w AS view_before
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |c AS (
        |  SELECT *,
        |    CASE WHEN event_type = 'click' AND view_before IS NOT NULL THEN us END AS click_valid_us,
        |    min(CASE WHEN event_type = 'click' AND view_before IS NOT NULL THEN us END)
        |      OVER w AS click_before
        |  FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |a AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN us END) AS first_view_us,
        |    min(click_valid_us) AS first_click_us,
        |    min(CASE WHEN event_type = 'purchase' AND click_before IS NOT NULL THEN us END)
        |      AS first_purchase_us
        |  FROM c GROUP BY 1)
        |SELECT user_id, first_view_us, first_click_us, first_purchase_us,
        |  CASE WHEN first_purchase_us IS NOT NULL THEN 3
        |       WHEN first_click_us IS NOT NULL THEN 2
        |       WHEN first_view_us IS NOT NULL THEN 1
        |       ELSE 0 END AS funnel_depth
        |FROM a ORDER BY user_id""".stripMargin,
    "ev5_retention" ->
      """WITH uh AS (
        |  SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour FROM events),
        |cohort AS (SELECT hour, count(*) AS n_active FROM uh GROUP BY 1),
        |ret AS (
        |  SELECT a.hour, count(*) AS n_retained
        |  FROM uh a JOIN uh b
        |    ON a.user_id = b.user_id AND b.hour = a.hour + INTERVAL 1 HOUR
        |  GROUP BY 1)
        |SELECT c.hour, c.n_active,
        |  coalesce(r.n_retained, 0) AS n_retained,
        |  round(coalesce(r.n_retained, 0) / CAST(c.n_active AS DOUBLE), 4) AS retention
        |FROM cohort c LEFT JOIN ret r USING (hour)
        |ORDER BY c.hour""".stripMargin,
    "x4_extract_full" ->
      s"""SELECT doc_id, kind, text, media_ref, span_order
        |FROM read_parquet('${ExtractOps.oracleFullTable(sfDir, nX)}/*.parquet')
        |ORDER BY doc_id, span_order""".stripMargin,
    "x2_extract_metrics" ->
      s"""SELECT kind, count(*) AS n_spans,
        | count(DISTINCT media_ref) AS n_media
        |FROM read_parquet('${ExtractOps.sideTable(sfDir, nX)}/*.parquet')
        |GROUP BY kind ORDER BY kind""".stripMargin,
    "src1_gt_summary" ->
      s"""SELECT img, count(*) AS n_boxes,
        | CAST(sum(ignored) AS BIGINT) AS n_ignored,
        | min(least(poly[1], poly[3], poly[5], poly[7])) AS x_min,
        | min(least(poly[2], poly[4], poly[6], poly[8])) AS y_min,
        | max(greatest(poly[1], poly[3], poly[5], poly[7])) AS x_max,
        | max(greatest(poly[2], poly[4], poly[6], poly[8])) AS y_max
        |FROM read_parquet('${graft.sources.Annotations.sideTable(sfDir, nAnn)}/*.parquet')
        |GROUP BY img ORDER BY img""".stripMargin,
    "dd5_dedup_embedding" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        | round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.35
        |ORDER BY 1, 2""".stripMargin,
    "sim1_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, e.vec_id AS n_id,
        |    list_cosine_similarity(q.q_emb, e.embedding) AS cos
        |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT q_id, n_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
        |  FROM scored)
        |SELECT q_id, n_id, round(cos, 4) AS cos, rank
        |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    )
    // ctn3 is ctn1 by a different (big-eval-suite) plan shape — the answer,
    // and therefore the oracle SQL, is identical by construction
    base + ("ctn3_bloom_decontaminate" -> base("ctn1_decontaminate"))
  }
}
