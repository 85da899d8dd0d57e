package graft.operators

import graft.SparkSpec

/** Physical-plan assertions: the 100 TB story depends on filters/projections
  * reaching the parquet scan and small dims being broadcast, so regressions
  * here are performance bugs even when results stay correct.
  */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("shipdate filter is pushed into the parquet scan and columns pruned") {
    val p = plan(RelationalOps.shipdateFilter(spark, sf))
    assert(p.contains("PushedFilters:") && p.contains("l_quantity"), p.take(2000))
    // projection must not read all 11 lineitem columns
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_extendedprice") && !read.contains("l_returnflag"),
      s"scan reads pruned columns: $read")
  }

  test("market revenue uses a broadcast join for the customer dim") {
    val p = plan(RelationalOps.marketRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("priority heavy orders uses a semi join") {
    val p = plan(RelationalOps.priorityHeavyOrders(spark, sf))
    assert(p.contains("LeftSemi"), p.take(2000))
  }

  test("pricing agg uses partial aggregation (map-side combine)") {
    val p = plan(RelationalOps.pricingAgg(spark, sf))
    assert(p.contains("HashAggregate") && p.contains("partial_"), p.take(2000))
  }

  test("no CartesianProduct in any headline query plan") {
    // an accidental cartesian is the canonical 100x-scale killer; the only
    // sanctioned nested-loop shape is a broadcast of a <=NumQueries-row side
    // (sim1's non-equi query join)
    graft.Bench.headline.foreach { name =>
      val p = plan(graft.SparkEntry.queries(name)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n${p.take(1500)}")
    }
  }

  test("block-pair embedding dedup shuffles once and never broadcasts the table") {
    val df = SimilarityOps.dedupEmbedding(spark, sf)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("MapGroups"), "block-pair groups missing")
  }

  test("quality filter's only exchange is the presentation sort") {
    // the filter stage of a 100 TB pipeline must be a pure map: any DATA
    // shuffle (hash/round-robin exchange) creeping in is a regression; the
    // single rangepartitioning exchange serves the deterministic output order
    val p = plan(TextOps.qualityFilter(spark, sf))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("rangepartitioning")),
      s"qf1 gained a data shuffle:\n${exchanges.mkString("\n")}")
    assert(!p.contains("HashAggregate") && !p.contains("SortMergeJoin"), p.take(1500))
  }

  test("event funnel pays exactly one hash exchange") {
    // both windows and the partial+final agg must share the user_id
    // partitioning; a second hashpartitioning exchange means the plan
    // re-shuffled between window and aggregate
    // count Exchange NODES with hashpartitioning, not raw substring hits:
    // AQE / exchange reuse can print the same partitioning on extra lines
    // (AQEShuffleRead, ReusedExchange) without adding a shuffle
    val p = plan(RelationalOps.eventFunnel(spark, sf))
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange") && l.contains("hashpartitioning")
        && !l.contains("ReusedExchange"))
    assert(hashEx == 1, s"ev4 has $hashEx hash exchanges (want 1):\n${p.take(2000)}")
  }

  test("training prep pays exactly one hash exchange and never re-joins the corpus") {
    // quality rules + langid + md5 are map-side; the exact-dedup aggregate
    // is the only data shuffle. A join anywhere means flags were re-joined
    // onto the source — a second corpus scan the 100 TB plan must not pay.
    val p = plan(TextOps.trainingPrep(spark, sf))
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange") && l.contains("hashpartitioning")
        && !l.contains("ReusedExchange"))
    assert(hashEx == 1, s"pipe1 has $hashEx hash exchanges (want 1):\n${p.take(2000)}")
    assert(!p.contains("Join"), s"pipe1 gained a join:\n${p.take(2000)}")
    assert(p.contains("partial"), "aggregate must combine map-side (partial agg)")
    // the keeper stats must ride HashAggregate — a string min in the agg
    // list silently degrades to SortAggregate (a map-side sort per
    // partition), which is why pipe1 carries the language as an int index
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"pipe1 aggregate degraded:\n${p.take(2000)}")
  }

  test("source stats pays two hash exchanges, both HashAggregate, no join") {
    // the domain rollup must be the two-level shape: (source, md5) pre-agg
    // on the high-cardinality compound key, then the tiny per-source pass —
    // a direct groupBy(source) with countDistinct would add an Expand +
    // third exchange, and any Join means per-doc signals were re-joined
    // instead of riding the first aggregate
    val p = plan(DomainOps.sourceStats(spark, sf))
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange") && l.contains("hashpartitioning")
        && !l.contains("ReusedExchange"))
    assert(hashEx == 2, s"ds1 has $hashEx hash exchanges (want 2):\n${p.take(2000)}")
    assert(!p.contains("Join"), s"ds1 gained a join:\n${p.take(2000)}")
    assert(!p.contains("Expand"), s"ds1 gained a countDistinct Expand:\n${p.take(2000)}")
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"ds1 aggregate degraded (string min in agg list?):\n${p.take(2000)}")
  }

  test("mix plan evaluates ds1's rollup exactly once") {
    // ds3 = ds1's two-level rollup + an unpartitioned window over the tiny
    // per-source frame. A filter-then-join-back (or any second branch over
    // the stats) re-runs the whole corpus rollup: it shows up as a second
    // parquet scan and two extra hash exchanges (regressed once already —
    // scaladoc note at DomainOps.mixPlanOf)
    val p = plan(DomainOps.mixPlan(spark, sf))
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange") && l.contains("hashpartitioning")
        && !l.contains("ReusedExchange"))
    val scans = p.linesIterator.count(l => l.contains("Scan parquet") || l.contains("FileScan parquet"))
    assert(hashEx == 2, s"ds3 has $hashEx hash exchanges (want ds1's 2):\n${p.take(2500)}")
    assert(scans == 1, s"ds3 scans documents $scans times (want 1):\n${p.take(2500)}")
  }

  test("mix apply broadcasts the plan and scans the corpus for one extra pass") {
    // ds4 = ds3 (2 hash exchanges, 1 scan) + ONE broadcast of the per-source
    // rates into a second corpus pass + ONE map-side-combined groupBy(source)
    val p = plan(DomainOps.applyMix(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"ds4 lost the broadcast:\n${p.take(2500)}")
    assert(!p.contains("SortMergeJoin"), s"ds4 shuffles the corpus for the join:\n${p.take(2500)}")
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange") && l.contains("hashpartitioning")
        && !l.contains("ReusedExchange"))
    val scans = p.linesIterator.count(l => l.contains("Scan parquet") || l.contains("FileScan parquet"))
    assert(hashEx == 3, s"ds4 has $hashEx hash exchanges (want 3):\n${p.take(2500)}")
    assert(scans == 2, s"ds4 scans documents $scans times (want 2):\n${p.take(2500)}")
  }

  test("decontamination broadcasts the eval grams; corpus never shuffles for the join") {
    // the eval suite is tiny by construction — if the gram join ever becomes
    // a SortMergeJoin, the full training corpus pays a gram-keyed shuffle
    val p = plan(ContaminationOps.decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"ctn1 lost the broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), s"ctn1 shuffles the corpus for the join:\n${p.take(2000)}")
  }

  test("pipe4: the full recipe composes without a corpus shuffle-join") {
    // six stages in one plan: joins must all be broadcast (contaminated ids,
    // rates, bucket offsets, the 1-row min crossed in); the only
    // SinglePartition exchanges are pack1's bucket sums and the 1-row
    // aggregates — never the corpus
    val p = plan(PipelineOps.trainingCorpus(spark, sf))
    assert(!p.contains("CartesianProduct"), s"pipe4 gained a cartesian:\n${p.take(2500)}")
    assert(!p.contains("SortMergeJoin"), s"pipe4 shuffles the corpus for a join:\n${p.take(2500)}")
    assert(p.contains("BroadcastHashJoin"), s"pipe4 lost its broadcasts:\n${p.take(2500)}")
    val single = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(single <= 2,
      s"pipe4 has $single SinglePartition exchanges (want <=2, bucket sums + 1-row min):\n${p.take(3000)}")
  }

  test("phash banded pairs: bucket equi-join on the band key, never all-pairs") {
    val p = plan(MultimodalOps.imagePhashBandedPairs(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"mm7 degenerated to all-pairs:\n${p.take(2500)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"mm7 lost the band equi-join:\n${p.take(2500)}")
  }

  test("bloom decontamination: shuffled exact verify, eval grams never broadcast") {
    // ctn3 exists to be ctn1's plan when the eval side CANNOT broadcast: the
    // verify join must be a shuffled hash join, the only broadcast is the
    // tiny verified-hits back-join, and the bloom prefilter must sit in the
    // plan (codegen predicate) ahead of it
    val p = plan(ContaminationOps.decontaminateBloom(spark, sf))
    assert(p.contains("ShuffledHashJoin"), s"ctn3 verify join must be shuffled:\n${p.take(2500)}")
    val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj == 1, s"ctn3 wants exactly 1 broadcast (hits back-join), got $bhj:\n${p.take(2500)}")
    assert(p.contains("invoke(graft.expr.LongBloom@"), s"ctn3 lost the bloom prefilter:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct"), s"ctn3 gained a cartesian:\n${p.take(2500)}")
  }

  test("sequence packing never windows the corpus through a single partition") {
    // the corpus-side window must be partitioned by bucket; the only
    // SinglePartition exchange allowed is the tiny bucket-sums side
    val p = plan(PackingOps.sequenceOffsets(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"pack1 lost the broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), s"pack1 shuffles the corpus for the join:\n${p.take(2000)}")
    val single = p.linesIterator.count(l => l.contains("Exchange SinglePartition"))
    assert(single <= 1, s"pack1 has $single SinglePartition exchanges (want <=1, bucket sums only):\n${p.take(2500)}")
    assert(p.contains("hashpartitioning"), "corpus window must partition by bucket")
  }

  test("length percentiles ride the histogram: two hash exchanges, no join, no sort-agg") {
    // ds5 must aggregate to the (source, n_tokens) histogram FIRST (high-
    // cardinality key, map-side combined) and only then window/rollup the
    // tiny per-source frame — a per-source sort or percentile over raw docs
    // would shuffle the corpus into low-cardinality source partitions
    val p = plan(DomainOps.lengthPercentiles(spark, sf))
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange") && l.contains("hashpartitioning")
        && !l.contains("ReusedExchange"))
    val scans = p.linesIterator.count(l => l.contains("Scan parquet") || l.contains("FileScan parquet"))
    assert(hashEx == 2, s"ds5 has $hashEx hash exchanges (want 2: histogram + source window):\n${p.take(2500)}")
    assert(scans == 1, s"ds5 scans documents $scans times (want 1):\n${p.take(2500)}")
    assert(!p.contains("Join"), s"ds5 gained a join:\n${p.take(2500)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"ds5 funnels through a single partition:\n${p.take(2500)}")
  }

  test("sequence manifest keeps pack1's shape: one SinglePartition, broadcast join only") {
    // pack2 = pack1's two-level prefix sum + a linear explode + one
    // map-side-combined groupBy(seq_id); the only SinglePartition exchange
    // is still the tiny bucket-sums window
    val p = plan(PackingOps.sequenceManifest(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"pack2 lost the bucket-offset broadcast:\n${p.take(2500)}")
    assert(!p.contains("SortMergeJoin"), s"pack2 shuffles the corpus for the join:\n${p.take(2500)}")
    val single = p.linesIterator.count(l => l.contains("Exchange SinglePartition"))
    assert(single <= 1, s"pack2 has $single SinglePartition exchanges (want <=1):\n${p.take(2500)}")
    assert(p.contains("Generate"), "pack2 must expand (doc, seq) rows via a Generate")
  }

  test("eval contamination joins only via broadcast; the training corpus never shuffles for grams") {
    // every join side in ctn2 is eval-bounded (distinct eval grams, the
    // gram->eval-doc map, the per-eval-doc hit rollup) — a SortMergeJoin
    // anywhere means corpus-scale gram rows paid a join shuffle
    val p = plan(ContaminationOps.evalContamination(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"ctn2 lost the broadcasts:\n${p.take(2500)}")
    assert(!p.contains("SortMergeJoin"), s"ctn2 shuffles for a join:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct"), s"ctn2 gained a cartesian:\n${p.take(2500)}")
  }

  test("top terms never re-scan the corpus: all rollups ride the checkpointed histogram") {
    // vocab1's three rollups + top-K window all consume the ONE
    // localCheckpoint'ed (source, term) frame — a FileScan in the final plan
    // means a consumer re-derived it from parquet
    val p = plan(VocabOps.topTerms(spark, sf))
    val scans = p.linesIterator.count(l => l.contains("Scan parquet") || l.contains("FileScan parquet"))
    assert(scans == 0, s"vocab1 re-scans the corpus $scans times (want 0, checkpoint only):\n${p.take(2500)}")
    assert(!p.contains("SortMergeJoin"), s"vocab1 shuffles a tiny frame for a join:\n${p.take(2500)}")
    assert(p.contains("BroadcastHashJoin"), s"vocab1 lost its broadcasts:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct"), s"vocab1 gained a cartesian:\n${p.take(2500)}")
  }

  test("unigram logprob is two pruned passes: broadcast model, no doc_id join") {
    // lm1 = fit pass (runs at checkpoint time) + score pass + the zero-token
    // union branch: exactly 2 FileScans in the final plan, the model joins by
    // broadcast, and totality comes from a union — never a corpus-scale
    // doc_id SortMergeJoin
    val p = plan(VocabOps.unigramLogprob(spark, sf))
    val scans = p.linesIterator.count(l => l.contains("Scan parquet") || l.contains("FileScan parquet"))
    assert(scans == 2, s"lm1 has $scans FileScans (want 2: score pass + empty branch):\n${p.take(2500)}")
    assert(p.contains("BroadcastHashJoin"), s"lm1 lost the model broadcast:\n${p.take(2500)}")
    assert(!p.contains("SortMergeJoin"), s"lm1 shuffles the corpus for a join:\n${p.take(2500)}")
    val single = p.linesIterator.count(l => l.contains("Exchange SinglePartition"))
    assert(single <= 1, s"lm1 has $single SinglePartition exchanges (want <=1, the 1-row T+V agg):\n${p.take(2500)}")
  }

  test("phash dedup verdict is one window over the phash key, no join") {
    // mm6 = decode+hash in mapPartitions, then n_same/keeper/is_dup from a
    // single window partitioned by the high-cardinality phash — one hash
    // exchange, never a self-join back to the rows
    val p = plan(MultimodalOps.imagePhashDupes(spark, sf))
    assert(!p.contains("Join"), s"mm6 gained a join:\n${p.take(2500)}")
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange") && l.contains("hashpartitioning")
        && !l.contains("ReusedExchange"))
    assert(hashEx == 1, s"mm6 has $hashEx hash exchanges (want 1: the phash window):\n${p.take(2500)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"mm6 funnels through a single partition:\n${p.take(2500)}")
  }

  test("cut-dup-spans tokenizes the corpus once (checkpointed, zero re-scans)") {
    // pipe2's three consumers (gram-df branch, gram-positions branch, cut
    // join's corpus side) prune different columns, so lazy sharing re-scans
    // and re-tokenizes per branch (3 FileScans before the fix). The tokens
    // are now localCheckpoint-materialized once: the final plan must read
    // ONLY the checkpoint — any parquet scan means a branch escaped it
    val df = DedupOps.cutDupSpans(spark, sf)
    df.collect() // AQE finalizes the physical plan
    val p = plan(df)
    val scanLines = p.linesIterator.filter(l => l.contains("Scan parquet") || l.contains("FileScan parquet")).toSeq
    assert(scanLines.isEmpty,
      s"pipe2 re-scans documents ${scanLines.length} times past the checkpoint:\n${scanLines.map(_.trim.take(220)).mkString("\n")}")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"pipe2 lost the checkpointed token source:\n${p.take(1500)}")
  }

  test("token count stays inside whole-stage codegen") {
    val df = TextOps.tokenCount(spark, sf)
    df.collect() // materialize so AQE finalizes the physical plan
    val p = plan(df)
    // codegen stages render as "*(n)" in the simple plan string
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p.take(2000))
  }
}
