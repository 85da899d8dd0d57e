package graft

import org.apache.spark.sql.SparkSession

/** Shared session factory so every entry point (jobs, bench, verify, tests)
  * runs with the same tuned configuration.
  */
object Sessions {

  /** Standard tuned builder.
    *
    * `spark.file.transferTo=false` matters a lot on this box: the bypass-merge
    * shuffle writer concatenates per-partition files with
    * FileChannel.transferTo, which mmaps/munmaps each chunk; at 32 task
    * threads the munmap TLB shootdowns serialize the whole process (observed
    * 20x task-CPU inflation under local[32], threads stuck in
    * FileChannelImpl.map0/unmap0). A plain streamed copy avoids the mmap
    * churn entirely and costs nothing at these block sizes.
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE's coalesce floor stays at its 1 MB default. A 64 KB floor was
      // measured both ways this round: it parallelized CPU-dense
      // post-shuffle stages that byte-based coalescing had serialized
      // (dd3's interpreted per-pair verify, ~2.4 s), but taxed the
      // many-tiny-job iterative queries ~3-5x more tasks per sub-second
      // stage (sim5 +2 s, reproducibly). The CPU-dense stages were instead
      // fixed structurally — native expressions + map-side partials — so no
      // config knob has to trade one query against another.
      .config("spark.sql.session.timeZone", "UTC")
      // unfiltered count()/min/max over parquet read row-group METADATA
      // instead of scanning rows (off by default): value-identical, and at
      // 100 TB a metadata count is the difference between a footer read and
      // a full corpus scan. ExtractJob's written-row counts take that path.
      // Side-table keys take n from the scale factor, never from a count;
      // ctn3's bloom sizing count runs over a checkpointed frame, not a
      // parquet scan.
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.file.transferTo", "false")
      // Compiled whole-stage and expression classes live in one JVM-wide
      // cache that Spark sizes once, when its CodeGenerator first loads, so
      // this static conf has to be set before any query plans. Its default,
      // 100 entries, is below the engine's working set: the 4 perfbench
      // `queries` compile 100 classes per pass, one pass of the 63 Verify
      // queries 814 at sf0.01 and 831 at sf0.1 (graft.SuiteProbe, 4-core
      // host). At 100 every warm pass evicted classes and compiled them
      // again (59 per `queries` pass, ~1035 per sf0.01 suite round), and
      // HotSpot JIT-compiled each fresh class anew. At 2048 a warm pass
      // compiles nothing once each query's class variants have been seen
      // (CodegenGuardSpec); a warm sf0.01 suite round fell from 17.7-19.7 s
      // to 12.3-14.9 s. Peak metaspace did not rise: 178 -> 176 MB over one
      // suite round, 199 -> 183 MB over five (no evicted classes to reload).
      .config("spark.sql.codegen.cache.maxEntries", "2048")

  /** A `local[cpus]` session with the tuned configuration. The engine's
    * native Columns (graft.expr.Native) need no per-session setup, so this
    * only builds the session.
    */
  def local(cpus: Int, app: String = "graft"): SparkSession =
    builder(s"local[$cpus]", cpus).appName(app).getOrCreate()
}
