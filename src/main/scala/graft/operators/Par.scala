package graft.operators

import org.apache.spark.sql.{Column, Dataset}

/** Parallelism guard for CPU-dense per-row stages (image decode, winnowing
  * fingerprints, HTML/PDF render+parse): when the upstream scan supplies
  * fewer input splits than the session has cores — the synthetic corpora
  * here are single small parquet files, hence ONE split — the whole stage
  * inherits single-task execution and 31 of 32 cores idle (measured: txt4
  * 31.4 s → 1.6 s, mm3 17.4 s → 1.1 s at sf0.1).
  *
  * `spread` repartitions to `defaultParallelism` ONLY in that case. At
  * production scale the guard is a no-op: a 100 TB input arrives in
  * thousands of splits, so no shuffle is ever added to a large scan —
  * exactly the property that makes an unconditional `repartition(n)` wrong
  * at 100× and a files.minPartitionNum hint useless here (a one-row-group
  * parquet file yields one non-empty task no matter how it is range-split).
  *
  * Callers must spread the NARROW INPUT (ids, raw text) and compute the
  * expensive projection downstream of the spread — `spread(d.select(heavy))`
  * evaluates `heavy` in the pre-shuffle map stage, i.e. on the single scan
  * task the guard exists to relieve (measured: ctn2's tokenize ran 2.9 s on
  * one task that way), and it shuffles the rendered payload instead of the
  * smaller source rows (guide rule: project early, but shuffle the narrow
  * form).
  */
object Par {
  def spread[T](ds: Dataset[T]): Dataset[T] = {
    val cores = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions < cores) ds.repartition(cores) else ds
  }

  /** Range-spread for map-only queries that end in a presentation sort:
    * range-partition on the SORT KEYS before the expensive per-row work and
    * let the caller finish with `sortWithinPartitions` on the same keys —
    * the concatenation of ascending range partitions, each locally sorted,
    * IS the total order, so the result is row-identical to a final
    * `orderBy`. Two wins over computing first and sorting last:
    *
    *  1. the global Sort's range sampling re-executes its child plan, so an
    *     expensive projection/kernel above the last exchange runs TWICE
    *     (measured: mm2's decode and txt3's 17 marker scans both doubled);
    *     here the sampler only scans the narrow pre-compute rows;
    *  2. the range exchange moves the narrow input rows, not the rendered
    *     output (shuffle fewer bytes, guide §2.3).
    *
    * One exchange either way — this REPLACES the orderBy's exchange rather
    * than adding one. The partition count is the session's
    * `spark.sql.shuffle.partitions` (the same knob a plain orderBy uses),
    * passed EXPLICITLY so AQE's byte-based coalescing cannot fold a tiny —
    * but CPU-dense — probe-scale input onto one task; at production sizes
    * the explicit count equals what the sort would have chosen anyway.
    *
    * Contract: rows and their order are deterministic. Part-file boundaries
    * are not: `RangePartitioner` seeds its sample with the RDD id, so once
    * the input outgrows the sample the range bounds depend on how many RDDs
    * the session built before. Compare outputs by rows and order, not bytes.
    */
  def rangeSpread[T](ds: Dataset[T], keys: Column*): Dataset[T] = {
    val n = ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    ds.repartitionByRange(n, keys: _*)
  }
}
