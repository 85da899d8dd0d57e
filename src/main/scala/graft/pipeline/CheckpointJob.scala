package graft.pipeline

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.{Doc, ExtractedDoc, Media}
import graft.sources.Tables
import graft.table.{Manifest, RangeEntry, Snapshot}

/** Checkpointed extraction over explicit doc_id ranges: each range is an
  * independently committed unit with lineage + metrics recorded in the
  * snapshot manifest, so a killed run resumes exactly at the first
  * uncommitted range (north rule). At cluster scale each range is a
  * partition-pruned slice of the range-partitioned input table, so resuming
  * re-reads only pending ranges.
  *
  * Usage:
  *   CheckpointJob run <docsDir> <mediaDir> <tableRoot> <nRanges> [failAfter]
  *     (failAfter: test hook — abort after k committed ranges to exercise resume)
  *   CheckpointJob status <tableRoot>
  */
object CheckpointJob {

  /** Sample range boundaries from the docs table WITHOUT a global sort:
    * a seeded Bernoulli sample of doc_ids (one scan, no shuffle) is sorted on
    * the driver and cut at even quantiles — exactly Spark's own
    * RangePartitioner scheme, persisted so every resume sees identical
    * ranges. Round 2 sorted + zipWithIndex'ed the FULL table just to pick
    * nRanges-1 cut points — a complete table sort before extraction begins,
    * a genuine scale-killer at 10^12 docs. The sample targets ~`samplePerRange`
    * ids per range (driver memory O(nRanges * samplePerRange) strings); the
    * cut points are approximate quantiles, which only skews range SIZES a few
    * percent — correctness never depends on where the cuts land because
    * ranges partition the id space exactly.
    */
  def sampleBoundaries(docs: Dataset[Doc], nRanges: Int, samplePerRange: Int = 100)(
      implicit spark: SparkSession): Seq[String] = {
    import spark.implicits._
    if (nRanges <= 1) return Seq.empty
    val ids = docs.select($"doc_id").as[String]
    val n = ids.count() // one columnar count; parquet answers from metadata
    if (n == 0) return Seq.empty
    val targetSample = math.min(n, nRanges.toLong * samplePerRange).toDouble
    val fraction = math.min(1.0, targetSample / n)
    // seeded sample → deterministic boundaries for a given input (resume
    // re-derives identical cuts even if the manifest were lost)
    val sample = ids.sample(withReplacement = false, fraction, seed = 42L)
      .collect().sorted
    if (sample.isEmpty) return Seq.empty
    (1 until nRanges)
      .map(r => sample(((r.toLong * sample.length) / nRanges).toInt.min(sample.length - 1)))
      .distinct
  }

  /** @param pruneMediaByRef media_ref embeds its doc_id as `m-<doc_id>-<k>`
    *   (GenData convention), so each range's media scan can carry a pushed
    *   `media_ref` range predicate instead of re-scanning the full media
    *   table per range — at 1000 ranges over 100 TB that is the difference
    *   between reading the media table once and 1000 times. Sound whenever
    *   doc_ids contain no character ordered below '-' (true for the
    *   fixed-width `doc-%09d` ids); disable for exotic id alphabets.
    */
  def runCheckpointed(docs: Dataset[Doc], media: Dataset[Media], tableRoot: String,
                      nRanges: Int, docsDirLineage: String, failAfter: Int = Int.MaxValue,
                      pruneMediaByRef: Boolean = true)(
      implicit spark: SparkSession): Snapshot = {
    val prior = Manifest.latest(tableRoot)
    val boundaries = prior.map(_.boundaries).getOrElse(sampleBoundaries(docs, nRanges))
    val done = prior.map(_.completed).getOrElse(Seq.empty)
    var snapshot = prior.getOrElse(Snapshot(0, boundaries, Seq.empty))
    val total = boundaries.length + 1
    val pending = (0 until total).filterNot(snapshot.completedIds.contains)
    var committed = 0
    pending.foreach { r =>
      if (committed >= failAfter) throw new RuntimeException(s"[test-hook] aborting after $failAfter ranges")
      val lower = if (r == 0) "" else boundaries(r - 1)
      val upper = if (r == total - 1) "" else boundaries(r)
      val inRange = {
        var d = docs
        if (lower.nonEmpty) d = d.where(col("doc_id") >= lower)
        if (upper.nonEmpty) d = d.where(col("doc_id") < upper)
        d
      }
      val mediaInRange = if (pruneMediaByRef) prunedMedia(media, lower, upper) else media
      val t0 = System.nanoTime()
      val outPath = s"$tableRoot/range=$r"
      val (out, corrupt) = Extract.runWithMetrics(inRange, mediaInRange)
      out.write.mode(SaveMode.Overwrite).parquet(outPath)
      val wall = (System.nanoTime() - t0) / 1e9
      val written = Tables.parquet(spark, outPath)
      val rows = written.count()
      val spans = written.select(sum(size(col("spans")))).head().getLong(0)
      val entry = RangeEntry(r, lower, upper, s"range=$r", rows, spans, wall, corrupt.value,
        s"$docsDirLineage WHERE doc_id in [${if (lower.isEmpty) "-inf" else lower}, ${if (upper.isEmpty) "+inf" else upper})")
      snapshot = Snapshot(snapshot.version + 1, boundaries, snapshot.completed :+ entry)
      Manifest.write(tableRoot, snapshot) // atomic commit per range
      committed += 1
    }
    snapshot
  }

  /** Range predicate on the media table derived from a doc_id range via the
    * `m-<doc_id>-<k>` embedding — lands in the parquet scan as a pushed
    * string-range filter (asserted in CheckpointSpec).
    */
  private[pipeline] def prunedMedia(media: Dataset[Media], lower: String, upper: String): Dataset[Media] = {
    var m = media
    if (lower.nonEmpty) m = m.where(col("media_ref") >= s"m-$lower")
    if (upper.nonEmpty) m = m.where(col("media_ref") < s"m-$upper")
    m
  }

  /** Read the committed table; `version` selects a historical snapshot
    * (time travel over the manifest log), default latest.
    */
  def readTable(tableRoot: String, version: Int = Int.MaxValue)(
      implicit spark: SparkSession): Dataset[ExtractedDoc] = {
    import spark.implicits._
    val snap =
      if (version == Int.MaxValue)
        Manifest.latest(tableRoot).getOrElse(sys.error(s"no snapshot under $tableRoot"))
      else
        Manifest.read(Manifest.snapshotDir(tableRoot).resolve(s"v$version.json"))
    val paths = snap.completed.map(e => s"$tableRoot/${e.path}")
    Tables.parquet(spark, paths: _*).as[ExtractedDoc]
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: docsDir :: mediaDir :: tableRoot :: nRangesS :: rest =>
      val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-checkpoint")
      implicit val s: SparkSession = spark
      import spark.implicits._
      spark.sparkContext.setLogLevel("WARN")
      val failAfter = rest.headOption.map(_.toInt).getOrElse(Int.MaxValue)
      val docs = Tables.parquet(spark, docsDir).as[Doc]
      val media = Tables.parquet(spark, mediaDir).as[Media]
      val snap = runCheckpointed(docs, media, tableRoot, nRangesS.toInt, docsDir, failAfter)
      println(s"[checkpoint] version=${snap.version} ranges=${snap.completed.size} " +
        s"rows=${snap.completed.map(_.rows).sum} spans=${snap.completed.map(_.spans).sum}")
      spark.stop()
    case "status" :: tableRoot :: Nil =>
      Manifest.latest(tableRoot) match {
        case None => println("[checkpoint] no snapshot")
        case Some(snap) =>
          println(s"[checkpoint] version=${snap.version} ranges=${snap.completed.size}/${snap.boundaries.length + 1}")
          snap.completed.sortBy(_.rangeId).foreach { e =>
            println(f"[checkpoint]   range=${e.rangeId}%3d [${e.lower},${e.upper}) rows=${e.rows}%8d spans=${e.spans}%9d corrupt=${e.corruptPayloads}%4d wall=${e.wallSecs}%7.2fs")
          }
      }
    case other =>
      System.err.println(s"usage: CheckpointJob run <docsDir> <mediaDir> <tableRoot> <nRanges> [failAfter] | status <tableRoot> (got $other)")
      sys.exit(2)
  }
}
