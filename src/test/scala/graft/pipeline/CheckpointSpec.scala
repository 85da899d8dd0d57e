package graft.pipeline

import java.nio.file.Files
import graft.SparkSpec
import graft.table.{Manifest, Snapshot}

/** Resume semantics: a killed checkpointed run must restart at the first
  * uncommitted range and produce exactly the single-shot result.
  */
class CheckpointSpec extends SparkSpec {

  test("rangeOf assigns by lexicographic boundaries") {
    val b = Seq("doc-000000100", "doc-000000200")
    assert(Manifest.rangeOf(b, "doc-000000000") == 0)
    assert(Manifest.rangeOf(b, "doc-000000100") == 1) // lower bound inclusive
    assert(Manifest.rangeOf(b, "doc-000000150") == 1)
    assert(Manifest.rangeOf(b, "doc-000000999") == 2)
  }

  test("manifest round-trips through json including escapes") {
    val dir = Files.createTempDirectory("graft-manifest").toString
    val snap = Snapshot(3, Seq("doc-a", "doc-\"b\"\n"),
      Seq(graft.table.RangeEntry(0, "", "doc-a", "range=0", 10, 42, 1.5, 2, "in\tput")))
    Manifest.write(dir, snap)
    assert(Manifest.latest(dir).contains(snap))
    // higher version wins
    Manifest.write(dir, snap.copy(version = 4))
    assert(Manifest.latest(dir).get.version == 4)
  }

  test("boundaries containing brackets survive the round-trip (resume safety)") {
    // boundaries are REAL doc_ids sampled from input data: a ']' inside one
    // used to terminate a non-greedy array regex early and silently truncate
    // the parsed boundary list, corrupting resume ranges
    val dir = Files.createTempDirectory("graft-manifest-br").toString
    val nasty = Seq("doc-[0]", "doc-]]", "doc-\\]\"", "doc-plain")
    val snap = Snapshot(1, nasty,
      Seq(graft.table.RangeEntry(0, "doc-[0]", "doc-]]", "range=0", 1, 1, 0.1, 0, "in[1]")))
    Manifest.write(dir, snap)
    val back = Manifest.latest(dir).get
    assert(back == snap, s"got $back")
    assert(back.boundaries == nasty)
  }

  test("a manifest written by the hand-rolled JSON writer still resumes") {
    // v7.json byte for byte as the writer before the Jackson codec rendered
    // it (escaped quotes, backslashes, newlines, tabs and other control
    // characters; doubles via Double.toString), so tables committed before
    // the codec change resume
    val dir = Files.createTempDirectory("graft-manifest-old").toString
    Files.createDirectories(Manifest.snapshotDir(dir))
    val body =
      """{"version":7,"boundaries":["doc-[0]","doc-\"b\"\n","doc-\\]"],"completed":[""" +
        """{"rangeId":0,"lower":"","upper":"doc-[0]","path":"range=0","rows":10,"spans":42,""" +
        """"wallSecs":1.5,"corruptPayloads":2,"inputDocs":"in\tput"},""" +
        """{"rangeId":2,"lower":"doc-\"b\"\n","upper":"doc-\\]","path":"range=2","rows":0,""" +
        """"spans":0,"wallSecs":1.0E-4,"corruptPayloads":0,"inputDocs":"ctl""" + "\\u0001" + """"}]}"""
    Files.write(Manifest.snapshotDir(dir).resolve("v7.json"), body.getBytes("UTF-8"))
    val expected = Snapshot(7, Seq("doc-[0]", "doc-\"b\"\n", "doc-\\]"), Seq(
      graft.table.RangeEntry(0, "", "doc-[0]", "range=0", 10, 42, 1.5, 2, "in\tput"),
      graft.table.RangeEntry(2, "doc-\"b\"\n", "doc-\\]", "range=2", 0, 0, 1.0e-4, 0, "ctl\u0001")))
    assert(Manifest.latest(dir).contains(expected))
    assert(Manifest.latest(dir).get.completedIds == Set(0, 2))
  }

  test("per-range media scan carries a pushed media_ref range filter") {
    implicit val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-prune").toString
    val (_, media) = Extract.generate(50)
    media.write.parquet(s"$base/media")
    val mediaDs = spark.read.parquet(s"$base/media").as[graft.schema.Media]
    val pruned = CheckpointJob.prunedMedia(mediaDs, "doc-000000010", "doc-000000020")
    val plan = pruned.queryExecution.executedPlan.toString
    // PushedFilters is elided in toString; DataFilters shows the full pushed set
    assert(plan.contains("PushedFilters: [IsNotNull(media_ref), GreaterThanOrEqual(media_ref,m-doc-000000010)") &&
      plan.contains("(media_ref#") && plan.contains(">= m-doc-000000010") &&
      plan.contains("< m-doc-000000020"),
      s"media range filter not pushed to the scan:\n$plan")
    // the predicate keeps exactly the docs in [lower, upper)
    val ids = pruned.collect().map(_.media_ref).toSeq
    assert(ids.nonEmpty && ids.forall { r =>
      val doc = r.stripPrefix("m-").take("doc-000000010".length)
      doc >= "doc-000000010" && doc < "doc-000000020"
    })
  }

  test("sampleBoundaries: no global sort, deterministic, ordered, covers the id space") {
    implicit val s = spark
    import s.implicits._
    val (docs, _) = Extract.generate(500)
    val shuffled = docs.repartition(7) // scrambled partitioning, unsorted input
    val b1 = CheckpointJob.sampleBoundaries(shuffled, 8)
    val b2 = CheckpointJob.sampleBoundaries(shuffled, 8)
    assert(b1 == b2, "seeded sample must give identical boundaries across calls")
    assert(b1 == b1.sorted && b1.distinct == b1)
    assert(b1.size == 7)
    // sub-sampled path (fraction < 1): still ordered/deterministic
    val b3 = CheckpointJob.sampleBoundaries(shuffled, 4, samplePerRange = 20)
    assert(b3 == b3.sorted && b3.nonEmpty && b3.size <= 3)
    // every doc lands in a valid range
    val ids = docs.select($"doc_id").as[String].collect()
    assert(ids.forall(id => { val r = Manifest.rangeOf(b1, id); r >= 0 && r <= b1.size }))
    // the boundary job itself must not sort or index the full table: its plan
    // is scan -> sample -> collect (no Exchange, no Sort)
    val plan = docs.select($"doc_id").sample(withReplacement = false, 0.1, 42L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Sort") && !plan.contains("Exchange"),
      s"boundary sampling plan must be shuffle/sort-free:\n$plan")
  }

  test("killed run resumes at first uncommitted range; result equals single-shot") {
    implicit val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-ckpt").toString
    val (docs, media) = Extract.generate(200)
    docs.write.parquet(s"$base/docs")
    media.write.parquet(s"$base/media")
    val docsDs = spark.read.parquet(s"$base/docs").as[graft.schema.Doc]
    val mediaDs = spark.read.parquet(s"$base/media").as[graft.schema.Media]

    // killed after 2 committed ranges
    val boom = intercept[RuntimeException] {
      CheckpointJob.runCheckpointed(docsDs, mediaDs, s"$base/table", nRanges = 5,
        docsDirLineage = s"$base/docs", failAfter = 2)
    }
    assert(boom.getMessage.contains("test-hook"))
    val partial = Manifest.latest(s"$base/table").get
    assert(partial.completed.size == 2)
    assert(partial.boundaries.size == 4)

    // resume to completion
    val snap = CheckpointJob.runCheckpointed(docsDs, mediaDs, s"$base/table", nRanges = 5,
      docsDirLineage = s"$base/docs")
    assert(snap.completed.size == 5)
    assert(snap.boundaries == partial.boundaries, "resume must reuse recorded boundaries")
    assert(snap.completed.map(_.rows).sum == 200)
    assert(snap.completed.forall(_.spans >= 0) && snap.completed.map(_.spans).sum > 0)

    // committed table == single-shot extraction
    val fromTable = CheckpointJob.readTable(s"$base/table")
      .collect().map(d => d.doc_id -> d.spans).toMap
    val oneShot = Extract.run(docsDs, mediaDs)
      .collect().map(d => d.doc_id -> d.spans).toMap
    assert(fromTable == oneShot)

    // re-run is a no-op (nothing pending)
    val again = CheckpointJob.runCheckpointed(docsDs, mediaDs, s"$base/table", nRanges = 5,
      docsDirLineage = s"$base/docs")
    assert(again.version == snap.version)

    // time travel: version 2 sees exactly the first two committed ranges
    val v2 = CheckpointJob.readTable(s"$base/table", version = 2).count()
    assert(v2 == partial.completed.map(_.rows).sum)
    assert(v2 < 200)
  }
}
