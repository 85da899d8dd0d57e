package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One completed doc_id range: lineage + extraction metrics
  * (north rule: "Iceberg-snapshot checkpoints that record per-partition
  * lineage and extraction metrics so any failed run resumes exactly where it
  * stopped"). No Iceberg runtime jar ships in this environment (offline
  * coursier), so this thin manifest layer reproduces the snapshot semantics
  * over plain parquet range-partitions; a real iceberg-spark-runtime could
  * replace DocTable without touching the pipeline.
  */
final case class RangeEntry(
    rangeId: Int,
    lower: String,    // inclusive doc_id lower bound ("" = open)
    upper: String,    // exclusive doc_id upper bound ("" = open)
    path: String,     // partition directory relative to table root
    rows: Long,
    spans: Long,
    wallSecs: Double,
    // Media spans whose payload was missing or corrupt. BEST-EFFORT: sourced
    // from a LongAccumulator incremented inside mapPartitions, which Spark
    // re-counts under task retries / speculative execution, so this can
    // over-count under failures. Treat as an operational signal; an exact
    // count would require flagging dropped pieces in the written output.
    corruptPayloads: Long,
    inputDocs: String // lineage: input table path + predicate
)

/** Snapshot manifest: boundaries + completed ranges. Written atomically as
  * snapshots/v{n}.json (temp file + move); the latest version wins on read.
  */
final case class Snapshot(version: Int, boundaries: Seq[String], completed: Seq[RangeEntry]) {
  def completedIds: Set[Int] = completed.map(_.rangeId).toSet
}

object Manifest {

  /** JSON codec for [[Snapshot]]: the case-class fields in declaration
    * order, the shape every manifest has been written in.
    */
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def snapshotDir(root: String): Path = Paths.get(root, "snapshots")

  def latest(root: String): Option[Snapshot] = {
    val dir = snapshotDir(root)
    if (!Files.isDirectory(dir)) return None
    val versions = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt
      }
      .toSeq
    if (versions.isEmpty) None
    else Some(read(dir.resolve(s"v${versions.max}.json")))
  }

  def write(root: String, s: Snapshot): Unit = {
    val dir = snapshotDir(root)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".v${s.version}.json.tmp")
    Files.write(tmp, json.writeValueAsBytes(s))
    Files.move(tmp, dir.resolve(s"v${s.version}.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def read(p: Path): Snapshot = json.readValue(p.toFile, classOf[Snapshot])

  /** Range id for a doc_id given sorted boundaries (rangeId i covers
    * [boundaries(i-1), boundaries(i)), lexicographic).
    */
  def rangeOf(boundaries: Seq[String], docId: String): Int = {
    var lo = 0
    var hi = boundaries.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (docId >= boundaries(mid)) lo = mid + 1 else hi = mid
    }
    lo
  }
}
