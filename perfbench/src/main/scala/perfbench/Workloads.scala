package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.pipeline.{CheckpointJob, Extract, Oracle}
import graft.schema.{Doc, Media}
import graft.table.Snapshot

/** One operation the closed-loop client issued and waited for. */
final case class Op(name: String, seconds: Double, ok: Boolean)

/** What a workload needs from the run around it. */
final class Ctx(val seed: Long, val cache: String, val runDir: String, val stamp: String, val trace: Trace) {
  def log(line: String): Unit = println(s"[perfbench] $line")

  /** Runs `f` as operation `op`: its Spark jobs carry the op label for the
    * ledger and its call is a span named `span`. A throw fails the op.
    */
  def op(spark: SparkSession, op: String, span: String)(f: => Unit): Op = {
    spark.sparkContext.setLocalProperty(Ledger.OpKey, op)
    val t0 = System.nanoTime()
    val ok =
      try { trace(span)(f); true }
      catch { case NonFatal(e) => log(s"op $op failed: $e"); false }
      finally spark.sparkContext.setLocalProperty(Ledger.OpKey, null)
    Op(op, (System.nanoTime() - t0) / 1e9, ok)
  }
}

/** Workload-specific layer readings a traced run adds to its record. */
final case class LayerProbe(ops: Seq[Op], wrong: Seq[String], lines: Seq[String])

/** A workload: the inputs it loads and the operations of one pass. */
trait Workload {
  def name: String
  /** Passes run in setup before timing starts, fixed so that set-up does the
    * same work on every run.
    */
  def warmPasses: Int
  def minPasses: Int
  /** True when the inputs and oracle results `prepare` makes are on disk. */
  def prepared: Boolean
  /** Generates inputs, side tables and oracle results, in a JVM of its own so
    * that the measured JVM starts equally cold on every run.
    */
  def prepare(spark: SparkSession): Unit
  /** Opens the inputs; part of setup_s. */
  def open(spark: SparkSession): Unit
  def warm(spark: SparkSession, i: Int): Unit = pass(spark, s"warm$i"): Unit
  def pass(spark: SparkSession, tag: String): Seq[Op]
  /** Untimed check of the pass just run: the names of its ops whose output is wrong. */
  def check(spark: SparkSession, ops: Seq[Op]): Seq[String]
  /** Negative control: whether the check flags an output with one span
    * dropped; None when run.py makes the control instead.
    */
  def selfTest(spark: SparkSession): Option[Boolean]
  /** Fingerprint of the last pass's output, to compare the 1-core and 4-core legs. */
  def legDigest(spark: SparkSession): Option[Digest]
  /** Traced runs only: readings of a layer the timed pass does not load. */
  def layerProbe(spark: SparkSession, ledger: Ledger): LayerProbe = LayerProbe(Nil, Nil, Nil)
}

object Workloads {
  /** Docs in the extraction corpus: the media table (~1 MB of parquet per 1k
    * docs) passes the 10 MB broadcast limit, so both sides of the media join
    * are shuffled, and a warm pass takes about 1.5 s on 4 cores.
    */
  val Docs = 12000L
  /** Ranges of the checkpointed run in the traced table-layer probe. */
  val Ranges = 4
  /** Headline queries of the query workload: extraction on the typed,
    * full-config path (x4; the default path is extract_default), relational
    * joins (q3), native text expressions (txt4) and the iterative
    * connected-components floor (dd7, 28 jobs). All 62 do not fit a run: a
    * warm pass over them takes ~45 s on 4 cores at sf0.01.
    */
  val Queries = Seq("x4_extract_full", "q3_nation_top_customers", "txt4_fingerprints", "dd7_dup_clusters")

  def apply(name: String, ctx: Ctx, sfDir: String): Workload = name match {
    case "extract_default" => new ExtractDefault(ctx)
    case "queries" => new QuerySuite(ctx, sfDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** `read → Extract.run → parquet write`, the ExtractJob production path,
  * over a seeded corpus; every output is checked against the oracle.
  */
final class ExtractDefault(ctx: Ctx) extends Workload {
  val name = "extract_default"
  val warmPasses = 7
  val minPasses = 3
  private val corpus = Corpus(Corpus.dirFor(ctx.cache, ctx.seed, Workloads.Docs), ctx.seed, Workloads.Docs)
  private val oracleFile = Paths.get(corpus.dir, s"oracle_default_${ctx.stamp}.txt")
  private lazy val oracle = Digest.parse(new String(Files.readAllBytes(oracleFile), StandardCharsets.UTF_8))
  private val out = s"${ctx.runDir}/out"
  private var docs: Dataset[Doc] = _
  private var media: Dataset[Media] = _

  def prepared: Boolean = Files.exists(oracleFile)

  def prepare(spark: SparkSession): Unit = {
    Corpus.generate(spark, corpus)
    val d = Digest.of(Corpus.oracleFrame(spark, corpus, Oracle.extractGenerated))
    Files.write(oracleFile, d.render.getBytes(StandardCharsets.UTF_8))
  }

  def open(spark: SparkSession): Unit = {
    val (d, m) = corpus.read(spark)
    docs = d
    media = m
  }

  def pass(spark: SparkSession, tag: String): Seq[Op] = Seq(ctx.op(spark, tag, "pipeline:Extract.run") {
    Extract.run(docs, media)(spark).write.mode("overwrite").parquet(out)
  })

  /** The op is wrong when its output's digest is not the oracle's; logs how
    * many docs differ.
    */
  private def verdict(spark: SparkSession, op: Op, got: => DataFrame): Seq[String] =
    if (!op.ok) Nil // failed already
    else {
      val d = ctx.trace("check:Digest")(Digest.of(got))
      if (d == oracle) Nil
      else {
        val bad = Digest.mismatchedDocs(got, Corpus.oracleFrame(spark, corpus, Oracle.extractGenerated))
        ctx.log(s"check ${op.name}: output $d != oracle $oracle; $bad docs differ")
        Seq(op.name)
      }
    }

  def check(spark: SparkSession, ops: Seq[Op]): Seq[String] =
    ops.flatMap(op => verdict(spark, op, spark.read.parquet(out)))

  def selfTest(spark: SparkSession): Option[Boolean] =
    Some(Digest.of(Digest.dropOneSpan(spark.read.parquet(out))) != oracle)

  def legDigest(spark: SparkSession): Option[Digest] = Some(Digest.of(spark.read.parquet(out)))

  /** The table layer: the same corpus through `CheckpointJob.runCheckpointed`
    * into a fresh table root. Each range commits, reads back its counts and
    * writes the manifest; the table read back through `readTable` must match
    * the oracle, and the manifest's rows and spans its counts.
    */
  override def layerProbe(spark: SparkSession, ledger: Ledger): LayerProbe = {
    val root = s"${ctx.runDir}/table"
    var snap: Snapshot = null
    spark.sparkContext.addSparkListener(ledger)
    val op = ctx.op(spark, "ckpt", "table:CheckpointJob.runCheckpointed") {
      snap = CheckpointJob.runCheckpointed(docs, media, root, Workloads.Ranges, s"${corpus.dir}/docs")(spark)
    }
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(ledger)
    if (!op.ok) return LayerProbe(Seq(op), Nil, Nil)
    val m = Ledger.metrics(ledger.record(op.name), op.seconds)
    val wrongTable = verdict(spark, op, CheckpointJob.readTable(root)(spark).toDF())
    val manifestOk = snap.completed.map(_.rows).sum == oracle.docs &&
      snap.completed.map(_.spans).sum == oracle.spans && snap.completed.size == Workloads.Ranges
    if (!manifestOk) ctx.log("check ckpt: manifest rows/spans/ranges disagree with the oracle")
    val walls = snap.completed.map(_.wallSecs).sorted
    LayerProbe(Seq(op), if (manifestOk) wrongTable else Seq(op.name), Seq(
      f"table.wall_s=${op.seconds}%.3f table.ranges=${snap.completed.size} " +
        f"table.range_wall_p50_s=${walls(walls.size / 2)}%.3f table.overhead_s=${op.seconds - walls.sum}%.3f " +
        f"table.jobs=${m.jobs} table.dispatch_gap_s=${m.dispatchGapS}%.3f (overhead: run wall minus the ranges' own walls)"))
  }
}

/** The headline queries in fixed order, each written to the `noop` sink.
  * Setup's warm passes write every output as parquet, beside the oracle SQL,
  * and run.py checks the last warm pass's outputs against the DuckDB oracle
  * after the JVM exits. The timed passes run the same plans to `noop`.
  */
final class QuerySuite(ctx: Ctx, sfDir: String) extends Workload {
  val name = "queries"
  // the second pass over these queries still runs ~20% slower than the third
  val warmPasses = 2
  val minPasses = 2

  private val ready = Paths.get(ctx.cache, "side", s"ready_${ctx.stamp}")

  def prepared: Boolean = Files.exists(ready)
  /** Side tables (oracle outputs the queries write on first use) live under
    * GRAFT_SIDE_ROOT; one full pass builds them, once per build.
    */
  def prepare(spark: SparkSession): Unit = {
    Workloads.Queries.foreach { q =>
      graft.SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    Files.createDirectories(ready.getParent)
    Files.write(ready, Array.emptyByteArray)
  }

  def open(spark: SparkSession): Unit = {
    val sql = graft.SparkEntry.oracleSqlFor(sfDir).filter { case (k, _) => Workloads.Queries.contains(k) }
    val json = sql.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    Files.createDirectories(Paths.get(ctx.runDir, "q"))
    Files.write(Paths.get(ctx.runDir, "q", "oracle_sql.json"), json.getBytes(StandardCharsets.UTF_8))
  }

  override def warm(spark: SparkSession, i: Int): Unit = Workloads.Queries.foreach { q =>
    ctx.op(spark, s"warm$i/$q", "operators:SparkEntry.queries") {
      graft.SparkEntry.queries(q)(spark, sfDir).write.mode("overwrite").parquet(s"${ctx.runDir}/q/$q")
    }
  }

  def pass(spark: SparkSession, tag: String): Seq[Op] = Workloads.Queries.map { q =>
    ctx.op(spark, s"$tag/$q", "operators:SparkEntry.queries") {
      graft.SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
  }

  def check(spark: SparkSession, ops: Seq[Op]): Seq[String] = Nil
  /** run.py drops a row of one output and checks that the DuckDB compare flags it. */
  def selfTest(spark: SparkSession): Option[Boolean] = None
  def legDigest(spark: SparkSession): Option[Digest] = None
}
