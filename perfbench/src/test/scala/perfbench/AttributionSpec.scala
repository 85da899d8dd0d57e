package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Extract, Oracle}

/** The ledger's stage-to-layer attribution on the extraction plan, over a
  * tiny corpus: it must account for every task, repeat exactly, and
  * attribute the same stages on `local[1]` and `local[4]`. Also the
  * correctness gate's negative control.
  */
class AttributionSpec extends AnyFunSuite {
  import AttributionSpec.Run

  private val tmp = {
    val base = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(base)
    Files.createTempDirectory(base, "attribution").toString
  }
  private val corpus = Corpus(s"$tmp/corpus", seed = 7L, docs = 400L)

  private def session(cores: Int): SparkSession = {
    val s = Main.session(cores)
    // the production join strategy at this size: both media-join sides are
    // shuffled, as they are once the media table passes the broadcast limit
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s
  }

  private def extractOnce(spark: SparkSession, tag: String): Run = {
    val ledger = new Ledger
    val (docs, media) = corpus.read(spark)
    val out = s"$tmp/out_$tag"
    spark.sparkContext.addSparkListener(ledger)
    spark.sparkContext.setLocalProperty(Ledger.OpKey, tag)
    val t0 = System.nanoTime()
    Extract.run(docs, media)(spark).write.mode("overwrite").parquet(out)
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLocalProperty(Ledger.OpKey, null)
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(ledger)
    val rec = ledger.record(tag)
    Run(Ledger.metrics(rec, wall), rec, Digest.of(spark.read.parquet(out)))
  }

  private lazy val (four, fourAgain, one, oracle, dropped) = {
    var spark = session(4)
    Corpus.generate(spark, corpus)
    val oracle = Digest.of(Corpus.oracleFrame(spark, corpus, Oracle.extractGenerated))
    extractOnce(spark, "warm")
    val a = extractOnce(spark, "a")
    val b = extractOnce(spark, "b")
    val dropped = Digest.of(Digest.dropOneSpan(spark.read.parquet(s"$tmp/out_b")))
    spark.stop()
    spark = session(1)
    val c = extractOnce(spark, "c")
    spark.stop()
    (a, b, c, oracle, dropped)
  }

  test("per-layer task CPU sums to the listener's task total") {
    val fromTasks = four.record.tasks.map(_.cpuNs).sum / 1e9
    assert(fromTasks > 0)
    assert(math.abs(four.metrics.layerCpuS.values.sum - fromTasks) < 1e-6)
    assert(math.abs(four.metrics.taskCpuS - fromTasks) < 1e-6)
  }

  test("the extraction plan splits into scan, exchange and sink stages") {
    val layers = four.record.stages.map(_.layer)
    assert(layers.count(_ == "scan") == 2, layers) // docs and media scans feed the media join
    assert(layers.count(_ == "exchange") == 1, layers) // join + kernel + partial doc_id group
    assert(layers.count(_ == "sink") == 1, layers) // assembly + parquet write
  }

  test("counts repeat exactly across two runs") {
    val (a, b) = (four.metrics, fourAgain.metrics)
    assert(a.jobs == b.jobs && a.stages == b.stages && a.tasks == b.tasks)
    assert(a.shuffleMb == b.shuffleMb && a.outputMb == b.outputMb)
    assert(a.corrupt == b.corrupt)
    val regions = Seq(1, 2).map(_ => KernelProbe.measure(corpus.seed, rounds = 1).regions)
    assert(regions.distinct.size == 1 && regions.head > 0)
  }

  test("local[1] and local[4] legs attribute the same stages") {
    def shape(r: Run) = r.record.stages.map(_.layer).sorted
    assert(shape(one) == shape(four))
    assert(one.digest == four.digest)
  }

  test("outputs match the oracle, and a dropped span is caught") {
    assert(four.digest == oracle && fourAgain.digest == oracle)
    assert(dropped != oracle)
    assert(dropped.spans == oracle.spans - 1)
  }
}

object AttributionSpec {
  private final case class Run(metrics: OpMetrics, record: OpRecord, digest: Digest)
}
