package graft.operators

import org.apache.spark.metrics.source.CodegenMetrics
import graft.{Bench, SparkEntry, SparkSpec}

/** Regression guards on whole-stage codegen over every headline bench query.
  *
  *  - Fail-fast: replays the set with `spark.sql.codegen.fallback=false`, so
  *    a "Code grows beyond 64 KB" Janino failure (which Spark normally
  *    swallows by re-running the stage interpreted, ~7x slower — exactly
  *    what happened to sim2_ann_ivf in round 1) fails the build instead of
  *    the benchmark.
  *  - Cache fit: replays the set until a round compiles nothing. Spark keeps
  *    compiled classes in one JVM-wide cache (`Sessions` sizes it); when the
  *    set's classes do not fit, every round evicts and recompiles them and
  *    no round is ever warm. Some queries generate more than one variant of
  *    a class from run to run, and each variant compiles once: AQE numbers
  *    codegen stages in the order racing shuffle stages finish, and the
  *    number is part of the class name (which of the many orders a round
  *    sees is timing, so these variants can trickle in over many rounds);
  *    ctn2's pair-dedup aggregate orders its two grouping keys either way.
  *    The replay leaves the stage number out of class names
  *    (`spark.sql.codegen.useIdInClassName=false`, which changes no
  *    generated logic), so it converges in a few rounds and tests the fit,
  *    not the timing.
  */
class CodegenGuardSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def runHeadline(): Unit = Bench.headline.foreach { name =>
    try SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
    catch {
      case e: Throwable => fail(s"$name failed: ${e.getMessage}", e)
    }
  }

  test("headline queries compile under codegen with fallback disabled") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try runHeadline()
    finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None    => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("the headline set's compiled classes fit the codegen cache: a warm round compiles nothing") {
    val maxRounds = 8
    val compiles = scala.collection.mutable.ArrayBuffer.empty[Long]
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    try while (compiles.size < maxRounds && compiles.lastOption.forall(_ > 0)) {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      runHeadline()
      compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    } finally spark.conf.unset("spark.sql.codegen.useIdInClassName")
    assert(compiles.last == 0,
      s"no warm round in $maxRounds; compiles per round: ${compiles.mkString(", ")}")
    info(s"compiles per replayed round: ${compiles.mkString(", ")}")
  }
}
