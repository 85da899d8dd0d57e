package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics

/** Per-query codegen and wall table over the whole query surface.
  *
  *     sbt "Test/runMain graft.SuiteProbe <sfDir> <rounds> [query,query,...]"
  *
  * Runs every `SparkEntry.queries` entry (or the named ones), in name order,
  * to the `noop` sink in one `Sessions.local` session (`SPARK_GRAFT_CPUS`
  * cores, default 4), `rounds` times. Per query and round it prints
  *  - `compiles`: whole-stage and expression classes Janino compiled
  *    (`CodegenMetrics` compilation count); a warm round that still compiles
  *    means Spark's codegen class cache does not hold the working set;
  *  - `huge`: methods among those compiles above HotSpot's 8000-byte
  *    `DontCompileHugeMethods` limit, which stay interpreted (counted from
  *    Spark's own "too long to be JIT compiled" log line);
  *  - `wall_s`.
  * Each round ends with its totals and the JVM's JIT compile time; the run
  * ends with the peak metaspace. Round 1 also writes any oracle side table
  * that is not yet under `GRAFT_SIDE_ROOT`.
  */
object SuiteProbe {

  /** Counts Spark's "too long to be JIT compiled" lines from this point on. */
  private def hugeMethodCounter(): AtomicLong = {
    val n = new AtomicLong()
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val appender = new AbstractAppender("huge-methods", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("too long to be JIT compiled")) n.incrementAndGet()
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    // INFO for this one logger, to this appender only (not additive, so the
    // console keeps the WARN level the session set)
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    ctx.getConfiguration.addLogger(name, lc)
    ctx.updateLoggers()
    n
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, rounds, only) = args match {
      case Array(d, r)    => (d, r.toInt, SparkEntry.queries.keySet)
      case Array(d, r, q) => (d, r.toInt, q.split(",").toSet)
      case _ => sys.error("usage: SuiteProbe <sfDir> <rounds> [query,query,...]")
    }
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.local(cpus, "graft-suite-probe")
    spark.sparkContext.setLogLevel("WARN")
    val huge = hugeMethodCounter()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val jit = ManagementFactory.getCompilationMXBean
    val queries = SparkEntry.queries.filter(q => only(q._1)).toSeq.sortBy(_._1)
    println(s"# SuiteProbe sf=${new java.io.File(sfDir).getName} cpus=$cpus queries=${queries.size}")
    println("round\tquery\tcompiles\thuge\twall_s")
    for (round <- 1 to rounds) {
      val (c0, h0, j0, t0) = (compiles.getCount, huge.get, jit.getTotalCompilationTime, System.nanoTime)
      queries.foreach { case (name, fn) =>
        val (c, h, t) = (compiles.getCount, huge.get, System.nanoTime)
        val failed =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); "" }
          catch { case e: Throwable => s"\tFAILED ${e.getClass.getSimpleName}: ${e.getMessage}" }
        println(f"$round\t$name\t${compiles.getCount - c}\t${huge.get - h}\t${(System.nanoTime - t) / 1e9}%.3f$failed")
      }
      println(f"$round\tTOTAL\t${compiles.getCount - c0}\t${huge.get - h0}\t" +
        f"${(System.nanoTime - t0) / 1e9}%.3f\tjit_s=${(jit.getTotalCompilationTime - j0) / 1e3}%.1f")
    }
    val metaspace = ManagementFactory.getMemoryPoolMXBeans.asScala.find(_.getName == "Metaspace")
      .map(_.getPeakUsage.getUsed / (1 << 20))
    println(s"# peak metaspace MB: ${metaspace.getOrElse("n/a")}")
    spark.stop()
  }
}
