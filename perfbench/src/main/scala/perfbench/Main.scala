package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: host probes, set-up (session, inputs,
  * warm-up), a closed-loop timed window of passes with an untimed
  * correctness check after each, and, when traced, the per-layer ledger, a
  * kernel probe and a `local[1]` leg of the same pass.
  *
  * Prints `[perfbench]` record lines and, last, one `PERFBENCH_RESULT {json}`
  * line that run.py completes and re-emits.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cache: String, sfDir: String, stamp: String, prepare: Boolean)

  private final case class Pass(traced: Boolean, wallS: Double, cpuS: Double, ops: Seq[Op], ledger: Option[OpMetrics])

  /** Upper bound on passes in one window, whatever their speed. */
  val MaxPasses = 40

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cache"), need("sf"), need("stamp"), kv.get("prepare").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    println("PERFBENCH_RESULT " + run(a))
  }

  def session(cores: Int): SparkSession = {
    val s = graft.Sessions.local(cores, "perfbench")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; val n = s.length; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(a: Args): String = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val runId = s"${a.workload}-s${a.seed}-p${ProcessHandle.current().pid()}"
    val trace = new Trace(runId, a.trace)
    val runDir = s"${a.cache}/run/$runId"
    val tmpDir = s"${a.cache}/tmp"
    Files.createDirectories(Paths.get(tmpDir))
    val ctx = new Ctx(a.seed, a.cache, runDir, a.stamp, trace)
    val w = Workloads(a.workload, ctx, a.sfDir)
    if (a.prepare) {
      val spark = session(Probes.Cores)
      try w.prepare(spark) finally spark.stop()
      return """{"prepared":true}"""
    }
    if (!w.prepared) return """{"prepared":false}"""
    var excludedS = 0.0
    def excluded[A](f: => A): A = {
      val t0 = System.nanoTime()
      try f finally excludedS += secondsSince(t0)
    }
    HeapAfterGc.install()

    val hostStart = excluded(trace("host:probes")(Probes.host(tmpDir, a.trace)))
    ctx.log(s"host at start: ${hostStart.render}")

    // ---- set-up: session, opening the prepared inputs, warm-up ----
    val tSession = System.nanoTime()
    var spark = trace("setup:session")(session(Probes.Cores))
    val sessionS = secondsSince(tSession)
    trace("setup:open")(w.open(spark))
    val warmWalls = (1 to w.warmPasses).map { i =>
      val t = System.nanoTime()
      trace("setup:warm")(w.warm(spark, i))
      secondsSince(t)
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - excludedS
    ctx.log(f"setup ${setupS}%.3f s: session $sessionS%.3f s, warm passes ${warmWalls.map(x => f"$x%.2f").mkString(" ")} s" +
      " (host probes excluded)")

    // ---- timed window: closed loop, one pass after another ----
    val ledger = new Ledger
    val passes = mutable.ArrayBuffer.empty[Pass]
    var attempted = 0
    var failed = 0
    def runPass(tag: String, traced: Boolean): Pass = {
      if (traced) spark.sparkContext.addSparkListener(ledger)
      val c0 = Probes.processCpuS
      val t0 = System.nanoTime()
      val ops = trace("run:pass")(w.pass(spark, tag))
      val p0 = Pass(traced, secondsSince(t0), Probes.processCpuS - c0, ops, None)
      val p = if (!traced) p0 else {
        PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(ledger)
        p0.copy(ledger = Some(Ledger.sum(ops.map(o => Ledger.metrics(ledger.record(o.name), o.seconds)))))
      }
      val wrong = w.check(spark, ops).toSet
      attempted += ops.size
      failed += ops.count(o => !o.ok || wrong.contains(o.name))
      p
    }
    val windowStart = System.nanoTime()
    // traced runs alternate untraced and traced passes, so the pair of
    // medians gives the tracing overhead under the same host conditions
    val minPasses = if (a.trace) 2 * w.minPasses else w.minPasses
    HeapAfterGc.arm()
    while ((passes.size < minPasses || secondsSince(windowStart) < a.seconds) && passes.size < MaxPasses)
      passes += runPass(s"pass${passes.size}", a.trace && passes.size % 2 == 1)
    val (heapPeakMb, heapLiveMb) = HeapAfterGc.disarmMb()
    val passS = median(passes.map(_.wallS).toSeq)
    val cpuS = median(passes.map(_.cpuS).toSeq)
    ctx.log(f"${passes.size} passes in ${secondsSince(windowStart)}%.1f s: walls " +
      passes.map(p => f"${p.wallS}%.3f${if (p.traced) "t" else ""}").mkString(" ") +
      f" s; median $passS%.4f s, cpu $cpuS%.3f s/pass; heap after GC: peak $heapPeakMb%.1f MB, live $heapLiveMb%.1f MB")
    passes.lastOption.foreach(p => p.ops.foreach(o => ctx.log(f"  op ${o.name} ${o.seconds}%.3f s")))

    val control = w.selfTest(spark)
    control.foreach(c => ctx.log(s"negative control (one span dropped) flagged: $c"))

    val perLayer: Seq[(String, Double)] = if (!a.trace) Nil else {
      val kernel = trace("kernel:Detect")(KernelProbe.measure(a.seed))
      ctx.log(f"kernel us/payload: std ${kernel.stdUs}%.1f mfd ${kernel.mfdUs}%.1f layout ${kernel.layoutUs}%.1f " +
        f"rotated-full ${kernel.rotatedFullUs}%.1f; regions ${kernel.regions} over ${KernelProbe.Sample} payloads")
      val traced = passes.flatMap(_.ledger).toSeq
      val untracedWalls = passes.filterNot(_.traced).map(_.wallS).toSeq
      val overhead = median(passes.filter(_.traced).map(_.wallS).toSeq) / median(untracedWalls) - 1
      traced.lastOption.foreach { m =>
        ctx.log(f"ledger (last traced pass): jobs ${m.jobs} stages ${m.stages} tasks ${m.tasks} " +
          f"task cpu ${m.taskCpuS}%.2f s wait ${m.taskWaitS}%.2f s gc ${m.gcS}%.2f s shuffle ${m.shuffleMb}%.1f MB " +
          f"output ${m.outputMb}%.1f MB dispatch gap ${m.dispatchGapS}%.3f s")
        ctx.log("  layers wall/cpu s: " + Ledger.Layers.map(l => f"$l ${m.layerS(l)}%.3f/${m.layerCpuS(l)}%.2f").mkString(", "))
      }
      passes.filter(_.traced).lastOption.foreach { p =>
        p.ops.foreach { o =>
          val m = Ledger.metrics(ledger.record(o.name), o.seconds)
          ctx.log(f"  op.${o.name.split('/').last}: wall ${o.seconds}%.3f s jobs ${m.jobs} stages ${m.stages} " +
            f"task cpu ${m.taskCpuS}%.2f s dispatch gap ${m.dispatchGapS}%.3f s")
        }
      }
      val probe = w.layerProbe(spark, ledger)
      probe.lines.foreach(ctx.log)
      attempted += probe.ops.size
      failed += probe.ops.count(o => !o.ok || probe.wrong.contains(o.name))

      // ---- N-vs-4N leg: the same pass on local[1], same inputs ----
      val digest4 = w.legDigest(spark)
      spark.stop()
      spark = trace("setup:session")(session(1))
      w.open(spark)
      // warms up with a plain pass: the query workload's warm passes write
      // the local[4] outputs run.py checks, which the leg must not overwrite
      trace("setup:warm")(w.pass(spark, "leg1warm"))
      val leg = runPass("leg1", traced = true)
      val digest1 = w.legDigest(spark)
      if (digest1 != digest4) {
        ctx.log(s"check: local[1] output $digest1 differs from local[${Probes.Cores}] output $digest4")
        failed += 1
      }
      val wall4 = median(passes.map(_.wallS).toSeq)
      val l1 = leg.ledger.get
      val l4 = traced
      def eff(layer: String): Double = {
        val t4 = median(l4.map(_.layerS(layer)))
        if (t4 > 0) l1.layerS(layer) / (Probes.Cores * t4) else 0.0
      }
      val scaling = leg.wallS / (Probes.Cores * wall4)
      ctx.log(f"scaling local[1] vs local[${Probes.Cores}]: pass ${leg.wallS}%.3f s vs $wall4%.3f s, efficiency $scaling%.3f; " +
        Ledger.Layers.filter(_ != "other").map(l => f"$l ${eff(l)}%.3f").mkString(", ") +
        s"; outputs identical: ${if (digest1.isEmpty || digest4.isEmpty) "n/a" else digest1 == digest4}")
      ctx.log("  local[1] layers wall/cpu s: " + Ledger.Layers.map(l => f"$l ${l1.layerS(l)}%.3f/${l1.layerCpuS(l)}%.2f").mkString(", "))
      val self = trace.selfSeconds
      ctx.log("self time by layer (s): " + self.toSeq.sortBy(-_._2).map { case (l, s) => f"$l $s%.3f" }.mkString(", "))
      ctx.log(f"tracing overhead: traced pass median / untraced pass median - 1 = $overhead%.4f")

      def med(f: OpMetrics => Double) = median(l4.map(f))
      Seq(
        "setup.session_s" -> sessionS,
        "setup.warmup_s" -> warmWalls.sum,
        "kernel.std_us" -> kernel.stdUs,
        "kernel.mfd_us" -> kernel.mfdUs,
        "kernel.layout_us" -> kernel.layoutUs,
        "kernel.rotated_full_us" -> kernel.rotatedFullUs,
        "kernel.regions" -> kernel.regions.toDouble,
        "exec.jobs" -> med(_.jobs.toDouble),
        "exec.stages" -> med(_.stages.toDouble),
        "exec.tasks" -> med(_.tasks.toDouble),
        "exec.task_cpu_s" -> med(_.taskCpuS),
        "exec.task_wait_s" -> med(_.taskWaitS),
        "exec.gc_s" -> med(_.gcS),
        "exec.shuffle_mb" -> med(_.shuffleMb),
        "exec.output_mb" -> med(_.outputMb),
        "exec.dispatch_gap_s" -> med(_.dispatchGapS),
        "exec.scan_s" -> med(_.layerS("scan")),
        "exec.exchange_s" -> med(_.layerS("exchange")),
        "exec.sink_s" -> med(_.layerS("sink")),
        "exec.exchange_cpu_s" -> med(_.layerCpuS("exchange")),
        "exec.task_skew" -> med(_.taskSkew),
        "exec.corrupt_payloads" -> med(_.corrupt.toDouble),
        "scaling.eff" -> scaling,
        "scaling.scan_eff" -> eff("scan"),
        "scaling.exchange_eff" -> eff("exchange"),
        "scaling.sink_eff" -> eff("sink"),
        "trace.overhead_frac" -> overhead)
    }

    val hostEnd = excluded(trace("host:probes")(Probes.host(tmpDir, a.trace)))
    ctx.log(s"host at end: ${hostEnd.render}")
    spark.stop()
    if (a.trace) writeTrace(a, runId, trace, ledger)

    val correct = failed == 0 && !control.contains(false)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"), ("pass_s", passS, "s"), ("cpu_s", cpuS, "s"), ("heap_live_mb", heapLiveMb, "MB"))
      else {
        val host = Seq(
          "host.spin1_s" -> math.max(hostStart.spin1S, hostEnd.spin1S),
          "host.spinN_s" -> math.max(hostStart.spinNS, hostEnd.spinNS),
          "host.disk_mbps" -> math.min(hostStart.diskMbps, hostEnd.diskMbps))
        (host ++ perLayer).map { case (k, v) => (k, v, BenchUnits(k)) }
      }
    val ops = passes.flatMap(_.ops).groupBy(_.name.split('/').last).map { case (k, v) => s"${Json.str(k)}:${v.size}" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"run_dir":${Json.str(runDir)},""" +
      s""""op_counts":${ops.mkString("{", ",", "}")},"metrics":""" +
      metrics.map { case (k, v, u) => s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
        .mkString("{", ",", "}") + "}"
  }

  private def writeTrace(a: Args, runId: String, trace: Trace, ledger: Ledger): Unit = {
    val spans = trace.spans.map(s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"run":${Json.str(s.run)}}""")
    val ops = ledger.all.map { r =>
      val jobs = r.jobs.map(j => s"""{"job":${j.jobId},"start_ms":${j.startMs},"end_ms":${j.endMs}}""")
      val stages = r.stages.map(s =>
        s"""{"stage":${s.stageId},"attempt":${s.attempt},"layer":${Json.str(s.layer)},"submit_ms":${s.submitMs},""" +
          s""""complete_ms":${s.completeMs},"tasks":${s.tasks},"run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},""" +
          s""""input_bytes":${s.inputBytes},"shuffle_read_bytes":${s.shuffleReadBytes},""" +
          s""""shuffle_write_bytes":${s.shuffleWriteBytes},"output_bytes":${s.outputBytes},"spill_bytes":${s.spillBytes}}""")
      s"""{"op":${Json.str(r.op)},"jobs":${jobs.mkString("[", ",", "]")},"stages":${stages.mkString("[", ",", "]")}}"""
    }
    val dir = Paths.get(a.cache, "traces")
    Files.createDirectories(dir)
    val f = dir.resolve(s"$runId.json")
    Files.write(f, s"""{"run":${Json.str(runId)},"spans":${spans.mkString("[", ",", "]")},"ledger":${ops.mkString("[", ",", "]")}}"""
      .getBytes(StandardCharsets.UTF_8))
    println(s"[perfbench] trace written to $f")
  }
}

/** Unit of each per-layer metric, by name. */
object BenchUnits {
  def apply(name: String): String =
    if (name.endsWith("_us")) "us"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_mbps")) "MB/s"
    else if (name.endsWith("_eff") || name.endsWith("_frac") || name.endsWith(".eff") || name.endsWith("_skew")) "ratio"
    else "count"
}
