package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One completed stage attempt, with the task metrics Spark aggregated over it. */
final case class StageRec(stageId: Int, attempt: Int, submitMs: Long, completeMs: Long, tasks: Int,
                          runMs: Long, cpuNs: Long, gcMs: Long, inputBytes: Long,
                          shuffleReadBytes: Long, shuffleWriteBytes: Long, outputBytes: Long,
                          spillBytes: Long, corrupt: Seq[(Long, Long)]) {
  def layer: String = Ledger.classify(this)
}

final case class TaskRec(stageId: Int, stageAttempt: Int, runMs: Long, cpuNs: Long)

final case class JobRec(jobId: Int, startMs: Long, endMs: Long)

/** Everything the listener saw for one operation (jobs tagged with its label). */
final case class OpRecord(op: String, jobs: Seq[JobRec], stages: Seq[StageRec], tasks: Seq[TaskRec])

/** Per-operation resource ledger derived from an [[OpRecord]] and the
  * operation's wall time measured by the caller.
  */
final case class OpMetrics(wallS: Double, jobs: Int, stages: Int, tasks: Int, taskCpuS: Double,
                           taskWaitS: Double, gcS: Double, shuffleMb: Double, outputMb: Double,
                           dispatchGapS: Double, layerS: Map[String, Double],
                           layerCpuS: Map[String, Double], taskSkew: Double, corrupt: Long)

/** SparkListener that records jobs, stages and tasks in memory. A job belongs
  * to the operation named by the `perfbench.op` local property when it
  * started; its stages and their tasks follow it.
  */
class Ledger extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, (String, JobRec)]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stages = mutable.ArrayBuffer.empty[(String, StageRec)]
  private val tasks = mutable.ArrayBuffer.empty[(String, TaskRec)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Ledger.OpKey))).getOrElse("")
    jobs(e.jobId) = (op, JobRec(e.jobId, e.time, -1L))
    e.stageIds.foreach(s => stageOp.getOrElseUpdate(s, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (op, j) => jobs(e.jobId) = (op, j.copy(endMs = e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val corrupt = si.accumulables.values.collect {
      case a if a.name.contains(Ledger.CorruptAccumulator) && a.value.isDefined =>
        a.id -> a.value.get.toString.toLong
    }.toSeq
    val rec = StageRec(si.stageId, si.attemptNumber(), si.submissionTime.getOrElse(0L),
      si.completionTime.getOrElse(0L), si.numTasks,
      if (m == null) 0L else m.executorRunTime, if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime, if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled, corrupt)
    stages += ((stageOp.getOrElse(si.stageId, ""), rec))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += ((stageOp.getOrElse(e.stageId, ""),
        TaskRec(e.stageId, e.stageAttemptId, m.executorRunTime, m.executorCpuTime)))
  }

  def record(op: String): OpRecord = synchronized {
    OpRecord(op,
      jobs.values.collect { case (o, j) if o == op => j }.toSeq,
      stages.collect { case (o, s) if o == op => s }.toSeq,
      tasks.collect { case (o, t) if o == op => t }.toSeq)
  }

  /** Every job, stage and task seen, for the trace file. */
  def all: Seq[OpRecord] = synchronized {
    val ops = (jobs.values.map(_._1) ++ stages.map(_._1)).toSeq.distinct
    ops.map(record)
  }
}

object Ledger {
  val OpKey = "perfbench.op"
  val CorruptAccumulator = "graft.corrupt_or_missing_payloads"

  /** Layer of a stage, from what it reads and writes. Stage names carry no
    * information under AQE (every stage is `$anonfun$withThreadLocalCaptured`)
    * and stage ids shift between runs, so the shape is all there is:
    *   - scan:     reads a table, no shuffle (extraction: docs/media scan + explode)
    *   - exchange: reads and writes a shuffle (extraction: media join + kernel
    *               mapPartitions + partial doc_id group)
    *   - sink:     reads a shuffle, writes none (extraction: assembly + parquet write)
    *   - other:    neither (local collections, metadata-only stages)
    */
  def classify(s: StageRec): String =
    if (s.shuffleReadBytes == 0 && s.inputBytes > 0) "scan"
    else if (s.shuffleReadBytes > 0 && s.shuffleWriteBytes > 0) "exchange"
    else if (s.shuffleReadBytes > 0) "sink"
    else "other"

  val Layers: Seq[String] = Seq("scan", "exchange", "sink", "other")

  /** Length of the union of [start, end) intervals, in the intervals' unit. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.length; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def metrics(r: OpRecord, wallS: Double): OpMetrics = {
    val byLayer = r.stages.groupBy(_.layer)
    val layerS = Layers.map(l => l -> covered(byLayer.getOrElse(l, Nil).map(s => (s.submitMs, s.completeMs))) / 1e3).toMap
    val layerCpuS = Layers.map(l => l -> byLayer.getOrElse(l, Nil).map(_.cpuNs).sum / 1e9).toMap
    val jobWall = covered(r.jobs.filter(_.endMs > 0).map(j => (j.startMs, j.endMs))) / 1e3
    // skew of the busiest layer's tasks: the slowest task sets the stage's wall
    val skewStages = byLayer.getOrElse("exchange", byLayer.getOrElse("scan", Nil)).map(s => (s.stageId, s.attempt)).toSet
    val skewRuns = r.tasks.filter(t => skewStages.contains((t.stageId, t.stageAttempt))).map(_.runMs.toDouble)
    val skew = if (skewRuns.isEmpty) 1.0 else skewRuns.max / math.max(1.0, median(skewRuns))
    val corrupt = r.stages.flatMap(_.corrupt).groupBy(_._1).values.map(_.map(_._2).max).sum
    OpMetrics(wallS, r.jobs.size, r.stages.size, r.stages.map(_.tasks).sum,
      r.stages.map(_.cpuNs).sum / 1e9,
      r.stages.map(s => s.runMs / 1e3 - s.cpuNs / 1e9).sum,
      r.stages.map(_.gcMs).sum / 1e3,
      r.stages.map(_.shuffleWriteBytes).sum / 1e6,
      r.stages.map(_.outputBytes).sum / 1e6,
      math.max(0.0, wallS - jobWall), layerS, layerCpuS, skew, corrupt)
  }

  /** Sums ledgers of the operations of one pass (a query pass has one per query). */
  def sum(ms: Seq[OpMetrics]): OpMetrics = OpMetrics(
    ms.map(_.wallS).sum, ms.map(_.jobs).sum, ms.map(_.stages).sum, ms.map(_.tasks).sum,
    ms.map(_.taskCpuS).sum, ms.map(_.taskWaitS).sum, ms.map(_.gcS).sum, ms.map(_.shuffleMb).sum,
    ms.map(_.outputMb).sum, ms.map(_.dispatchGapS).sum,
    Layers.map(l => l -> ms.map(_.layerS(l)).sum).toMap,
    Layers.map(l => l -> ms.map(_.layerCpuS(l)).sum).toMap,
    if (ms.isEmpty) 1.0 else ms.map(_.taskSkew).max, ms.map(_.corrupt).sum)
}
