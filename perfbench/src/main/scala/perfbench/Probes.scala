package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import graft.kernel.Detect
import graft.pipeline.GenData
import graft.schema.{DetectConfig, Vocab}

/** Host capacity readings through the program's own probes (graft.Bench). */
final case class Host(spin1S: Double, spinNS: Double, diskMbps: Double) {
  def render: String = f"spin1=$spin1S%.3fs spin${Probes.Cores}=$spinNS%.3fs disk=$diskMbps%.1fMB/s"
}

object Probes {
  /** Cores of the measured session (`local[4]`); the scaling leg runs `local[1]`. */
  val Cores = 4

  /** The all-core spin always. The 1-thread spin and the fsync'd 216 MB disk
    * write only when `full`: each costs seconds of every run, and the disk
    * write also spends the host's disk burst credits.
    */
  def host(tmpDir: String, full: Boolean): Host =
    Host(if (full) graft.Bench.spinSecs() else Double.NaN, graft.Bench.spinSecsParallel(Cores),
      if (full) graft.Bench.diskMbps(tmpDir) else Double.NaN)

  def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9
}

/** Heap occupancy just after collections. */
object HeapAfterGc {
  @volatile private var armed = false
  @volatile private var peak = 0L
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n, _) => {
        if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools.contains(pool) => u.getUsed
          }.sum
          synchronized { if (used > peak) peak = used }
        }
      }, null, null)
    case _ => ()
  }

  def arm(): Unit = { peak = 0L; armed = true }

  /** Disarms; returns the highest occupancy after any collection while armed
    * (young collections leave old-generation garbage in it, so it swings
    * with collection timing) and the live heap after a full collection now,
    * both in MB. Spark frees cached and checkpointed blocks of unreachable
    * datasets only after a collection has found them, so a second full
    * collection follows the cleaner's pass.
    */
  def disarmMb(): (Double, Double) = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    Thread.sleep(200) // notifications arrive asynchronously
    armed = false
    (peak / 1e6, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6)
  }
}

/** Single-thread kernel timings over a fixed sample of the corpus's own
  * payloads (what graft.KernelBench measures, on the benchmark's inputs).
  */
object KernelProbe {
  val Sample = 1500
  private val Full = DetectConfig(rotatedBbox = true, useDilation = true, useAngleClf = true, renderCrops = true)

  final case class Result(stdUs: Double, mfdUs: Double, layoutUs: Double, rotatedFullUs: Double, regions: Long)

  def payloads(seed: Long): Array[Array[Byte]] =
    Iterator.from(0).flatMap(i => GenData.mediaRefs(GenData.doc(seed, i.toLong)))
      .map(ref => GenData.payload(seed, ref)).take(Sample).toArray

  def measure(seed: Long, rounds: Int = 3): Result = {
    val ps = payloads(seed)
    val byStage = ps.groupBy(p => p(2).toInt)
    def usPer(xs: Array[Array[Byte]])(f: Array[Byte] => Any): Double =
      if (xs.isEmpty) 0.0
      else {
        val times = (0 until rounds).map { _ =>
          val t0 = System.nanoTime()
          xs.foreach(f)
          (System.nanoTime() - t0) / 1e3 / xs.length
        }
        times.sorted.apply(rounds / 2)
      }
    ps.foreach(p => { Detect.extract(p); Detect.extractRendered(p, Full) }) // JIT warm
    Result(usPer(byStage.getOrElse(Vocab.StageStd, Array.empty))(Detect.extract),
      usPer(byStage.getOrElse(Vocab.StageMfd, Array.empty))(Detect.extract),
      usPer(byStage.getOrElse(Vocab.StageLayout, Array.empty))(Detect.extract),
      usPer(ps)(p => Detect.extractRendered(p, Full)),
      ps.map(p => Detect.extract(p).length.toLong).sum)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
