package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark engine counters from a listener the harness registers: jobs,
  * stages, tasks, shuffle and spill bytes, task CPU, GC and scheduler
  * delay. Read as deltas between two snapshots around a phase. */
final class Counters extends SparkListener {
  private val jobs, stages, tasks, shuffleRead, shuffleWrite, spill = new AtomicLong
  private val cpuNs, gcMs, delayMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet(): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      if (i != null && i.finished) {
        // the Spark UI's definition: wall time not spent deserializing,
        // running or serializing the result
        val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        delayMs.addAndGet(math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
      }
    }
  }

  def snapshot(sc: SparkContext): Counters.Snap = {
    org.apache.spark.perfbench.Bus.drain(sc)
    Counters.Snap(jobs.get, stages.get, tasks.get, shuffleRead.get + shuffleWrite.get,
      spill.get, cpuNs.get, gcMs.get, delayMs.get)
  }
}

object Counters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, shuffleBytes: Long,
      spillBytes: Long, cpuNs: Long, gcMs: Long, delayMs: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes, cpuNs - o.cpuNs,
      gcMs - o.gcMs, delayMs - o.delayMs)
  }

  /** Bytes held by persisted RDDs and cached frames, memory plus disk. */
  def storageBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakBytes: Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
}

/** Host-noise stamps over a phase, so a contested run is readable off the
  * output: hypervisor steal as a share of all CPU time (summed over
  * user..steal only; guest time is already inside user) and the CPU
  * other processes used (machine busy time minus this process's). */
final class HostNoise {
  private def stat: Array[Long] = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
    finally f.close()
  } catch { case _: Throwable => Array.empty }

  private def ownCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private val s0 = stat
  private val own0 = ownCpuNs

  /** (steal %, others' CPU % of the whole machine) since construction;
    * -1 where /proc/stat is unreadable. */
  def read(): (Double, Double) = {
    val s1 = stat
    val own = ownCpuNs - own0
    if (s0.length < 8 || s1.length < 8) (-1.0, -1.0)
    else {
      val d = s1.zip(s0).map { case (a, b) => a - b }
      val total = d.sum.toDouble
      if (total <= 0) (0.0, 0.0)
      else {
        val steal = d(7) / total
        val idle = d(3) + d(4)
        // jiffies are 1/100 s on Linux; the total spans every core
        val ownJiffies = own / 1e7
        val others = math.max(0.0, (total - idle - d(7) - ownJiffies) / total)
        (100 * steal, 100 * others)
      }
    }
  }
}
