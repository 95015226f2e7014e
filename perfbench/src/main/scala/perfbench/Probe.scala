package perfbench

import java.util.concurrent.atomic.AtomicLongArray

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Cumulative engine counters at one instant; a span's share is the
  * difference of two snapshots. */
final case class Counters(values: IndexedSeq[Long]) {
  def -(o: Counters): Counters = Counters(values.indices.map(i => values(i) - o.values(i)))
  def apply(k: Probe.Key): Long = values(k.id)
}

/** The benchmark's one Spark listener: counts jobs, tasks, executor CPU,
  * shuffle, spill and I/O bytes. It only observes; it submits nothing. */
final class Probe extends SparkListener {
  import Probe._
  private val acc = new AtomicLongArray(Keys.size)

  override def onJobStart(e: SparkListenerJobStart): Unit = acc.incrementAndGet(Jobs.id)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    acc.incrementAndGet(Tasks.id)
    val m = e.taskMetrics
    if (m != null) {
      acc.addAndGet(RunNs.id, m.executorRunTime * 1000000L)
      acc.addAndGet(CpuNs.id, m.executorCpuTime)
      acc.addAndGet(WaitNs.id,
        math.max(0L, e.taskInfo.duration - m.executorRunTime) * 1000000L)
      acc.addAndGet(ShuffleRead.id,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      acc.addAndGet(ShuffleWrite.id, m.shuffleWriteMetrics.bytesWritten)
      acc.addAndGet(Spill.id, m.diskBytesSpilled)
      acc.addAndGet(BytesIn.id, m.inputMetrics.bytesRead)
      acc.addAndGet(BytesOut.id, m.outputMetrics.bytesWritten)
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(sc: SparkContext): Counters = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    Counters((0 until Keys.size).map(acc.get))
  }
}

object Probe {
  final case class Key(id: Int)
  val Jobs = Key(0); val Tasks = Key(1); val RunNs = Key(2); val CpuNs = Key(3)
  val WaitNs = Key(4); val ShuffleRead = Key(5); val ShuffleWrite = Key(6)
  val Spill = Key(7); val BytesIn = Key(8); val BytesOut = Key(9)
  val Keys: Seq[Key] = Seq(Jobs, Tasks, RunNs, CpuNs, WaitNs, ShuffleRead,
    ShuffleWrite, Spill, BytesIn, BytesOut)
  val Names: Seq[String] = Seq("jobs", "tasks", "run_ns", "cpu_ns", "wait_ns",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "bytes_in", "bytes_out")

  /** Total GC time of this JVM so far, in seconds. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Restarts the heap pools' peak tracking. */
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak use since the last reset, in MB. */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
}
