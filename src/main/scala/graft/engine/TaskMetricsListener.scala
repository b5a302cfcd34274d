package graft.engine

import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Task-metric sums since the last reset (shuffle read and write, spill
  * in memory plus on disk, peak task execution memory). ScaleBench
  * registers it around the work it measures.
  */
private[graft] final class TaskMetricsListener extends SparkListener {
  val shufRead = new LongAdder
  val shufWrite = new LongAdder
  val spill = new LongAdder
  val peakMem = new AtomicLong(0L)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      shufRead.add(m.shuffleReadMetrics.totalBytesRead)
      shufWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakMem.getAndAccumulate(m.peakExecutionMemory, math.max)
    }
  }

  def sums: String =
    f"shuffleRead=${shufRead.sum / 1e6}%.0fMB shuffleWrite=${shufWrite.sum / 1e6}%.0fMB " +
      f"spill=${spill.sum / 1e6}%.0fMB peakTask=${peakMem.get / 1e6}%.0fMB"

  def reset(): Unit = {
    shufRead.reset(); shufWrite.reset(); spill.reset(); peakMem.set(0L)
  }
}
