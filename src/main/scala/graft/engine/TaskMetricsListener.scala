package graft.engine

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._

/** Task-metric sums since the last reset (shuffle read and write, spill
  * in memory plus on disk, peak task execution memory) and one line per
  * completed stage: id, tasks, wall, executor run and CPU time, shuffle
  * bytes read and written. ScaleBench and the dev probes register it
  * around the work they measure.
  */
private[graft] final class TaskMetricsListener extends SparkListener {
  val shufRead = new LongAdder
  val shufWrite = new LongAdder
  val spill = new LongAdder
  val peakMem = new AtomicLong(0L)
  private val stages = new ConcurrentLinkedQueue[String]

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      shufRead.add(m.shuffleReadMetrics.totalBytesRead)
      shufWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakMem.getAndAccumulate(m.peakExecutionMemory, math.max)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val wall = (for (a <- si.completionTime; b <- si.submissionTime)
      yield (a - b) / 1e3).getOrElse(-1.0)
    val tm = Option(si.taskMetrics)
    def sec(f: org.apache.spark.executor.TaskMetrics => Double) = tm.map(f).getOrElse(-1.0)
    def kb(f: org.apache.spark.executor.TaskMetrics => Long) = tm.map(f(_) / 1024).getOrElse(-1L)
    stages.add(f"id=${si.stageId}%4d tasks=${si.numTasks}%4d wall=$wall%7.3fs " +
      f"run=${sec(_.executorRunTime / 1e3)}%7.3fs cpu=${sec(_.executorCpuTime / 1e9)}%7.3fs " +
      f"sr=${kb(_.shuffleReadMetrics.totalBytesRead)}%6dKB " +
      f"sw=${kb(_.shuffleWriteMetrics.bytesWritten)}%6dKB ${si.name.takeWhile(_ != '(')}")
  }

  /** The completed stages' lines, oldest first. */
  def stageLines: Seq[String] = stages.asScala.toSeq

  def sums: String =
    f"shuffleRead=${shufRead.sum / 1e6}%.0fMB shuffleWrite=${shufWrite.sum / 1e6}%.0fMB " +
      f"spill=${spill.sum / 1e6}%.0fMB peakTask=${peakMem.get / 1e6}%.0fMB"

  def reset(): Unit = {
    shufRead.reset(); shufWrite.reset(); spill.reset(); peakMem.set(0L)
    stages.clear()
  }
}
