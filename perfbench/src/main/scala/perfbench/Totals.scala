package perfbench

import org.apache.spark.scheduler._

/** Running totals of everything the executors and the scheduler report.
  * This is all the untraced run keeps: a handful of counters updated on the
  * listener thread, no per-event storage.
  */
final class Totals extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var schedDelayMs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var shuffleReadBytes = 0L
  @volatile var fetchWaitMs = 0L
  @volatile var spillBytes = 0L
  @volatile var cachedBytes = 0L
  @volatile var cachePeakBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.diskBytesSpilled
      // the Spark UI's definition: launch-to-finish minus the task's own work
      schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cachedBytes += size - sizes.getOrElse(b.blockId.name, 0L)
      if (size > 0) sizes(b.blockId.name) = size else sizes.remove(b.blockId.name)
      cachePeakBytes = math.max(cachePeakBytes, cachedBytes)
    }
  }
  private val sizes = scala.collection.mutable.HashMap.empty[String, Long]

  /** Starts a new peak from the bytes cached now. */
  def resetPeak(): Unit = cachePeakBytes = cachedBytes

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "cpu_ns" -> cpuNs,
"gc_ms" -> gcMs, "sched_delay_ms" -> schedDelayMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spillBytes,
    "cache_peak_bytes" -> cachePeakBytes)
}
