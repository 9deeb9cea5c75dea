package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Live throughput metrics — the reference's Progress handler
  * (reference/include/osmium/handler/progress.hpp:47-197 prints
  * objects/sec as the stream flows) re-expressed as a SparkListener that
  * records per-stage rows/bytes/wall-time. Rows land in an in-memory
  * buffer exposed as a DataFrame, which production jobs append to the
  * lineage/metrics checkpoint table (CheckpointOps) — per the north rule's
  * "per-partition lineage and metrics persisted".
  */
case class StageMetric(stageId: Int, name: String, tasks: Int,
                       inputRecords: Long, shuffleReadRecords: Long,
                       shuffleWriteRecords: Long, outputRecords: Long,
                       wallMs: Long, recordsPerSec: Double,
                       executorRunMs: Long, executorCpuMs: Long)

class ProgressListener extends SparkListener {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[StageMetric]()

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val info = sc.stageInfo
    val m = info.taskMetrics
    val wallMs = (for {
      s <- info.submissionTime; c <- info.completionTime
    } yield c - s).getOrElse(0L)
    val in = m.inputMetrics.recordsRead
    val rps = if (wallMs > 0) in * 1000.0 / wallMs else 0.0
    buf.add(StageMetric(info.stageId, info.name.takeWhile(_ != '\n'),
      info.numTasks, in, m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.recordsWritten, m.outputMetrics.recordsWritten,
      wallMs, rps, m.executorRunTime, m.executorCpuTime / 1000000L))
  }

  def snapshot(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    buf.asScala.toSeq.toDF()
  }

  def clear(): Unit = buf.clear()
}

object MetricsOps {
  /** Run `body` with a ProgressListener attached; returns (result, metrics
    * DataFrame). The metrics frame is append-ready for the checkpoint
    * lineage table.
    */
  def withProgress[T](spark: SparkSession)(body: => T): (T, DataFrame) = {
    val listener = new ProgressListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      // stage-completed events are posted asynchronously; drain the bus
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      (result, listener.snapshot(spark))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
