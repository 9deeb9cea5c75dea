package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is -1 for a root span. Times are epoch
  * milliseconds, the clock Spark stamps its events with.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startMs: Double, endMs: Double)

/** Span recorder for the traced run. Driver-side spans (workload pass,
  * query, operators.build, action) are opened and closed by the harness
  * around its calls into the engine; job and stage spans come from the
  * scheduler's events. A job's parent is the span the harness had open
  * when the job was submitted (carried in a local property, alongside the
  * job group that names the query); a stage's parent is its job. All spans
  * stay in memory until the run ends.
  *
  * It also sums, per traced pass, the planning phases of every executed
  * Dataset action and the jobs submitted while an operator was still
  * building its result.
  */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile var enabled = false
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.HashMap.empty[Long, Span]
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Long]
  private val nanoOrigin = System.nanoTime()
  private val msOrigin = System.currentTimeMillis().toDouble

  private val counts = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  private def nowMs: Double = msOrigin + (System.nanoTime() - nanoOrigin) / 1e6

  def begin(name: String, layer: String, parent: Long): Long = synchronized {
    val id = nextId.incrementAndGet()
    open(id) = Span(id, parent, name, layer, nowMs, Double.NaN)
    sc.setLocalProperty(ParentKey, id.toString)
    id
  }

  def end(id: Long): Unit = synchronized {
    open.remove(id).foreach { s =>
      done += s.copy(endMs = nowMs)
      sc.setLocalProperty(ParentKey, if (s.parent >= 0) s.parent.toString else null)
    }
  }

  def spans: Seq[Span] = synchronized(done.toList)

  /** The pass counters so far, cleared for the next pass. */
  def takeCounts(): Map[String, Double] = synchronized {
    val m = counts.toMap; counts.clear(); m
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(ParentKey)))
      .map(_.toLong).getOrElse(-1L)
    val id = nextId.incrementAndGet()
    open(id) = Span(id, parent, s"job ${e.jobId}", "job", e.time.toDouble, Double.NaN)
    jobSpan(e.jobId) = id
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = id)
    val inBuild = open.get(parent).exists(_.layer == "operators.build")
    if (inBuild) counts("eager_jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).flatMap(open.remove).foreach(s => done += s.copy(endMs = e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    val i = e.stageInfo
    for (start <- i.submissionTime; end <- i.completionTime) {
      val id = nextId.incrementAndGet()
      done += Span(id, stageJob.getOrElse(i.stageId, -1L),
        s"stage ${i.stageId}.${i.attemptNumber()}", "stage", start.toDouble, end.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) synchronized {
      val phases = qe.tracker.phases
      Seq("analysis" -> "analysis_ms", "optimization" -> "optimizer_ms", "planning" -> "planning_ms")
        .foreach { case (phase, key) => phases.get(phase).foreach(p => counts(key) += p.durationMs) }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val ParentKey = "perfbench.parent.span"
}
