package graft.core

import scala.collection.mutable

import org.apache.spark.sql.Dataset

/** Persist-hygiene contract for library operators.
  *
  * Several operators persist intermediates that the returned (lazy) plan
  * reads more than once — the operator cannot unpersist them itself because
  * the caller has not consumed the result yet, and a library must not leak
  * executor storage in a long-lived session. The contract: every such
  * persist is registered in a CacheScope; the CALLER releases the scope
  * once it has consumed (acted on) the result.
  *
  * By default operators register in [[CacheScope.global]]; batch drivers
  * (Verify, Bench) call [[CacheScope.releaseGlobal]] after each query.
  * Long-lived callers pass their own scope and release per unit of work.
  * After release, re-running the returned plan recomputes the intermediates
  * (correct, just un-cached).
  */
final class CacheScope {
  private val tracked = mutable.ArrayBuffer.empty[Dataset[_]]

  /** Persist `ds` and register it for release. */
  def persist[T](ds: Dataset[T]): Dataset[T] = synchronized {
    tracked += ds
    ds.persist()
  }

  /** Register an already-persisted dataset for release (a
    * [[LoopFrame]] hands over only its surviving round).
    */
  def track[T](ds: Dataset[T]): Dataset[T] = synchronized { tracked += ds; ds }

  /** Unpersist everything registered since the last release. A frame whose
    * SparkContext has since stopped is skipped — releasing storage on a
    * dead context is a no-op, not an error (a short-lived session that
    * stops before releasing its scope must not poison the next session
    * that shares the global scope).
    */
  def release(): Unit = synchronized {
    tracked.foreach { ds =>
      try {
        if (!ds.sparkSession.sparkContext.isStopped) ds.unpersist(blocking = false)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    tracked.clear()
  }
}

object CacheScope {
  /** Default sink for operators called without an explicit scope. */
  val global = new CacheScope

  def releaseGlobal(): Unit = global.release()
}
