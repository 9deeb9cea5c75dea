package graft.core

import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.storage.StorageLevel

/** The round barrier of an iterative operator: the one place that
  * persists, counts, releases and cuts loop state.
  *
  * Each round is persisted and counted, which materializes it; only then
  * is the superseded round unpersisted, so no round recomputes its
  * predecessor. The round is then cut ([[GraftPlanBridge.cut]]) so the
  * next round's plan starts from a leaf over the cache and the analyzer
  * never walks a depth-`rounds` plan. At any time exactly one round is
  * held. A first frame the caller already persisted stays the caller's:
  * it is neither unpersisted nor handed to a scope here.
  *
  * Loops whose result reads every round (a union over rounds) hold each
  * round in their [[CacheScope]] and cut it directly instead.
  */
final class LoopFrame(first: DataFrame) {
  private[this] val borrowed = first.storageLevel != StorageLevel.NONE
  private[this] var held = if (borrowed) first else first.persist()
  private[this] var n = held.count()
  private[this] var current = GraftPlanBridge.cut(held)

  /** The current round, cut from its plan. */
  def frame: DataFrame = current

  /** Rows of the current round (or the `measure` of [[advance]]). */
  def rows: Long = n

  /** Makes `next` the current round: persists it, materializes it with
    * `measure` (the row count unless given), unpersists the superseded
    * round and cuts `next`. Returns the measure.
    */
  def advance(next: DataFrame, measure: DataFrame => Long = _.count()): Long = {
    val p = next.persist()
    n = measure(p)
    if (owned) held.unpersist(blocking = false)
    held = p
    current = GraftPlanBridge.cut(p)
    n
  }

  /** Hands the current round to `scope` for release once the caller has
    * consumed the result, and returns its cut frame.
    */
  def keep(scope: CacheScope): DataFrame = {
    if (owned) scope.track(held)
    current
  }

  private def owned: Boolean = !borrowed || (held ne first)
}
