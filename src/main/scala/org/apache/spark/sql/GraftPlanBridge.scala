package org.apache.spark.sql

import org.apache.spark.sql.execution.LogicalRDD

/** The engine's one plan cut — the package-private `Dataset` factory
  * `Dataset.checkpoint` itself uses, without the checkpoint.
  */
object GraftPlanBridge {

  /** `df` as a new leaf over its own physical rows: later plans built on
    * the result start from that leaf, so the analyzer and optimizer never
    * walk `df`'s plan again. The data still comes from `df` (its cache
    * when persisted, a recompute otherwise), and the leaf keeps `df`'s
    * attribute ids, size estimate and output partitioning — a cut frame
    * small enough to broadcast still plans as a broadcast. Rows are
    * copied because `toRdd` may reuse one row object per partition. A
    * cut is also a codegen barrier: projections below it run once per
    * row of `df`, not inside a downstream operator's per-row loop.
    */
  def cut(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(
      ds.queryExecution.toRdd.map(_.copy()), ds, isStreaming = false))
  }
}
