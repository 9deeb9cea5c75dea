package graft

import graft.operators.{MetricsOps, StageMetric}

/** Dev tool: profile one SparkEntry query — runs it twice (pass 1 warms
  * JIT/codegen, pass 2 is measured) and prints a per-stage table with
  * wall ms, task count, executor run/CPU ms and shuffle record counts.
  * executorCpuMs is the contention-robust compute metric on this noisy
  * shared host: external load inflates wall and run time, not CPU time.
  * Runs at local[SPARK_GRAFT_CPUS], default the host's core count, over
  * SPARK_GRAFT_SF_DIR (default sf0.1).
  * Usage: runMain graft.ProfileQuery <name> [name...].
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchScale.session(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors))
    spark.sparkContext.setLogLevel("WARN")
    args.foreach(profileOne(spark, sfDir, _))
    spark.stop()
  }

  private def profileOne(spark: org.apache.spark.sql.SparkSession,
                         sfDir: String, name: String): Unit = {
    // pass 1: warm-up (JIT, codegen caches), not profiled
    graft.core.CacheScope.releaseGlobal()
    spark.sharedState.cacheManager.clearCache()
    val w0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).count()
    println(f"[profile] $name warm pass: ${(System.nanoTime() - w0) / 1e9}%.2f s")
    // pass 2: profiled
    graft.core.CacheScope.releaseGlobal()
    spark.sharedState.cacheManager.clearCache()
    val ((rows, sec), metrics) = MetricsOps.withProgress(spark) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    println(f"[profile] $name measured pass: $sec%.2f s ($rows rows)")
    import spark.implicits._
    val ms = metrics.as[StageMetric].collect().sortBy(_.stageId)
    println(f"${"stage"}%6s ${"wallMs"}%7s ${"tasks"}%5s ${"runMs"}%7s ${"cpuMs"}%7s ${"inRec"}%9s ${"shRead"}%9s ${"shWrite"}%9s  name")
    ms.foreach { r =>
      println(f"${r.stageId}%6d ${r.wallMs}%7d ${r.tasks}%5d ${r.executorRunMs}%7d " +
        f"${r.executorCpuMs}%7d ${r.inputRecords}%9d ${r.shuffleReadRecords}%9d " +
        f"${r.shuffleWriteRecords}%9d  ${r.name}")
    }
    println(f"[profile] stages=${ms.length} sumWall=${ms.map(_.wallMs).sum} " +
      f"sumRun=${ms.map(_.executorRunMs).sum} sumCpu=${ms.map(_.executorCpuMs).sum} " +
      f"(wall ${sec * 1000}%.0f ms)")
  }
}
