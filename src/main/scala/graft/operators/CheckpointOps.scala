package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Resumable partitioned jobs with per-partition lineage + metrics
  * (north rule: "per-partition lineage and metrics persisted to a
  * checkpoint table so any stage resumes without recompute").
  *
  * Model: a job's input is split into deterministic buckets
  * (pmod(hash-key, numBuckets)); each bucket's output lands in its own
  * directory and a lineage row (bucket, rows, checksum, wall_ms, ts)
  * is appended to the checkpoint table AFTER the bucket's data commits.
  * Resume = anti-join the bucket list against the lineage table — only
  * missing buckets recompute. Works on any filesystem with atomic
  * directory commit (the same contract Iceberg formalizes with snapshot
  * metadata; expressed here against plain parquet so the sandbox can run
  * it).
  */
object CheckpointOps {

  /** The parquet table at `path`, or None when no table is there yet.
    * Only a missing path maps to None: any other read failure (IO,
    * permissions, a corrupt footer) throws, so a broken table is never
    * mistaken for a fresh start that recomputes or re-appends history.
    */
  def readIfExists(spark: SparkSession, path: String): Option[DataFrame] =
    try Some(spark.read.parquet(path))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("PATH_NOT_FOUND") ||
             e.getMessage.toLowerCase.contains("path does not exist") =>
        None
    }

  /** Buckets already recorded in the lineage table (empty on first run). */
  def completedBuckets(spark: SparkSession, lineageDir: String): Set[Int] =
    readIfExists(spark, lineageDir).fold(Set.empty[Int])(
      _.select("bucket").distinct().collect().map(_.getInt(0)).toSet)

  /** Run `job` over every not-yet-completed bucket of `input` keyed by
    * pmod(keyCol, numBuckets). Returns the number of buckets executed.
    * Each bucket writes outDir/bucket=<b> and then its lineage row —
    * a crash between the two replays at most one bucket (idempotent
    * overwrite), never loses one.
    */
  def runResumable(spark: SparkSession, input: DataFrame, keyCol: String,
                   numBuckets: Int, outDir: String, lineageDir: String)
                  (job: DataFrame => DataFrame): Int = {
    import spark.implicits._
    val done = completedBuckets(spark, lineageDir)
    val todo = (0 until numBuckets).filterNot(done)
    todo.foreach { b =>
      val t0 = System.nanoTime()
      val bucketIn = input.filter(pmod(col(keyCol), lit(numBuckets)) === b)
      val out = job(bucketIn)
      out.write.mode("overwrite").parquet(s"$outDir/bucket=$b")
      val written = spark.read.parquet(s"$outDir/bucket=$b")
      // order-independent, overflow-free content checksum: xor of row hashes
      val stats = written
        .select(xxhash64(struct(written.columns.map(col): _*)).as("__h"))
        .agg(count(lit(1)).as("rows"),
          coalesce(expr("bit_xor(__h)"), lit(0L)).as("checksum"))
        .collect()(0)
      val wallMs = (System.nanoTime() - t0) / 1000000
      Seq((b, stats.getLong(0), stats.getLong(1), wallMs))
        .toDF("bucket", "rows", "checksum", "wall_ms")
        .write.mode("append").parquet(lineageDir)
    }
    todo.size
  }

  /** The iterative companion of [[runResumable]]: a convergence loop
    * (label propagation, pointer jumping, any fixed-point refinement)
    * whose per-round state is durable, so a pre-empted job restarts from
    * its last completed ROUND instead of round zero — on a 1000-executor
    * cluster where pre-emption is routine, an O(log d)-round job must
    * never pay O(rounds²) in replays.
    *
    * Protocol: round r's full state frame commits to stateDir/round=<r>
    * BEFORE its lineage row (round, rows, checksum, changed, wall_ms)
    * appends — a crash between the two replays exactly one round
    * (idempotent overwrite), never loses one. Resume reads the lineage
    * table, reloads the newest durable round, and continues counting
    * from it; a round recorded with changed = 0 short-circuits to done.
    * Because every round re-reads parquet, the logical plan is reborn
    * each round — the iterative-loop plan-explosion hazard (see
    * GraphOps.componentsLoop) cannot arise, which is exactly
    * the trade: one write+read barrier of round latency buys exact
    * resumability AND a flat analyzer cost.
    *
    * `step(state, round)` returns (next state, changed-count); the loop
    * stops when changed == 0 or after `maxRounds` rounds THIS invocation
    * (a cap for tests/budgeted runs — call again to continue). Returns
    * (final durable state, total completed rounds across invocations,
    * rounds executed by THIS invocation — 0 for a fully resumed loop).
    */
  def iterateResumable(spark: SparkSession, init: => DataFrame, stateDir: String,
                       maxRounds: Int = Int.MaxValue)
                      (step: (DataFrame, Int) => (DataFrame, Long)): (DataFrame, Int, Int) = {
    import spark.implicits._
    val lineageDir = s"$stateDir/lineage"
    // only a MISSING lineage table means "fresh start" (readIfExists)
    val prior = readIfExists(spark, lineageDir).fold(Array.empty[(Int, Long)])(
      _.select("round", "changed").collect().map(r => (r.getInt(0), r.getLong(1))))
    var round = if (prior.isEmpty) 0 else prior.map(_._1).max
    var changed = if (prior.isEmpty) Long.MaxValue
      else prior.filter(_._1 == round).map(_._2).min
    if (prior.isEmpty) {
      // round 0 = the initial state, durable like any other round. Guarded
      // on the LINEAGE being empty, not round == 0: a resume whose newest
      // durable round is 0 (pre-empted during round 1) must not re-run
      // init or append a duplicate round-0 lineage row
      init.write.mode("overwrite").parquet(s"$stateDir/round=0")
      recordRound(spark, lineageDir, s"$stateDir/round=0", 0, Long.MaxValue, 0L)
    }
    var executed = 0
    while (changed != 0L && executed < maxRounds) {
      val t0 = System.nanoTime()
      val state = spark.read.parquet(s"$stateDir/round=$round")
      val (next, ch) = step(state, round + 1)
      next.write.mode("overwrite").parquet(s"$stateDir/round=${round + 1}")
      recordRound(spark, lineageDir, s"$stateDir/round=${round + 1}",
        round + 1, ch, (System.nanoTime() - t0) / 1000000)
      round += 1; executed += 1; changed = ch
    }
    (spark.read.parquet(s"$stateDir/round=$round"), round, executed)
  }

  private def recordRound(spark: SparkSession, lineageDir: String,
                          roundDir: String, round: Int, changed: Long,
                          wallMs: Long): Unit = {
    import spark.implicits._
    val written = spark.read.parquet(roundDir)
    val stats = written
      .select(xxhash64(struct(written.columns.map(col): _*)).as("__h"))
      .agg(count(lit(1)).as("rows"),
        coalesce(expr("bit_xor(__h)"), lit(0L)).as("checksum"))
      .collect()(0)
    Seq((round, stats.getLong(0), stats.getLong(1), changed, wallMs))
      .toDF("round", "rows", "checksum", "changed", "wall_ms")
      .write.mode("append").parquet(lineageDir)
  }
}
