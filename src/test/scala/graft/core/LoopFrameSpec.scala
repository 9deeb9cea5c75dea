package graft.core

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The plan cut and the round barrier built on it: what the cut keeps of
  * its origin, and how many rounds a [[LoopFrame]] holds.
  */
class LoopFrameSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def clean(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  private def held: Int = spark.sparkContext.getPersistentRDDs.size

  private def pairs(n: Long): DataFrame =
    spark.range(n).select(col("id").as("k"), (col("id") * 2).as("v"))

  test("the cut keeps a finite size estimate; the Row cut does not") {
    clean()
    val origin = pairs(20000).persist()
    origin.count()
    def size(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val viaRows = spark.createDataFrame(origin.rdd, origin.schema)
    assert(size(viaRows) === BigInt(Long.MaxValue))
    val cut = GraftPlanBridge.cut(origin)
    assert(size(cut) < BigInt(Long.MaxValue))
    assert(size(cut) === size(origin))
    origin.unpersist(blocking = true)
  }

  test("a join of a cut with its persisted origin returns the brute-force rows") {
    clean()
    val origin = pairs(1000).persist()
    val cut = GraftPlanBridge.cut(origin)
    val local = origin.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byKey = cut.join(origin, "k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(byKey === local.map { case (k, v) => (k, v, v) }.toSet)
    val shifted = cut
      .join(origin.select(col("k").as("k2"), col("v").as("v2")),
        col("k") === col("k2") + 1)
      .select(col("k"), col("v2")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(shifted === local.collect {
      case (k, _) if local.contains(k - 1) => k -> local(k - 1)
    }.toSet)
    origin.unpersist(blocking = true)
  }

  test("advance holds one round and keeps the plan size constant over 30 rounds") {
    clean()
    val loop = new LoopFrame(pairs(200))
    assert(held === 1)
    // uncut, this round reads its predecessor twice: the plan would double
    def step(f: DataFrame): DataFrame =
      f.select(col("k"), (col("v") + 1).as("v"))
        .join(f.select(col("k")), "k")
    val sizes = (1 to 30).map { _ =>
      val next = step(loop.frame)
      val nodes = next.queryExecution.analyzed.collect { case p => p }.size
      assert(loop.advance(next) === 200L)
      assert(held === 1)
      nodes
    }
    assert(sizes.distinct.size === 1, sizes)
    assert(loop.frame.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
      === (0 until 200).map(k => 2L * k + 30).sum)
    val scope = new CacheScope
    assert(loop.keep(scope).count() === 200L)
    assert(held === 1)
    scope.release()
    assert(held === 0)
  }

  test("advance takes the round's own measure in place of the count") {
    clean()
    val loop = new LoopFrame(pairs(100).withColumn("old", col("v")))
    val changed = loop.advance(
      loop.frame.select(col("k"), col("v"), (col("k") % 4 === 0).as("flag"))
        .select(col("k"), col("v").as("old"),
          (col("v") + col("flag").cast("long")).as("v")),
      _.filter(col("v") =!= col("old")).count())
    assert(changed === 25L)
    assert(loop.rows === 25L)
    val scope = new CacheScope
    loop.keep(scope)
    scope.release()
    assert(held === 0)
  }

  test("a first frame the caller persisted stays the caller's") {
    clean()
    val owned = pairs(50).persist()
    owned.count()
    val loop = new LoopFrame(owned)
    val scope = new CacheScope
    loop.keep(scope)
    scope.release()
    assert(held === 1, "keep released the caller's frame")
    loop.advance(loop.frame.select(col("k"), lit(0L).as("v")))
    assert(held === 2, "advance released the caller's frame")
    loop.keep(scope)
    scope.release()
    assert(held === 1)
    owned.unpersist(blocking = true)
    assert(held === 0)
  }
}
