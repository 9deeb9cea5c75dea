package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{CacheScope, Planar, Tiles}
import graft.functions.Fns
import graft.operators.SpatialOps
import graft.sources.Synth

/** One benchmark workload: the fixed queries one pass runs, in an order
  * drawn from the seed, and the expected output of each.
  */
abstract class Workload {
  /** Builds the workload's inputs and expected outputs; run once per set-up. */
  def prepare(spark: SparkSession): Unit
  /** The queries of pass `pass`, in the order the seed gives them. */
  def order(pass: Int): Seq[String]
  /** Calls the engine's entry point for `query`; the returned frame is not yet executed. */
  def build(spark: SparkSession, query: String): DataFrame
  /** Drops what an earlier query left cached, so each query pays its full cost. */
  def reset(spark: SparkSession): Unit = ()
  /** None when `got` is the expected output of `query`, else why not. */
  def check(query: String, got: Checksum.Result): Option[String]
  /** Rows of input `query` reads. */
  def inputRows(query: String): Long
}

object Workload {
  /** Queries whose executor CPU is below one core-second per wall second:
    * planning, job scheduling, eager probes and cache bookkeeping set their
    * time. Chosen once: of the 48 such queries under one second warm at
    * sf0.01, every sixth by warm latency.
    */
  val ShortMix: Seq[String] = Seq("q_geo_area", "q_frames", "q_erode", "q_hilbert",
    "q_hits", "q_decontam", "q_balance", "q_change_groups")

  def apply(name: String, seed: Long, dataDir: String, expected: Map[String, Checksum.Result],
            inputRows: Map[String, Long]): Workload = name match {
    case "spatial_tile" => new SpatialTile(seed)
    case "short_mix" => new QueryMix(ShortMix, seed, dataDir, expected, inputRows)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** `SparkEntry.queries` entries with outputs recorded in expected/queries.json. */
final class QueryMix(queries: Seq[String], seed: Long, dataDir: String,
                     expected: Map[String, Checksum.Result], rows: Map[String, Long])
    extends Workload {
  def prepare(spark: SparkSession): Unit = ()
  def order(pass: Int): Seq[String] = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
  def build(spark: SparkSession, query: String): DataFrame =
    graft.SparkEntry.queries(query)(spark, dataDir)
  override def reset(spark: SparkSession): Unit = {
    CacheScope.releaseGlobal()
    spark.sharedState.cacheManager.clearCache()
  }
  def check(query: String, got: Checksum.Result): Option[String] = expected.get(query) match {
    case Some(want) if want == got => None
    case Some(want) => Some(s"$query: got $got, expected $want")
    case None => Some(s"$query: no expected output recorded")
  }
  def inputRows(query: String): Long = rows.getOrElse(query, 0L)
}

/** The flagship plan shape of `BenchScale.flagship` over seeded points:
  * `Points` base points replicated `Rep` times, the broadcast cell-cover PIP
  * join (`SpatialOps.pipJoinConvexTagged`), web-mercator tiles at z8
  * (`Fns.tileX`/`tileY`) and a per-tile count. Its expected output is `Rep`
  * times a brute-force scalar PIP count over the base points.
  */
final class SpatialTile(seed: Long) extends Workload {
  import SpatialTile._
  private var base: DataFrame = _
  private var want: Checksum.Result = _

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    val (xs, ys) = points(seed)
    base = xs.indices.map(i => (i.toLong, xs(i), ys(i))).toDF("pid", "lon_fix", "lat_fix")
      .repartition(spark.sparkContext.defaultParallelism).cache()
    base.count()
    want = Checksum.of(bruteForce(xs, ys).toSeq.map { case ((tx, ty), n) => (tx, ty, n) }
      .toDF("tx", "ty", "count"))
  }

  def order(pass: Int): Seq[String] = Seq(Name)

  def build(spark: SparkSession, query: String): DataFrame = {
    val pts = base.withColumn("r", explode(sequence(lit(0), lit(Rep - 1))))
      .select((col("pid") * Rep + col("r")).as("pid"), col("lon_fix"), col("lat_fix"))
    SpatialOps.pipJoinConvexTagged(spark, pts)
      .select(
        Fns.tileX(Zoom, Fns.fixToDeg(col("lon_fix"))).as("tx"),
        Fns.tileY(Zoom, Fns.fixToDeg(col("lat_fix"))).as("ty"))
      .groupBy("tx", "ty").count()
  }

  def check(query: String, got: Checksum.Result): Option[String] =
    if (got == want) None else Some(s"$query: got $got, expected $want (brute force)")

  def inputRows(query: String): Long = Points.toLong * Rep
}

object SpatialTile {
  val Name = "flagship_tiles"
  val Points = 100000
  val Rep = 1000
  val Zoom = 8

  /** Seeded base points over the span `Synth.points` covers: lon ±90°, lat ±60°. */
  def points(seed: Long): (Array[Long], Array[Long]) = {
    val r = new SplittableRandom(seed)
    (Array.fill(Points)(r.nextLong(-900000000L, 900000000L)),
      Array.fill(Points)(r.nextLong(-600000000L, 600000000L)))
  }

  /** Matches per z8 tile, times `Rep`: every (point, polygon) pair the
    * scalar ray cast accepts, over all `Synth.hexagons`.
    */
  def bruteForce(xs: Array[Long], ys: Array[Long]): Map[(Long, Long), Long] = {
    val rings = Synth.hexagons.map(h => Array((h.xs, h.ys)))
    val counts = scala.collection.mutable.HashMap.empty[(Long, Long), Long].withDefaultValue(0L)
    var i = 0
    while (i < xs.length) {
      val hits = rings.count(r => Planar.pointInPolygon(xs(i), ys(i), r))
      if (hits > 0) {
        val tile = (Tiles.tileX(Zoom, xs(i) / 1e7).toLong, Tiles.tileY(Zoom, ys(i) / 1e7).toLong)
        counts(tile) += hits.toLong * Rep
      }
      i += 1
    }
    counts.toMap
  }
}
