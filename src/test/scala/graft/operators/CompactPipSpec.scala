package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** SpatialOps.pipJoinCompact vs a direct dense-raster reference. */
class CompactPipSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val L = 6
  private def cellX(lon: Long) = math.min(
    ((lon + 1800000000L) * (1L << L)) / 3600000000L, (1L << L) - 1)
  private def cellY(lat: Long) = math.min(
    ((lat + 900000000L) * (1L << L)) / 1800000000L, (1L << L) - 1)

  test("counts equal the dense-raster candidate set + exact test") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(37)
    // two CCW axis-aligned squares (inside test is a bounds check)
    val polys = Seq(
      (1L, 0L, 0L, 400000000L, 300000000L),
      (2L, -600000000L, -400000000L, -100000000L, 100000000L))
    val polysDf = polys.map { case (id, x0, y0, x1, y1) =>
      (id, Array(x0, x1, x1, x0), Array(y0, y0, y1, y1))
    }.toDF("poly_id", "xs", "ys")
    val pts = Seq.tabulate(4000)(i =>
      (i.toLong, rnd.nextLong() % 900000000L, rnd.nextLong() % 600000000L))
    val got = SpatialOps.pipJoinCompact(
        pts.toDF("pid", "lon_fix", "lat_fix"), polysDf, L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: fine cell center-inside polygon AND point inside
    val want = polys.map { case (id, x0, y0, x1, y1) =>
      val n = 1L << L
      def cov(cx: Long, cy: Long): Boolean = {
        val px = (2 * cx + 1) * 3600000000L / (2 * n) - 1800000000L
        val py = (2 * cy + 1) * 1800000000L / (2 * n) - 900000000L
        px >= x0 && px <= x1 && py >= y0 && py <= y1
      }
      id -> pts.count { case (_, lon, lat) =>
        lon >= x0 && lon <= x1 && lat >= y0 && lat <= y1 &&
          cov(cellX(lon), cellY(lat))
      }.toLong
    }.filter(_._2 > 0).toMap
    assert(got === want)
  }

  test("precomputed-cover overload: identical result, probe-only plan") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(41)
    val polysDf = Seq(
      (1L, Array(0L, 400000000L, 400000000L, 0L),
        Array(0L, 0L, 300000000L, 300000000L)),
      (2L, Array(-600000000L, -100000000L, -100000000L, -600000000L),
        Array(-400000000L, -400000000L, 100000000L, 100000000L)))
      .toDF("poly_id", "xs", "ys")
    val pts = Seq.tabulate(2000)(i =>
      (i.toLong, rnd.nextLong() % 900000000L, rnd.nextLong() % 600000000L))
      .toDF("pid", "lon_fix", "lat_fix")
    // the production shape: cover built ONCE, persisted as an artifact,
    // read back for every probe batch
    val dir = java.nio.file.Files.createTempDirectory("graft_cover").toString
    SpatialOps.compactCells(
        SpatialOps.rasterizePolygons(polysDf, L)
          .select(col("poly_id"), col("cell_x").as("bx"),
            col("cell_y").as("by")),
        L, keys = Seq("poly_id"))
      .write.mode("overwrite").parquet(dir)
    val probe = SpatialOps.pipJoinCompact(pts, polysDf, L,
      s.read.parquet(dir))
    // plan assertion: with the cover supplied, the probe is ONE ancestor
    // explode + TWO joins (cover equi-join, broadcast ray-cast refine) —
    // no rasterize (two sequence-explodes per polygon) and no compaction
    // (L left-anti rounds) may appear in the probe plan
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
    val plan = probe.queryExecution.optimizedPlan
    val joins = plan.collect { case j: Join => j }
    val gens = plan.collect { case g: Generate => g }
    assert(joins.length == 2,
      s"probe plan has ${joins.length} joins, want 2 (cover + refine):\n$plan")
    assert(gens.length == 1,
      s"probe plan has ${gens.length} Generate nodes, want 1 (ancestors):\n$plan")
    // and the overload is result-identical to the build-in-query path
    val gotCover = probe.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotBuild = SpatialOps.pipJoinCompact(pts, polysDf, L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotCover === gotBuild)
  }

  test("cover-join dispatch parity: broadcast and shuffle-hash branches agree") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(43)
    val polysDf = Seq(
      (1L, Array(0L, 400000000L, 400000000L, 0L),
        Array(0L, 0L, 300000000L, 300000000L)),
      (2L, Array(-600000000L, -100000000L, -100000000L, -600000000L),
        Array(-400000000L, -400000000L, 100000000L, 100000000L)))
      .toDF("poly_id", "xs", "ys")
    val pts = Seq.tabulate(3000)(i =>
      (i.toLong, rnd.nextLong() % 900000000L, rnd.nextLong() % 600000000L))
      .toDF("pid", "lon_fix", "lat_fix")
    val cov = SpatialOps.compactCells(
      SpatialOps.rasterizePolygons(polysDf, L)
        .select(col("poly_id"), col("cell_x").as("bx"), col("cell_y").as("by")),
      L, keys = Seq("poly_id")).persist()
    val st = cov.agg(org.apache.spark.sql.functions.min(col("lv")),
      org.apache.spark.sql.functions.max(col("lv"))).head()
    val (lo, hi) = (st.getLong(0), st.getLong(1))
    def run(bc: Boolean) = SpatialOps
      .pipJoinCompactProbe(pts, polysDf, L, cov, lo, hi, broadcastCover = bc)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(true) === run(false))
    // and the ladder trim is lossless: the full 0..L ladder agrees too
    val full = SpatialOps
      .pipJoinCompactProbe(pts, polysDf, L, cov, 0L, L.toLong, broadcastCover = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full === run(true))
    cov.unpersist()
  }

  test("the caller's scope owns the cover persist: releasing it unpersists the cover") {
    val s = spark; import s.implicits._
    s.catalog.clearCache()
    graft.core.CacheScope.releaseGlobal()
    val rnd = new scala.util.Random(47)
    val polysDf = Seq(
      (1L, Array(0L, 400000000L, 400000000L, 0L),
        Array(0L, 0L, 300000000L, 300000000L)))
      .toDF("poly_id", "xs", "ys")
    val pts = Seq.tabulate(500)(i =>
      (i.toLong, rnd.nextLong() % 900000000L, rnd.nextLong() % 600000000L))
      .toDF("pid", "lon_fix", "lat_fix")
    val cover = SpatialOps.compactCells(
      SpatialOps.rasterizePolygons(polysDf, L)
        .select(col("poly_id"), col("cell_x").as("bx"), col("cell_y").as("by")),
      L, keys = Seq("poly_id"))
    val scope = new graft.core.CacheScope
    SpatialOps.pipJoinCompact(pts, polysDf, L, cover, scope).collect()
    assert(cover.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    scope.release()
    assert(cover.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    // the build-in-query overload hands its scope to the cover persist too
    val built = new graft.core.CacheScope
    SpatialOps.pipJoinCompact(pts, polysDf, L, built).collect()
    assert(!s.sharedState.cacheManager.isEmpty)
    built.release()
    assert(s.sharedState.cacheManager.isEmpty, "a persist escaped the caller's scope")
  }
}
