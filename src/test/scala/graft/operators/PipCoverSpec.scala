package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CellCover, CellId, Planar}
import graft.plans.PipKernel
import graft.sources.Synth

/** The classified broadcast PIP cover (SpatialOps.pip over CellCover),
  * join and anti join, against the brute-force ray cast and its
  * complement, on random convex and concave-with-hole polygons and on the
  * points where a cover can go wrong: polygon vertices, points exactly on
  * edges, and the edges and corners of every level-8 bbox cell.
  */
class PipCoverSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private type Rings = Array[(Array[Long], Array[Long])]
  private val L = SpatialOps.CoverLevel
  // bound on the expression nodes in the optimized plan of `pip` over a
  // bare point frame: 34 with the cell key as one native call, 537 when it
  // was a built-in tree copied into the plan
  private val PipPlanNodes = 40
  // vertices on a 2^10 lattice, so every edge has integer points inside it
  private val Grid = 1024L
  private def snap(v: Double): Long = math.round(v / Grid) * Grid

  /** CCW convex polygon: `n` vertices at sorted random angles on a circle. */
  private def convex(r: scala.util.Random, cx: Long, cy: Long, rad: Double): Rings = {
    val angles = Array.fill(3 + r.nextInt(6))(r.nextDouble() * 2 * math.Pi).sorted.distinct
    val pts = angles.map(a => (snap(cx + rad * math.cos(a)), snap(cy + rad * math.sin(a)))).distinct
    Array((pts.map(_._1), pts.map(_._2)))
  }

  /** Concave star (alternating radii) with a square hole around its center. */
  private def concaveWithHole(r: scala.util.Random, cx: Long, cy: Long, rad: Double): Rings = {
    val n = 10 + 2 * r.nextInt(4)
    val star = Array.tabulate(n) { k =>
      val a = 2 * math.Pi * k / n
      val rr = if (k % 2 == 0) rad else rad * (0.3 + 0.3 * r.nextDouble())
      (snap(cx + rr * math.cos(a)), snap(cy + rr * math.sin(a)))
    }
    val h = snap(rad * 0.15)
    val hole = (Array(cx - h, cx - h, cx + h, cx + h), Array(cy - h, cy + h, cy + h, cy - h))
    Array((star.map(_._1), star.map(_._2)), hole)
  }

  private def bboxCells(rings: Rings, lvl: Int): Array[Long] = {
    val xs = rings.flatMap(_._1); val ys = rings.flatMap(_._2)
    CellId.coverBBox(xs.min, ys.min, xs.max, ys.max, lvl)
  }

  /** Vertices, integer points on every edge, and the corners, edge
    * midpoints and just-outside neighbours of every level-`L` bbox cell.
    */
  private def probes(rings: Rings): Seq[(Long, Long)] = {
    val onRings = rings.toSeq.flatMap { case (xs, ys) =>
      xs.indices.flatMap { j =>
        val k = (j + 1) % xs.length
        val dx = xs(k) - xs(j); val dy = ys(k) - ys(j)
        val g = BigInt(dx).gcd(BigInt(dy)).toLong max 1L
        Seq(0L, 1L, g / 2, g - 1).distinct.map(t => (xs(j) + dx / g * t, ys(j) + dy / g * t))
      }
    }
    val onCells = bboxCells(rings, L).toSeq.flatMap { cell =>
      val (x0, y0, x1, y1) = CellCover.rect(cell)
      val mx = (x0 + x1) / 2; val my = (y0 + y1) / 2
      Seq((x0, y0), (x1, y1), (x0, y1), (x1, y0), (mx, y0), (mx, y1), (x0, my), (x1, my),
        (x0 - 1, my), (x1 + 1, my), (mx, y0 - 1), (mx, y1 + 1), (mx, my))
    }
    onRings ++ onCells
  }

  private def pointsDf(pts: Seq[(Long, Long)]): DataFrame = {
    val s = spark; import s.implicits._
    pts.distinct.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("pid", "lon_fix", "lat_fix")
  }

  private def bruteForce(pts: DataFrame, polys: PipKernel.Polys): Set[(Long, Int)] =
    pts.collect().flatMap { r =>
      polys.toSeq.collect { case (id, rings) if Planar.pointInPolygon(r.getLong(1), r.getLong(2), rings) =>
        (r.getLong(0), id)
      }
    }.toSet

  private def pairs(df: DataFrame): Set[(Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  /** The join and the anti join of `pip` against the brute force: the
    * anti join returns exactly the points no polygon contains, with their
    * coordinates.
    */
  private def assertPip(pts: DataFrame, polys: PipKernel.Polys): Set[(Long, Int)] = {
    val want = bruteForce(pts, polys)
    assert(pairs(SpatialOps.pip(spark, pts, polys)) === want)
    val outside = pts.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filterNot(p => want.exists(_._1 == p._1)).toSet
    val anti = SpatialOps.pip(spark, pts, polys, anti = true)
    assert(anti.columns.toSeq === Seq("pid", "lon_fix", "lat_fix"))
    assert(anti.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === outside)
    want
  }

  private val random: PipKernel.Polys = {
    val r = new scala.util.Random(61)
    (0 until 16).map { k =>
      val cx = r.between(-1600000000L, 1600000000L)
      val cy = r.between(-700000000L, 700000000L)
      val rad = 5e6 + r.nextDouble() * 8e7
      k -> (if (k % 2 == 0) convex(r, cx, cy, rad) else concaveWithHole(r, cx, cy, rad))
    }.toMap
  }

  test("pipJoinGeneral equals the brute-force ray cast on random convex and holed concave polygons") {
    val pts = pointsDf(random.values.toSeq.flatMap(probes) ++ {
      val r = new scala.util.Random(67)
      Seq.fill(4000)((r.between(-1800000000L, 1800000000L), r.between(-900000000L, 900000000L)))
    })
    val want = assertPip(pts, random)
    assert(want.size > 1000, s"vacuous: only ${want.size} hits")
    assert(want.map(_._1).size < pts.count() - 1000, "vacuous: few points outside")
  }

  test("pipJoinConvex equals the brute-force ray cast on hexagon vertices, edges and cell-rect edges") {
    val pts = pointsDf(Synth.hexagonPolys.values.toSeq.flatMap(probes))
    val want = bruteForce(pts, Synth.hexagonPolys)
    assert(pairs(SpatialOps.pip(spark, pts)) === want)
  }

  test("no ring edge touches a FULL cell's rect, and every hexagon has FULL cells") {
    Synth.hexagonPolys.foreach { case (id, rings) =>
      assert(CellCover.classified(rings, L).exists(_._2), s"hexagon $id has no FULL cell")
    }
    val all = random ++ Synth.hexagonPolys.map { case (k, v) => (k + 100) -> v }
    all.foreach { case (id, rings) =>
      CellCover.classified(rings, L).collect { case (c, true) => c }.foreach { cell =>
        val (x0, y0, x1, y1) = CellCover.rect(cell)
        val sides = Seq((x0, y0, x1, y0), (x1, y0, x1, y1), (x1, y1, x0, y1), (x0, y1, x0, y0))
        rings.foreach { case (xs, ys) =>
          xs.indices.foreach { j =>
            val k = (j + 1) % xs.length
            assert(!(xs(j) >= x0 && xs(j) <= x1 && ys(j) >= y0 && ys(j) <= y1),
              s"polygon $id: vertex inside FULL cell $cell")
            sides.foreach { case (ax, ay, bx, by) =>
              assert(!Planar.segmentsIntersect(xs(j), ys(j), xs(k), ys(k), ax, ay, bx, by),
                s"polygon $id: edge $j touches FULL cell $cell")
            }
          }
        }
        assert(Planar.pointInPolygon(x0, y0, rings), s"polygon $id: FULL cell $cell outside")
      }
    }
  }

  test("FULL cells skip the ray cast: with ring geometry emptied, deep interior points still hit") {
    val noGeom: PipKernel.Polys =
      Synth.hexagonPolys.map { case (k, _) => k -> Array.empty[(Array[Long], Array[Long])] }
    val cover = SpatialOps.classifiedCover(Synth.hexagonPolys, L)
    val pts = pointsDf(Synth.hexagons.flatMap(h => Seq((h.cx, h.cy), (h.xs(0), h.ys(0)))))
    val got = pairs(SpatialOps.pipCoverJoin(spark, pts, cover, noGeom, anti = false, Nil))
    // without geometry exactly the pairs in FULL cells survive: every
    // hexagon's center, and no vertex of its own (a PARTIAL cell)
    val full = cover.collect { case (cell, id, true) => (cell, id) }.toSet
    val rows = pts.collect()
    val want = rows.flatMap { r =>
      val cell = CellId.fromFix(r.getLong(1), r.getLong(2), L)
      full.collect { case (`cell`, id) => (r.getLong(0), id) }
    }.toSet
    assert(got === want)
    Synth.hexagons.foreach { h =>
      val center = rows.find(r => r.getLong(1) == h.cx && r.getLong(2) == h.cy).get.getLong(0)
      val vertex = rows.find(r => r.getLong(1) == h.xs(0) && r.getLong(2) == h.ys(0)).get.getLong(0)
      assert(got.contains((center, h.polyId)), s"center of hexagon ${h.polyId} lost")
      assert(!got.contains((vertex, h.polyId)), s"vertex of hexagon ${h.polyId} kept")
    }
  }

  test("points clamped into a domain-edge cell are ray cast, not accepted or dropped by the cover") {
    // a square across the antimeridian, and one wholly beyond it, on each
    // side: cell-id binning clamps lon > 180° into the easternmost cell of
    // every level and lon < -180° into the westernmost
    def square(x0: Long, x1: Long): Rings =
      Array((Array(x0, x1, x1, x0), Array(0L, 0L, 100000000L, 100000000L)))
    val polys: PipKernel.Polys = Map(
      1 -> square(1750000000L, 1850000000L), 2 -> square(1810000000L, 1850000000L),
      3 -> square(-1850000000L, -1750000000L), 4 -> square(-1850000000L, -1810000000L))
    val east = Seq(1890000000L, 1990000000L, 1830000000L, 1770000000L, 1799999999L)
    val pts = (east ++ east.map(-_)).map(x => (x, 50000000L))
    assertPip(pointsDf(pts), polys)
  }

  test("the optimized pip plan stays small: the cell key is one native call, not a copied tree") {
    // a range-backed frame, so the optimizer cannot fold the projection into
    // a local relation
    val pts = spark.range(4).select(col("id").as("pid"), (col("id") * 1000).as("lon_fix"),
      col("id").as("lat_fix"))
    val plan = SpatialOps.pip(spark, pts).queryExecution.optimizedPlan
    val nodes = plan.collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }.sum
    assert(nodes < PipPlanNodes, s"$nodes expression nodes in\n$plan")
  }

  test("an empty polygon map: the join returns no rows, the anti join every point") {
    val df = pointsDf(Seq((0L, 0L), (1799999999L, 50000000L), (-1890000000L, -899999999L)))
    assert(assertPip(df, Map.empty).isEmpty)
    assert(SpatialOps.pip(spark, df, Map.empty, anti = true).count() === 3)
  }
}
