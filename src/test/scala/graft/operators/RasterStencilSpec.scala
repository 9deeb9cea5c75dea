package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The raster stencil family over one cell stamp ([[SpatialOps.stamp]]):
  * the stamp's three grid-edge policies on corner cells, and the
  * distance transform, isochrone, region labels and pole of
  * inaccessibility against brute-force references on hand-built masks
  * that touch the grid edge; plus the metric buffer and the quadtree
  * leaves, checked against their own brute-force references.
  */
class RasterStencilSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L)
      .map(x => x >>> 33)

  /** Occupied cells of an ASCII mask: row index is `by`, column is `bx`. */
  private def mask(rows: String*): Seq[(Long, Long)] =
    for ((row, y) <- rows.zipWithIndex; (c, x) <- row.zipWithIndex if c == '#')
      yield (x.toLong, y.toLong)

  private def cellsDf(cells: Seq[(Long, Long)]): DataFrame = {
    val s = spark; import s.implicits._
    cells.toDF("bx", "by")
  }

  private def rook(c: (Long, Long)): Seq[(Long, Long)] =
    Seq((c._1 + 1, c._2), (c._1 - 1, c._2), (c._1, c._2 + 1), (c._1, c._2 - 1))

  /** Every operator of a plan, inside AQE plans, query stages and cached
    * relations too.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case _ => p.children.flatMap(nodes)
  })

  // an 8x8 grid (level 3) with cells on every grid edge; column 3 and
  // row 3 are empty, so the top-right block is cut off from the rest
  private val level = 3
  private val blocks = mask(
    "###.####",
    "#.#.#..#",
    "###.####",
    "........",
    "#######.",
    "......#.",
    "####..##",
    "#..#####")

  test("stamp: drop, wrap-x and keep on corner cells") {
    val s = spark; import s.implicits._
    val df = Seq((0L, 0L, 7L), (3L, 3L, 9L)).toDF("x", "y", "p")
    val n = 4L // level 2
    def got(edge: SpatialOps.StampEdge): Set[(Long, Long, Long, Int, Int)] = {
      val out = SpatialOps.stamp(df, "x", "y", SpatialOps.square(1), edge)
      assert(out.columns.toSeq === Seq("x", "y", "p", "dx", "dy"))
      out.as[(Long, Long, Long, Int, Int)].collect().toSet
    }
    val all = for ((x, y, p) <- Seq((0L, 0L, 7L), (3L, 3L, 9L));
                   dx <- -1 to 1; dy <- -1 to 1)
      yield (x + dx, y + dy, p, dx, dy)
    def in(v: Long) = v >= 0 && v < n
    assert(got(SpatialOps.StampEdge.Keep) === all.toSet)
    assert(all.size === 18 && all.exists(t => t._1 == -1 && t._2 == -1) &&
      all.exists(t => t._1 == 4 && t._2 == 4))
    assert(got(SpatialOps.StampEdge.Drop(2)) ===
      all.filter(t => in(t._1) && in(t._2)).toSet)
    assert(got(SpatialOps.StampEdge.Drop(2)).size === 8)
    val wrapped = all.filter(t => in(t._2))
      .map(t => (Math.floorMod(t._1, n), t._2, t._3, t._4, t._5)).toSet
    assert(got(SpatialOps.StampEdge.WrapX(2)) === wrapped)
    assert(wrapped.contains((3L, 0L, 7L, -1, 0)) && wrapped.contains((0L, 3L, 9L, 1, 0)))
    // the offset sets: the Chebyshev ball and the 4 unit neighbours
    assert(SpatialOps.square(2).toSet.size === 25)
    assert(SpatialOps.rook.toSet ===
      Set((1, 0), (-1, 0), (0, 1), (0, -1)))
    // a single offset is a projection, not an explode
    val one = SpatialOps.stamp(df, "x", "y", Seq((0, -1)), SpatialOps.StampEdge.Keep)
    assert(one.as[(Long, Long, Long, Int, Int)].collect().toSet ===
      Set((0L, -1L, 7L, 0, -1), (3L, 2L, 9L, 0, -1)))
    assert(!one.queryExecution.executedPlan.toString.contains("Generate"))
  }

  test("distanceTransform matches brute-force Chebyshev distances on an edge mask") {
    val occ = Seq((0L, 0L), (7L, 2L), (3L, 7L), (4L, 4L), (5L, 4L))
    val k = 2
    val df = SpatialOps.distanceTransform(cellsDf(occ), level, k)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = (for (gx <- 0L until 8L; gy <- 0L until 8L) yield {
      val d = occ.map(o => math.max(math.abs(o._1 - gx), math.abs(o._2 - gy))).min
      (gx, gy) -> d
    }).filter(_._2 <= k).toMap
    assert(got === want)
    assert(nodes(df.queryExecution.executedPlan).count(_.isInstanceOf[GenerateExec]) === 1,
      df.queryExecution.executedPlan.treeString)
  }

  test("isochrone matches a brute-force BFS; the empty column blocks it") {
    val s = spark; import s.implicits._
    val occ = blocks.toSet
    // (3, 3) is unoccupied: an unoccupied seed seeds nothing
    val seeds = Seq((0L, 0L), (7L, 7L), (3L, 3L))
    val maxHops = 6
    val got = SpatialOps.isochrone(cellsDf(blocks), seeds.toDF("bx", "by"),
        level, maxHops)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = scala.collection.mutable.Map[(Long, Long), Long]()
    var frontier = seeds.filter(occ).toSet
    frontier.foreach(c => want(c) = 0L)
    for (h <- 1 to maxHops) {
      frontier = frontier.flatMap(rook).filter(c => occ(c) && !want.contains(c))
      frontier.foreach(c => want(c) = h.toLong)
    }
    assert(got === want.toMap)
    assert(!got.contains((4L, 0L)) && !got.contains((7L, 1L)),
      "the top-right block lies behind the empty column")
    assert(got.values.max === maxHops.toLong, "the cap is reached")
  }

  test("regionLabels matches brute-force 4-connected flood fill; edges take one join") {
    val g = 1L << level
    val df = SpatialOps.regionLabels(cellsDf(blocks), level)
    val got = df.collect().map(r => (r.getAs[Long]("region"),
      (r.getAs[Long]("n_cells"), r.getAs[Long]("minx"), r.getAs[Long]("maxx"),
        r.getAs[Long]("miny"), r.getAs[Long]("maxy")))).toMap
    val occ = blocks.toSet
    val seen = scala.collection.mutable.Set[(Long, Long)]()
    val want = blocks.flatMap { start =>
      if (seen(start)) None else {
        var comp = Set(start); var frontier = Set(start)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(rook).filter(c => occ(c) && !comp(c))
          comp ++= frontier
        }
        seen ++= comp
        Some(comp.map(c => c._1 * g + c._2).min -> (comp.size.toLong,
          comp.map(_._1).min, comp.map(_._1).max,
          comp.map(_._2).min, comp.map(_._2).max))
      }
    }.toMap
    assert(got === want)
    assert(want.size === 3)
    // one inner equi-join builds the neighbor edges (the final left join
    // attaches the labels)
    val joins = nodes(df.queryExecution.executedPlan).distinct.collect {
      case j: BaseJoinExec => j.joinType
    }
    assert(joins.count(_ == Inner) === 1, df.queryExecution.executedPlan.treeString)
    graft.core.CacheScope.releaseGlobal()
  }

  test("poleOfInaccessibility matches brute force; the boundary stamp has no Union") {
    val s = spark; import s.implicits._
    // polygon 1: a 6x5 block in the grid corner; polygon 2: an L with a
    // thick arm on the top edge; polygon 3: a single cell
    val p1 = for (x <- 0L to 5L; y <- 0L to 4L) yield (1L, x, y)
    val p2 = (for (x <- 0L to 7L; y <- 5L to 7L) yield (2L, x, y)) ++
      (for (x <- 6L to 7L; y <- 0L to 4L) yield (2L, x, y))
    val p3 = Seq((3L, 9L, 9L))
    val cells = p1 ++ p2 ++ p3
    val df = SpatialOps.poleOfInaccessibility(cells.toDF("poly_id", "cell_x", "cell_y"))
    val got = df.as[(Long, Long, Long, Long)].collect().toSet
    val want = cells.groupBy(_._1).map { case (pid, cs) =>
      val set = cs.map(c => (c._2, c._3)).toSet
      val boundary = set.filter(c => rook(c).exists(n => !set(n)))
      val (x, y, d) = set.toSeq.map { c =>
        (c._1, c._2, boundary.map(b =>
          math.max(math.abs(b._1 - c._1), math.abs(b._2 - c._2))).min)
      }.maxBy { case (x, y, d) => (d, -x, -y) }
      (pid, x, y, d)
    }.toSet
    assert(got === want)
    assert(want.map(_._4) === Set(2L, 1L, 0L))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), plan)
  }

  test("bufferCells matches BigInt brute force on seeded ways") {
    val s = spark; import s.implicits._
    val level = 9; val r = 2000000L
    val pX = 3600000000L / (1L << level); val pY = 1800000000L / (1L << level)
    val pts = (0 until 3).flatMap { w =>
      val it = lcg(100L + w)
      val bx = it.next() % 200000000L - 100000000L
      val by = it.next() % 100000000L - 50000000L
      (0 until 4).map(i =>
        (w.toLong, i.toLong, bx + it.next() % 10000000L, by + it.next() % 10000000L))
    }
    val got = SpatialOps.bufferCells(pts.toDF("way_id", "seq", "x", "y"), r, level)
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // brute force: every segment, every cell in a 2R-expanded bbox, exact
    // BigInt point-to-segment distance on doubled coords
    val want = scala.collection.mutable.Map[(Long, Long), Long]()
    for (Seq((w1, _, x1, y1), (w2, _, x2, y2)) <- pts.sortBy(t => (t._1, t._2))
           .sliding(2).toSeq if w1 == w2) {
      val bxlo = math.max((math.min(x1, x2) - 2 * r + 1800000000L) / pX, 0L)
      val bxhi = math.min((math.max(x1, x2) + 2 * r + 1800000000L) / pX,
        (1L << level) - 1)
      val bylo = math.max((math.min(y1, y2) - 2 * r + 900000000L) / pY, 0L)
      val byhi = math.min((math.max(y1, y2) + 2 * r + 900000000L) / pY,
        (1L << level) - 1)
      for (bx <- bxlo to bxhi; by <- bylo to byhi) {
        val cx = BigInt(bx * 2 * pX + pX - 3600000000L)
        val cy = BigInt(by * 2 * pY + pY - 1800000000L)
        val (vx, vy) = (BigInt((x2 - x1) * 2), BigInt((y2 - y1) * 2))
        val (wx, wy) = (cx - x1 * 2, cy - y1 * 2)
        val (ux, uy) = (cx - x2 * 2, cy - y2 * 2)
        val dot = vx * wx + vy * wy
        val len2 = vx * vx + vy * vy
        val r2 = BigInt(4 * r * r)
        val in =
          if (dot <= 0) wx * wx + wy * wy <= r2
          else if (dot >= len2) ux * ux + uy * uy <= r2
          else {
            val cr = vx * wy - vy * wx
            cr * cr <= r2 * len2
          }
        if (in) want((bx, by)) = want.getOrElse((bx, by), 0L) + 1L
      }
    }
    assert(got == want.toMap)
  }

  test("quadtreeLeaves: every point lands in exactly one leaf; counts add up") {
    val s = spark; import s.implicits._
    val n = 700
    val pts = lcg(21L).take(2 * n).grouped(2)
      .map(g => (g(0) % 1800000000L - 900000000L, g(1) % 1200000000L - 600000000L))
      .toSeq
    val maxLevel = 6; val cap = 40L
    val leaves = SpatialOps.quadtreeLeaves(
        pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
          .toDF("pid", "lon_fix", "lat_fix"), maxLevel, cap)
      .collect()
      .map(r => (r.getAs[Long]("lv"), r.getAs[Long]("bx"), r.getAs[Long]("by"),
        r.getAs[Long]("cnt")))
    assert(leaves.map(_._4).sum == n)
    def cellAt(v: Long, lv: Int, span: Long, off: Long): Long =
      math.min((v + off) * (1L << lv) / span, (1L << lv) - 1)
    for ((x, y) <- pts) {
      val hits = leaves.count { case (lv, bx, by, _) =>
        cellAt(x, lv.toInt, 3600000000L, 1800000000L) == bx &&
          cellAt(y, lv.toInt, 1800000000L, 900000000L) == by
      }
      assert(hits == 1, s"point ($x,$y) in $hits leaves")
    }
  }
}
