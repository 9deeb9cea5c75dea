package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-4 analytics additions: 2-D skyline, generic
  * connected components, and the integer-exact z-score inequality. Each is
  * checked against an independent driver-side brute-force reference on
  * seeded data (no Math.random).
  */
class AnalyticsSpec extends AnyFunSuite with BeforeAndAfterAll {
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

  test("skyline matches brute-force dominance on seeded points (with duplicates and same-a ties)") {
    val s = spark; import s.implicits._
    val pts = lcg(7).take(600).grouped(2)
      .map(p => (p.head % 40, p.last % 40)).toSeq // dense domain → many ties
    val got = StatsOps.skyline(pts.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long)].collect().toSet

    val distinct = pts.groupBy(identity).map { case (p, g) => (p._1, p._2, g.size.toLong) }
    def dominated(p: (Long, Long)) = distinct.exists { q =>
      q._1 >= p._1 && q._2 >= p._2 && (q._1 > p._1 || q._2 > p._2)
    }
    val want = distinct.filter(t => !dominated((t._1, t._2))).toSet
    assert(got === want)
    assert(got.nonEmpty && got.size > 1) // non-degenerate frontier
  }

  test("connectedComponents: chain of diameter 40 + disjoint blob + isolated pair") {
    val s = spark; import s.implicits._
    // component A: chain 0-1-2-...-40 (diameter 40 → exercises the
    // pointer-jump rounds); B: star at 100; C: single edge 200-201
    val edges = (0L until 40L).map(i => (i, i + 1)) ++
      (101L to 110L).map(i => (100L, i)) ++ Seq((200L, 201L))
    val got = GraphOps.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    graft.core.CacheScope.releaseGlobal()
    assert((0L to 40L).forall(got(_) == 0L))
    assert((100L to 110L).forall(got(_) == 100L))
    assert(got(200L) == 200L && got(201L) == 200L)
    assert(got.size === 41 + 11 + 2)
  }

  test("hllMergeUp: merged child sketches are bit-identical to the direct parent sketch") {
    val s = spark; import s.implicits._
    // 2000 rows over 40 children (10 parents), hashes with collisions
    val rows = lcg(11).take(2000).map(v => (v % 40, (v / 40) % 300 + 1)).toSeq
    val df = rows.toDF("child", "h")
    val merged = SketchOps.hllMergeUp(df, "child", col("h"), c => c % 10, m = 64)
      .as[(Long, Long, Long, Long)].collect().toSet
    val direct = SketchOps.hllDistinct(
        df.withColumn("parent", col("child") % 10), "parent", col("h"), m = 64)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(merged === direct)
  }

  test("hexBin: assignment is the Voronoi of the hex lattice and counts are preserved") {
    val s = spark; import s.implicits._
    val sz = 30000001L
    val pts = lcg(21).take(800).grouped(2).map(p =>
      (p.head % 1000, p.head % 3600000000L - 1800000000L,
        p.last % 1800000000L - 900000000L)).toSeq
    val df = pts.map(t => (t._1, t._2, t._3)).toDF("pid", "lon_fix", "lat_fix")
    val bins = SpatialOps.hexBin(df, sz).as[(Long, Long, Long)].collect()
    assert(bins.map(_._3).sum === pts.size)

    // per-point assignment: own hex center must be the nearest among the
    // 7-cell neighborhood (flat-top axial lattice Voronoi property)
    val (hqc, hrc) = SpatialOps.hexCell(col("lon_fix"), col("lat_fix"), sz)
    val rows = df.select(col("lon_fix"), col("lat_fix"), hqc.as("hq"), hrc.as("hr"))
      .as[(Long, Long, Long, Long)].collect()
    val sqrt3 = math.sqrt(3.0)
    def center(q: Long, r: Long): (Double, Double) =
      (sz * 1.5 * q, sz * sqrt3 * (r + q / 2.0))
    val nb = Seq((0, 0), (1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1))
    for ((x, y, hq, hr) <- rows) {
      def d2(c: (Double, Double)) = {
        val dx = x - c._1; val dy = y - c._2; dx * dx + dy * dy
      }
      val own = d2(center(hq, hr))
      for ((dq, dr) <- nb.tail) {
        val other = d2(center(hq + dq, hr + dr))
        assert(own <= other * (1 + 1e-12),
          s"point ($x,$y) assigned ($hq,$hr) but ($dq,$dr)-neighbor is closer")
      }
    }
  }

  test("tileGeodesicDensity: occupied-tile areas sum to the spherical band area") {
    val s = spark; import s.implicits._
    // one point per z4 tile center → all 256 tiles occupied
    val z = 4; val n = 1 << z
    val pts = for (tx <- 0 until n; ty <- 0 until n) yield {
      val lon = (tx + 0.5) / n * 360.0 - 180.0
      // inverse gudermannian of the tile-center mercator y
      val yy = math.Pi * (1.0 - 2.0 * (ty + 0.5) / n)
      val lat = math.toDegrees(math.atan(math.sinh(yy)))
      ((tx * n + ty).toLong, math.round(lon * 1e7), math.round(lat * 1e7))
    }
    val got = SpatialOps.tileGeodesicDensity(
        pts.toDF("pid", "lon_fix", "lat_fix"), z)
      .select(col("tx"), col("ty"), col("cnt"), col("area_m2"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length === n * n && got.forall(_._3 == 1L))
    val r = 6372797.560856
    val want = 4.0 * math.Pi * r * r * math.tanh(math.Pi) // band |lat|<85.05°
    val sum = got.map(_._4).sum.toDouble
    assert(math.abs(sum - want) < n * n, // per-tile rounding is < 0.5 m²
      s"sum=$sum want=$want")
  }

  test("hausdorffPairs matches brute force on co-located seeded ways") {
    val s = spark; import s.implicits._
    // 8 short ways jittered around one location → all pairs are candidates
    val ways = for (w <- 0L until 8L; p <- 0L until 5L) yield
      (w, p, 100000000L + w * 900000L + p * 210000L + (w * p * 7919L) % 90000L,
        50000000L + w * 700000L - p * 160000L + (w * (p + 3) * 104729L) % 70000L)
    val df = ways.toDF("way_id", "seq", "x", "y")
    val got = SpatialOps.hausdorffPairs(df, 6, Long.MaxValue)
      .as[(Long, Long, Long)].collect().map(t => ((t._1, t._2), t._3)).toMap

    val byWay = ways.groupBy(_._1).view.mapValues(_.map(t => (t._3, t._4))).toMap
    def h(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long =
      a.map(p => b.map(q => {
        val dx = p._1 - q._1; val dy = p._2 - q._2; dx * dx + dy * dy
      }).min).max
    for (i <- 0L until 8L; j <- (i + 1) until 8L) {
      val want = math.max(h(byWay(i), byWay(j)), h(byWay(j), byWay(i)))
      assert(got((i, j)) === want, s"pair ($i,$j)")
    }
  }

  test("moranI matches the direct float formula on a seeded grid") {
    val s = spark; import s.implicits._
    val cells = lcg(31).take(300).grouped(3)
      .map(g => (g.head % 12, g(1) % 12, g(2) % 50 + 1)).toSeq
      .groupBy(t => (t._1, t._2)).map { case (k, v) => (k._1, k._2, v.head._3) }
      .toSeq
    val got = StatsOps.moranI(cells.toDF("bx", "by", "v"))
      .as[(Long, Long, Long)].collect().head

    val n = cells.size.toDouble
    val mean = cells.map(_._3).sum / n
    val byKey = cells.map(t => ((t._1, t._2), t._3.toDouble)).toMap
    val pairs = for {
      ((bx, by), vi) <- byKey.toSeq
      (dx, dy) <- Seq((1, 0), (-1, 0), (0, 1), (0, -1))
      vj <- byKey.get((bx + dx, by + dy))
    } yield (vi, vj)
    val w = pairs.size.toDouble
    val num = pairs.map { case (vi, vj) => (vi - mean) * (vj - mean) }.sum
    val den = byKey.values.map(v => (v - mean) * (v - mean)).sum
    val want = (n / w) * num / den
    assert(got._1 === cells.size.toLong && got._2 === pairs.size.toLong)
    assert(math.abs(got._3 / 1e6 - want) < 1e-5,
      s"moran got ${got._3 / 1e6} want $want")
  }

  test("getisOrd matches the textbook Gi* float formula on a seeded grid") {
    val s = spark; import s.implicits._
    val cells = lcg(41).take(300).grouped(3)
      .map(g => (g.head % 10, g(1) % 10, g(2) % 60 + 1)).toSeq
      .groupBy(t => (t._1, t._2)).map { case (k, v) => (k._1, k._2, v.head._3) }
      .toSeq
    val got = StatsOps.getisOrd(cells.toDF("bx", "by", "v"))
      .as[(Long, Long, Long, Long)].collect()
      .map(t => ((t._1, t._2), t._4)).toMap

    val n = cells.size.toDouble
    val mean = cells.map(_._3).sum / n
    val sd = math.sqrt(cells.map(t => t._3 * t._3.toDouble).sum / n - mean * mean)
    val byKey = cells.map(t => ((t._1, t._2), t._3.toDouble)).toMap
    for (((bx, by), _) <- byKey) {
      val nbrs = Seq((0, 0), (1, 0), (-1, 0), (0, 1), (0, -1))
        .flatMap { case (dx, dy) => byKey.get((bx + dx, by + dy)) }
      val k = nbrs.size
      val want = (nbrs.sum - mean * k) /
        (sd * math.sqrt((n * k - k.toDouble * k) / (n - 1)))
      assert(math.abs(got((bx, by)) / 1e6 - want) < 1e-5,
        s"cell ($bx,$by): got ${got((bx, by)) / 1e6} want $want")
    }
  }

  test("idwGrid matches the local integer-weight reference on seeded observations") {
    val s = spark; import s.implicits._
    val level = 8
    val g = 1L << level
    val (cw, ch) = (3600000000L / g, 1800000000L / g)
    val obs = lcg(51).take(900).grouped(3).map(t =>
      (t.head % 3600000000L - 1800000000L, t(1) % 1800000000L - 900000000L,
        t(2) % 1000 + 1)).toSeq
    val got = SpatialOps.idwGrid(obs.toDF("x", "y", "v"), level)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => ((t._1, t._2), (t._3, t._4))).toMap

    def cellOf(x: Long, y: Long) =
      (math.min((x + 1800000000L) * g / 3600000000L, g - 1),
        math.min((y + 900000000L) * g / 1800000000L, g - 1))
    val occupied = obs.map(o => cellOf(o._1, o._2)).distinct
    assert(got.keySet === occupied.toSet)
    for ((bx, by) <- occupied) {
      val qx = bx * cw - 1800000000L + cw / 2
      val qy = by * ch - 900000000L + ch / 2
      val nbrs = obs.filter { o =>
        val c = cellOf(o._1, o._2)
        math.abs(c._1 - bx) <= 1 && math.abs(c._2 - by) <= 1
      }
      val ws = nbrs.map { o =>
        val d2 = (qx - o._1) * (qx - o._1) + (qy - o._2) * (qy - o._2)
        (1000000000000000L / (d2 + 1000000000000L), o._3.toLong)
      }
      val want = ws.map { case (w, v) => v * w }.sum * 1000L / ws.map(_._1).sum
      assert(got((bx, by)) === ((nbrs.size.toLong, want)), s"cell ($bx,$by)")
    }
  }

  test("waySinuosity: straight ways score 1000, zig-zags score higher, bearings point right") {
    val s = spark; import s.implicits._
    // way 1: two points due east along the equator (sinuosity exactly 1,
    // bearing 90°); way 2: a north-south zig-zag with the same endpoints
    val straight = Seq((1L, 0L, 10.0, 0.0), (1L, 1L, 10.2, 0.0))
    val zigzag = Seq((2L, 0L, 10.0, 0.0), (2L, 1L, 10.05, 0.1),
      (2L, 2L, 10.1, -0.1), (2L, 3L, 10.15, 0.1), (2L, 4L, 10.2, 0.0))
    val got = SpatialOps.waySinuosity(
        (straight ++ zigzag).toDF("way_id", "seq", "lon", "lat"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val s1 = got(1L); val s2 = got(2L)
    assert(s1._4 === 1000L, s"straight way sinuosity ${s1._4}")
    assert(math.abs(s1._5 - 90000000L) < 600000L, // ≈ 90° east (±0.6°)
      s"equatorial east bearing ${s1._5}")
    assert(s2._4 > 2000L, s"zig-zag sinuosity ${s2._4}") // detours dominate
    assert(s2._4 === s2._2 * 1000 / s2._3) // floor-division consistency
    assert(s1._6 === 1L && s2._6 === 4L)
  }

  test("hmmMapMatch DP equals brute-force path enumeration; switch penalty binds") {
    val s = spark; import s.implicits._
    // 3 entities, ragged tracks, 2-3 candidates per obs on 2 ways
    val cands = lcg(61).take(480).grouped(6).zipWithIndex.map { case (g, i) =>
      (g.head % 3, (i / 3) % 5, g(1) % 2000000L, g(2) % 2000000L,
        g(3) % 2, g(4) % 1000000L)
    }.toSeq.distinct
    val pen = 1500000000000L
    val got = SpatialOps.hmmMapMatch(
        cands.toDF("entity", "tidx", "cx", "cy", "way", "emis"), pen)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    def brute(rows: Seq[(Long, Int, Long, Long, Long, Long)]): (Long, Long) = {
      val levels = rows.groupBy(_._2).toSeq.sortBy(_._1).map(_._2)
      def rec(lvl: Int, prev: (Long, Long, Long), cost: Long): Long =
        if (lvl == levels.size) cost
        else levels(lvl).map { c =>
          val t = if (prev == null) 0L else {
            val dx = c._3 - prev._1; val dy = c._4 - prev._2
            dx * dx + dy * dy + (if (c._5 == prev._3) 0L else pen)
          }
          rec(lvl + 1, (c._3, c._4, c._5), cost + t + c._6)
        }.min
      (levels.size.toLong, rec(0, null, 0L))
    }
    for ((e, rows) <- cands.map(c =>
        (c._1, c._2.toInt, c._3, c._4, c._5, c._6)).groupBy(_._1)) {
      assert(got(e) === brute(rows), s"entity $e")
    }

    // penalty semantics: a cheap-emission decoy on another way loses when
    // the switch penalty exceeds its emission advantage
    val trap = Seq(
      (9L, 0, 0L, 0L, 1L, 0L),
      (9L, 1, 10L, 0L, 1L, 100L), (9L, 1, 0L, 10L, 2L, 0L))
    val best = SpatialOps.hmmMapMatch(
      trap.toDF("entity", "tidx", "cx", "cy", "way", "emis"), 10000L)
      .as[(Long, Long, Long)].collect().head
    assert(best === ((9L, 2L, 200L))) // stay on way 1: 100(move)+100(emis)
  }

  test("sphericalRingArea tracks R²-scaled planar area at the equator and cos(lat) at 60°") {
    val s = spark; import s.implicits._
    // flat-top hexagon (r=2h, s=sqrt(3)h shape) centered at lat 0 and 60°
    def hex(cy: Long) = {
      val (cx, r, h, sv) = (100000000L, 2000000L, 1000000L, 1732051L)
      (Seq(cx + r, cx + h, cx - h, cx - r, cx - h, cx + h),
        Seq(cy, cy + sv, cy + sv, cy, cy - sv, cy - sv))
    }
    val df = Seq((0L, hex(0L)._1, hex(0L)._2), (1L, hex(600000000L)._1, hex(600000000L)._2))
      .toDF("poly_id", "xs", "ys")
    val got = df.select(col("poly_id"),
        SpatialOps.sphericalRingArea(col("xs"), col("ys"), 6).as("a"))
      .as[(Long, Long)].collect().toMap
    // planar shoelace in fix², scaled by (R·rad/1e7)² m² per fix²
    val planarFix2 = 6.0 * 1000000.0 * 1732051.0 // 6·h·s for this hexagon
    val scale = math.pow(6372797.560856 * math.toRadians(1) / 1.0e7, 2)
    val eq = planarFix2 * scale
    assert(math.abs(got(0L) - eq) / eq < 1e-4, s"equator ${got(0L)} vs $eq")
    val hi = eq * math.cos(math.toRadians(60.0))
    assert(math.abs(got(1L) - hi) / hi < 1e-3, s"60N ${got(1L)} vs $hi")
  }

  test("scale-posture plans: hexBin one shuffle; tile area no join; IDW/Gi* stencil shape") {
    val s = spark; import s.implicits._
    val pts = lcg(71).take(300).grouped(2).map(p =>
      (p.head % 3600000000L - 1800000000L, p.last % 1800000000L - 900000000L))
      .toSeq.toDF("lon_fix", "lat_fix")

    // hexBin: exactly one exchange (the count's partial->final hash agg)
    val hexPlan = SpatialOps.hexBin(pts, 30000001L)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(hexPlan).size === 1, s"hexBin plan:\n$hexPlan")

    // tileGeodesicDensity: the area is closed-form per row — exactly the
    // ONE exchange tileDensity already has, and NO join anywhere
    val taPlan = SpatialOps.tileGeodesicDensity(pts, 7)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(taPlan).size === 1, s"tile-area plan:\n$taPlan")
    assert(!taPlan.contains("Join"), s"tile area must not join:\n$taPlan")

    // idwGrid: stencil = scatter + ONE equi-join + final agg; the big
    // observation side must NOT be broadcast (cells side may be)
    val obs = pts.select(col("lon_fix").as("x"), col("lat_fix").as("y"),
      lit(5L).as("v"))
    val idwPlan = SpatialOps.idwGrid(obs, 8).queryExecution.executedPlan.toString
    assert(!idwPlan.contains("CartesianProduct") &&
      !idwPlan.contains("BroadcastNestedLoop"), s"idw plan:\n$idwPlan")

    // moranI / getisOrd: the neighbor machinery must be an EQUI-join of
    // the grid with its scattered keys (hash or merge), never an all-pairs
    // join of the grid with itself; the only nested-loop allowed is the
    // final single-row global-stats attach
    val cells = pts.select((col("lon_fix") % 50).as("bx"),
      (col("lat_fix") % 50).as("by"), lit(3L).as("v"))
    for (p <- Seq(StatsOps.moranI(cells), StatsOps.getisOrd(cells))) {
      val t = p.queryExecution.executedPlan.toString
      assert(t.contains("HashJoin") || t.contains("SortMergeJoin"),
        s"neighbor equi-join missing:\n$t")
    }
  }

  test("scale-posture plans: geohash one shuffle no join; kmeans round is map + K-group agg") {
    val s = spark; import s.implicits._
    val pts = lcg(73).take(300).grouped(3).map(t =>
      (t.head, t(1) % 3600000000L - 1800000000L, t(2) % 1800000000L - 900000000L))
      .toSeq.toDF("pid", "lon_fix", "lat_fix")

    // geohash density: per-row bit ops + ONE partial->final hash agg, no join
    val ghPlan = SpatialOps.geohashDensity(pts, 5)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(ghPlan).size === 1, s"geohash plan:\n$ghPlan")
    assert(!ghPlan.contains("Join"), s"geohash must not join:\n$ghPlan")

    // kmeans: the RESULT frame is a driver-local K-row table (no corpus
    // lineage at all — the per-round jobs each ran one map stage + one
    // K-group agg, never a join or a corpus-wide key shuffle)
    val cents0 = (0 until 4).map(i =>
      (i.toLong, i.toLong * 900000000L + 450000000L, 900000000L))
    val km = SpatialOps.kmeans(pts, cents0.toDF("cid", "x", "y"), 2)
    val kmPlan = km.queryExecution.executedPlan.toString
    assert(!kmPlan.contains("Join") && !kmPlan.contains("Exchange"),
      s"kmeans result must be a local K-row frame:\n$kmPlan")
  }

  test("pipAntiJoin partitions the point set against the interval-hit side, zero-join plan") {
    val s = spark; import s.implicits._
    val pts = lcg(77).take(900).grouped(3).map(t =>
      (t.head, t(1) % 3600000000L - 1800000000L, t(2) % 1800000000L - 900000000L))
      .toSeq.distinctBy(_._1).toDF("pid", "lon_fix", "lat_fix")
    val anti = SpatialOps.pip(s, pts, anti = true)
    val plan = anti.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin .*LeftAnti, BuildRight".r.findFirstIn(plan).nonEmpty &&
      !plan.replace("BroadcastExchange", "").contains("Exchange"),
      s"anti must stay a map-only broadcast left-anti join:\n$plan")
    val nAnti = anti.count()
    val nHit = SpatialOps.pip(s, pts)
      .select("pid").distinct().count()
    assert(nAnti + nHit === pts.count())
  }

  test("kmeans matches a local 4-round Lloyd reference and conserves point count") {
    val s = spark; import s.implicits._
    val pts = lcg(81).take(600).grouped(3).map(t =>
      (t.head, t(1) % 3600000000L - 1800000000L, t(2) % 1800000000L - 900000000L))
      .toSeq.distinctBy(_._1)
    val cents0 = (0 until 16).map(i => (i.toLong,
      (i % 4).toLong * 900000000L + 450000000L,
      (i / 4).toLong * 450000000L + 225000000L))
    val got = SpatialOps.kmeans(
        pts.toDF("pid", "lon_fix", "lat_fix"), cents0.toDF("cid", "x", "y"), 4)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)

    var cents = cents0.map(c => (c._1, c._2, c._3))
    val sp = pts.map(p => (p._2 + 1800000000L, p._3 + 900000000L))
    var lastN: Map[Long, Long] = Map.empty
    for (_ <- 1 to 4) {
      val assign = sp.map { case (sx, sy) =>
        val best = cents.map { case (cid, x, y) =>
          ((sx - x).toDouble * (sx - x).toDouble +
            (sy - y).toDouble * (sy - y).toDouble, cid)
        }.min._2
        (best, sx, sy)
      }
      val upd = assign.groupBy(_._1).map { case (cid, g) =>
        cid -> (Math.floorDiv(g.map(_._2).sum, g.size),
          Math.floorDiv(g.map(_._3).sum, g.size), g.size.toLong)
      }
      lastN = upd.map { case (k, v) => k -> v._3 }
      cents = cents.map { case (cid, x, y) =>
        upd.get(cid).map(u => (cid, u._1, u._2)).getOrElse((cid, x, y))
      }
    }
    val want = cents.map { case (cid, x, y) =>
      (cid, x - 1800000000L, y - 900000000L, lastN.getOrElse(cid, 0L))
    }.sortBy(_._1)
    assert(got.toSeq === want)
    assert(got.map(_._4).sum === pts.size.toLong)
  }

  test("integer z-score inequality agrees with the float z-score on seeded groups") {
    val rows = lcg(99).take(300).map(v => (v % 3, 50 + (v % 211))).toSeq
    for ((_, g) <- rows.groupBy(_._1)) {
      val xs = g.map(_._2.toDouble)
      val n = xs.size
      val mean = xs.sum / n
      val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / (n - 1))
      val sx = g.map(_._2).sum
      val sq = g.map(v => v._2 * v._2).sum
      for ((_, x) <- g) {
        val dev = n.toLong * x - sx
        val intFlag = dev * dev * (n - 1) > 4L * n * (n * sq - sx.toLong * sx)
        val floatFlag = math.abs((x - mean) / sd) > 2.0
        assert(intFlag === floatFlag, s"x=$x n=$n")
      }
    }
  }
}
