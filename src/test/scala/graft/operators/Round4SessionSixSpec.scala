package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the session-6 additions: Borůvka MST, FW-BW strongly
  * connected components, the STR partitioner's exact balance, the metric
  * buffer's exact distance predicate and quadtree leaf partitioning. Each checks against an independent driver-side
  * brute-force reference on seeded data (no Math.random).
  */
class Round4SessionSixSpec extends AnyFunSuite with BeforeAndAfterAll {
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

  test("boruvkaMst equals driver-side Kruskal on seeded graphs") {
    val s = spark; import s.implicits._
    for (seed <- Seq(1L, 7L, 42L)) {
      val n = 30
      val raw = lcg(seed).take(160).grouped(2)
        .map(p => (p.head % n, p.last % n)).filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
        .toSeq.distinct
      val edges = raw.map { case (a, b) =>
        val w0 = ((a * 2654435761L + b * 40503L + seed) >>> 7) % 1000L
        (a, b, w0 * n * n + a * n + b) // distinct by construction
      }
      val got = GraphOps.boruvkaMst(edges.toDF("a", "b", "w"))
        .as[(Long, Long, Long)].collect().toSet
      // Kruskal with union-find
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      val want = scala.collection.mutable.Set[(Long, Long, Long)]()
      for ((a, b, w) <- edges.sortBy(_._3))
        if (find(a) != find(b)) { parent(find(a)) = find(b); want += ((a, b, w)) }
      assert(got == want.toSet, s"seed $seed")
    }
  }

  test("stronglyConnectedComponents matches brute-force mutual reachability") {
    val s = spark; import s.implicits._
    for (seed <- Seq(3L, 11L)) {
      val n = 22
      val edges = lcg(seed).take(110).grouped(2)
        .map(p => (p.head % n, p.last % n)).filter(p => p._1 != p._2)
        .toSeq.distinct
      val got = GraphOps.stronglyConnectedComponents(edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      // Floyd-Warshall boolean reachability
      val reach = Array.fill(n, n)(false)
      edges.foreach { case (a, b) => reach(a.toInt)(b.toInt) = true }
      for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
        if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.map { v =>
        val mut = nodes.filter(u =>
          u == v || (reach(v.toInt)(u.toInt) && reach(u.toInt)(v.toInt)))
        v -> mut.min
      }.toMap
      assert(got == want, s"seed $seed")
    }
  }

  test("SCC distributed coloring loop matches the single-shard Kosaraju twin") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.col
    for (seed <- Seq(7L, 29L)) {
      val n = 60
      val edges = lcg(seed).take(400).grouped(2)
        .map(p => (p.head % n, p.last % n)).filter(p => p._1 != p._2)
        .toSeq.distinct.toDF("src", "dst")
      val e = edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val viaLoop = graft.core.LoopConf.withCoalescing(e) {
        GraphOps.sccBody(e, new graft.core.CacheScope)
      }.as[(Long, Long)].collect().toMap
      val viaLocal = GraphOps.stronglyConnectedComponents(edges)
        .as[(Long, Long)].collect().toMap
      assert(viaLocal == viaLoop, s"seed $seed")
    }
  }

  test("strPartition: exact balance, full coverage, s*s partitions") {
    val s = spark; import s.implicits._
    val n = 1003 // deliberately not divisible by s or s*s
    val pts = lcg(9L).take(3 * n).grouped(3)
      .map(g => (g(0), g(1) % 3600000000L - 1800000000L,
        g(2) % 1800000000L - 900000000L)).toSeq.take(n)
    val out = SpatialOps.strPartition(
      pts.toDF("pid", "lon_fix", "lat_fix"), 4).collect()
    assert(out.length == 16)
    val counts = out.map(_.getAs[Long]("n_pts"))
    assert(counts.sum == n)
    assert(counts.max - counts.min <= 2, s"counts ${counts.mkString(",")}")
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
