package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the session-6 additions: Borůvka MST, FW-BW strongly
  * connected components and the STR partitioner's exact balance. Each
  * checks against an independent driver-side brute-force reference on
  * seeded data (no Math.random).
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
}
