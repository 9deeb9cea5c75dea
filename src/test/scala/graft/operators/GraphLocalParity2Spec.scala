package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, greatest, least}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 single-shard twins vs their distributed loops:
  * weightedDistance, kCore, kTruss, labelPropagation,
  * landmarkCloseness, shortestPathCounts, landmarkBetweenness,
  * boruvkaMst. The public dispatch takes the local path at spec scale,
  * so each loop is invoked directly with the same pre-shaped input and
  * every row must match bit-for-bit (the operators' exact-int64 /
  * deterministic-schedule contracts). landmarkCloseness is also checked
  * against a driver-side per-landmark BFS.
  */
class GraphLocalParity2Spec extends AnyFunSuite with BeforeAndAfterAll {
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

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L)
      .map(x => x >>> 33)

  private def seededEdges(seed: Int, n: Int, m: Int) = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(seed)
    Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
  }

  test("weightedDistance loop matches the single-shard twin") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(90).toLong, rnd.nextInt(90).toLong,
        1L + rnd.nextInt(50).toLong))
      .filter(e => e._1 != e._2)
      .groupBy(e => (e._1, e._2)).map(_._2.head).toSeq
      .toDF("src", "dst", "w")
    val sources = Seq(0L, 13L, 44L).toDF("node_id")
    val viaLoop = GraphOps.weightedDistanceLoop(
        edges.select(col("src"), col("dst"), col("w")).distinct(),
        sources, 12, new graft.core.CacheScope)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaLocal = GraphOps.weightedDistance(edges, sources, 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaLocal === viaLoop)
    // a tight round cap must also agree (the cap is part of the contract)
    val cap2Loop = GraphOps.weightedDistanceLoop(
        edges.select(col("src"), col("dst"), col("w")).distinct(),
        sources, 2, new graft.core.CacheScope)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val cap2Local = GraphOps.weightedDistance(edges, sources, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cap2Local === cap2Loop)
  }

  test("kCore loop matches the single-shard twin") {
    val edges = seededEdges(11, 80, 400)
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val ue = und.unionByName(und.select(col("b").as("a"), col("a").as("b")))
    val viaLoop = GraphOps.kCoreLoop(ue, 4, 20, new graft.core.CacheScope)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaLocal = GraphOps.kCore(edges, 4, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaLocal === viaLoop)
    // non-converging round cap must also agree
    val cap1Loop = GraphOps.kCoreLoop(ue, 4, 1, new graft.core.CacheScope)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val cap1Local = GraphOps.kCore(edges, 4, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cap1Local === cap1Loop)
  }

  test("kTruss loop matches the single-shard twin") {
    val edges = seededEdges(23, 60, 500)
    val ec = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val viaLoop = GraphOps.kTrussLoop(ec, 4, 10, new graft.core.CacheScope)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val viaLocal = GraphOps.kTruss(edges, 4, 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(viaLocal === viaLoop)
  }

  test("labelPropagation loop matches the single-shard twin") {
    val edges = seededEdges(37, 70, 350)
    val ec = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val adj = ec.select(col("a").as("u"), col("b").as("v"))
      .unionByName(ec.select(col("b").as("u"), col("a").as("v")))
    val viaLoop = GraphOps.labelPropagationLoop(adj, 4,
        new graft.core.CacheScope)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaLocal = GraphOps.labelPropagation(edges, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaLocal === viaLoop)
  }

  test("landmarkCloseness loop matches the single-shard twin") {
    val s = spark; import s.implicits._
    val edges = seededEdges(41, 90, 400)
    val lms = Seq(1L, 5L, 9L, 33L, 77L).toDF("node_id")
    val e = edges.select(col("src"), col("dst")).distinct()
    val viaLoop = GraphOps.harmonicCloseness(GraphOps.frontierLoop(e,
        lms.select(col("node_id").as("lm"), col("node_id")), 6, Seq("lm"),
        scope = new graft.core.CacheScope))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val viaLocal = GraphOps.landmarkCloseness(edges, lms, 6)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(viaLocal === viaLoop)
  }

  test("shortestPathCounts loop matches the single-shard twin") {
    val s = spark; import s.implicits._
    val edges = seededEdges(53, 90, 400)
    val seeds = Seq(2L, 17L).toDF("node_id")
    val e = edges.select(col("src"), col("dst")).distinct()
    val viaLoop = GraphOps.frontierLoop(e, seeds, 5, payload = Some("sigma"),
        scope = new graft.core.CacheScope)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val viaLocal = GraphOps.shortestPathCounts(edges, seeds, 5)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(viaLocal === viaLoop)
  }

  test("landmarkBetweenness loop matches the single-shard twin") {
    val s = spark; import s.implicits._
    val edges = seededEdges(67, 80, 380)
    val seeds = Seq(3L, 11L, 29L).toDF("node_id")
    val e = edges.select(col("src"), col("dst")).distinct()
    val viaLoop = GraphOps.landmarkBetweennessLoop(e, seeds, 4,
        new graft.core.CacheScope)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val viaLocal = GraphOps.landmarkBetweenness(edges, seeds, 4)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(viaLocal === viaLoop)
  }

  test("topologicalLayers loop matches the single-shard twin") {
    val s = spark; import s.implicits._
    // seeded digraph WITH cycles: random edges plus a planted 3-cycle
    val edges = seededEdges(101, 60, 150)
      .unionByName(Seq((100L, 101L), (101L, 102L), (102L, 100L),
        (102L, 103L)).toDF("src", "dst"))
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val viaLoop = GraphOps.topologicalLayersLoop(e, 6,
        new graft.core.CacheScope)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaLocal = GraphOps.topologicalLayers(edges, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaLocal === viaLoop)
    // the planted cycle (and its downstream node) must be flagged
    assert(viaLocal(100L) === -1L && viaLocal(101L) === -1L &&
      viaLocal(102L) === -1L && viaLocal(103L) === -1L)
  }

  test("topologicalLayers on a DAG = longest predecessor chain length") {
    val s = spark; import s.implicits._
    // layered DAG: i -> i+1 and i -> i+2 over 0..9 (chain length = i)
    val edges = (0L until 9L).flatMap(i =>
      Seq((i, i + 1)) ++ (if (i < 8) Seq((i, i + 2)) else Nil))
      .toDF("src", "dst")
    val got = GraphOps.topologicalLayers(edges, 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === (0L to 9L).map(i => i -> i).toMap)
  }

  test("boruvkaMst rounds match the single-shard twin") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(79)
    // duplicate weights ON PURPOSE: tie-break is part of the contract
    // (lexicographic min over (w, a, b))
    val und = Seq.fill(300)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct
    val edges = und.map { case (a, b) =>
      (a, b, 1L + rnd.nextInt(12).toLong) }.toDF("a", "b", "w")
    val viaLoop = GraphOps.boruvkaBody(
        edges.select(col("a"), col("b"), col("w")), new graft.core.CacheScope)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaLocal = GraphOps.boruvkaMst(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaLocal === viaLoop)
    // spanning-forest sanity: local twin connects every component at
    // minimum size (|V| - #components edges)
    val nodes = und.flatMap(e => Seq(e._1, e._2)).distinct.size
    assert(viaLocal.size < nodes)
  }

  test("landmarkCloseness matches per-landmark BFS") {
    val s = spark; import s.implicits._
    val n = 18
    val edges = lcg(5L).take(90).grouped(2)
      .map(p => (p.head % n, p.last % n)).filter(p => p._1 != p._2)
      .toSeq.distinct
    val lms = Seq(0L, 5L, 10L)
    val maxHops = 4
    val got = GraphOps.landmarkCloseness(edges.toDF("src", "dst"),
        lms.toDF("node_id"), maxHops)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val want = scala.collection.mutable.Map[Long, (Long, Long)]()
    for (lm <- lms) {
      val dist = scala.collection.mutable.Map[Long, Long](lm -> 0L)
      var frontier = Set(lm)
      for (h <- 1 to maxHops) {
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .filterNot(dist.contains)
        frontier.foreach(v => dist(v) = h.toLong)
      }
      for ((v, d) <- dist) {
        val (c, sum) = want.getOrElse(v, (0L, 0L))
        want(v) = (c + 1, sum + (if (d > 0) 1000000L / d else 0L))
      }
    }
    assert(got == want.toMap)
  }
}
