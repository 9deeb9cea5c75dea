package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Distributed power-iteration loops vs their single-shard twins:
  * pageRank (plain, personalized by a seed set, weighted) and hits. The
  * public dispatch takes the local path at spec scale, so each loop is
  * invoked directly with the same pre-shaped input and every row must
  * match bit-for-bit (the operators' exact-int64 contract). Also the
  * personalized-PageRank identities on both paths.
  */
class RankParitySpec extends AnyFunSuite with BeforeAndAfterAll {
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

  test("pageRank loop matches the single-shard twin") {
    val edges = seededEdges(5, 90, 400)
    val sc = new graft.core.CacheScope
    val viaLoop = GraphOps.rankLoop(GraphOps.rankEdges(edges, sc), None, 8, sc)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaLocal = GraphOps.pageRank(edges, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaLocal === viaLoop)
  }

  test("personalizedPageRank loop matches the single-shard twin") {
    val s = spark; import s.implicits._
    val edges = seededEdges(19, 90, 400)
    val seeds = Seq(1L, 7L, 42L).toDF("node_id")
    val sc = new graft.core.CacheScope
    val viaLoop = GraphOps.rankLoop(GraphOps.rankEdges(edges, sc), Some(seeds), 8,
        sc)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaLocal = GraphOps.pageRank(edges, 8, Some(seeds))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaLocal === viaLoop)
  }

  test("pageRankWeighted loop matches the single-shard twin") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(300)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong,
        1L + rnd.nextInt(9).toLong))
      .filter(e => e._1 != e._2)
      .groupBy(e => (e._1, e._2)).map(_._2.head).toSeq // one row per edge
      .toDF("src", "dst", "w")
    val viaLoop = GraphOps.rankLoop(
        edges.select(col("src"), col("dst"), col("w")), None, 8,
        new graft.core.CacheScope)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaLocal = GraphOps.pageRank(edges, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaLocal === viaLoop)
  }

  test("hits loop matches the single-shard twin") {
    val edges = seededEdges(83, 80, 350)
    val viaLoop = GraphOps.hitsLoop(edges.distinct(), 6,
        new graft.core.CacheScope)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val viaLocal = GraphOps.hits(edges, 6)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(viaLocal === viaLoop)
  }

  test("personalizedPageRank with the full node set as seeds equals pageRank") {
    val s = spark; import s.implicits._
    val edges = lcg(9L).take(120).grouped(2)
      .map(p => (p.head % 40L, p(1) % 40L)).filter(p => p._1 != p._2)
      .toSeq.toDF("src", "dst")
    val all = edges.select(col("src").as("node_id"))
      .unionByName(edges.select(col("dst").as("node_id"))).distinct()
    val pr = GraphOps.pageRank(edges, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ppr = GraphOps.pageRank(edges, 4, Some(all))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ppr === pr)
    // the same identity through the distributed loop: an all-ones seed
    // flag from the seed join equals the seedless flag
    val sc = new graft.core.CacheScope
    val e = GraphOps.rankEdges(edges, sc)
    val prLoop = GraphOps.rankLoop(e, None, 4, sc)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val pprLoop = GraphOps.rankLoop(e, Some(all), 4, sc)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pprLoop === prLoop)
    assert(prLoop === pr)
    sc.release()
  }

  test("personalizedPageRank: mass decays with hop distance from the seed") {
    val s = spark; import s.implicits._
    // directed path 0 -> 1 -> 2 -> 3 plus a disconnected pair 10 -> 11
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("src", "dst")
    val seeds = Seq(0L).toDF("node_id")
    val got = GraphOps.pageRank(edges, 6, Some(seeds))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(0L) > got(1L) && got(1L) > got(2L) && got(2L) > got(3L),
      got.toString)
    // nothing reaches the disconnected component
    assert(got(10L) === 0L && got(11L) === 0L, got.toString)
    // the seed keeps at least the restart mass
    import GraphOps.{DampingPct, RankScale}
    assert(got(0L) >= (100L - DampingPct) * (RankScale / 100L))
  }
}
