package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Hll

/** SketchOps.hyperBall vs a sequential register simulation. */
class HyperBallSpec extends AnyFunSuite with BeforeAndAfterAll {
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

  /** Exact ball computation + HLL registers from the same kernel. */
  private def refBalls(edges: Seq[(Long, Long)], fp: Long => Long,
                       rounds: Int, m: Int): Map[(Long, Long), (Long, Long)] = {
    val adj = edges.distinct.groupBy(_._1)
      .map { case (k, g) => k -> g.map(_._2).toSet }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var ball = nodes.map(n => n -> Set(n)).toMap
    val out = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    def record(r: Int): Unit = nodes.foreach { n =>
      val regs = ball(n).map(fp).groupBy(h => Hll.reg(h, m))
        .map { case (reg, hs) => reg -> hs.map(h => Hll.rho(h, m)).max }
      val nRegs = regs.size.toLong
      val regSum = regs.values.map(r2 => 1L << (Hll.RhoCap - r2)).sum +
        (m - nRegs) * Hll.Scale
      out((n, r.toLong)) = (nRegs, regSum)
    }
    record(0)
    for (r <- 1 to rounds) {
      ball = ball.map { case (n, b) =>
        n -> (b ++ adj.getOrElse(n, Set.empty).flatMap(ball))
      }
      record(r)
    }
    out.toMap
  }

  test("register states match exact ball simulation per radius") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(139)
    val edges = Seq.fill(400)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2)
    def fp(n: Long): Long = {
      val a = graft.core.TextHash.mixId(n)
      val b = graft.core.TextHash.mixId(n * 1009 + 3)
      a * (1L << 29) + b
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => (n, fp(n)))
    val got = SketchOps.hyperBall(nodes.toDF("node_id", "fp"),
        edges.toDF("src", "dst"), 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === refBalls(edges, fp, 3, Hll.M))
  }

  test("distributed register loop matches the single-shard twin") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(211)
    val edges = Seq.fill(500)((rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
      .filter(e => e._1 != e._2)
    def fp(n: Long): Long = {
      val a = graft.core.TextHash.mixId(n)
      val b = graft.core.TextHash.mixId(n * 1009 + 3)
      a * (1L << 29) + b
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => (n, fp(n))).toDF("node_id", "fp")
    val e = edges.toDF("src", "dst").distinct()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))
    val viaLoop = SketchOps.hyperBallLoop(nodes, e, 3)
      .collect().map(key).toMap
    val viaLocal = SketchOps.hyperBall(nodes, edges.toDF("src", "dst"), 3)
      .collect().map(key).toMap
    assert(viaLocal === viaLoop)
  }

  test("the distributed loop holds every round until the scope releases") {
    val s = spark; import s.implicits._
    spark.sharedState.cacheManager.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    val edges = (0L until 40L).map(i => (i, (i + 1) % 40))
    val nodes = (0L until 40L).map(n => (n, graft.core.TextHash.mixId(n) >>> 1))
      .toDF("node_id", "fp")
    val scope = new graft.core.CacheScope
    val out = SketchOps.hyperBallLoop(nodes, edges.toDF("src", "dst"), 3,
      scope = scope)
    // the output union reads round 0 and each of the 3 merged rounds
    assert(spark.sparkContext.getPersistentRDDs.size === 4)
    assert(out.count() === 4L * 40)
    assert(spark.sparkContext.getPersistentRDDs.size === 4)
    scope.release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("estimates are monotone in radius (balls only grow)") {
    val s = spark; import s.implicits._
    val edges = (0L until 30L).map(i => (i, (i + 1) % 30)) // a 30-cycle
    val nodes = (0L until 30L).map(n =>
      (n, graft.core.TextHash.mixId(n) * (1L << 29) +
        graft.core.TextHash.mixId(n * 7 + 1)))
    val rows = SketchOps.hyperBall(nodes.toDF("node_id", "fp"),
        edges.toDF("src", "dst"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    rows.groupBy(_._1).foreach { case (_, g) =>
      val byR = g.sortBy(_._2).map(_._3)
      assert(byR.zip(byR.tail).forall { case (a, b) => a <= b })
    }
  }
}
