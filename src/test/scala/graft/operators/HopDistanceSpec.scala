package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** GraphOps.hopDistance vs a reference sequential BFS. */
class HopDistanceSpec extends AnyFunSuite with BeforeAndAfterAll {
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

  private def refBfs(edges: Seq[(Long, Long)], sources: Set[Long],
                     maxHops: Int): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (s, g) => s -> g.map(_._2) }
    var dist = sources.map(_ -> 0L).toMap
    var frontier = sources
    var h = 0L
    while (h < maxHops && frontier.nonEmpty) {
      h += 1
      val next = frontier.flatMap(n => adj.getOrElse(n, Nil))
        .filterNot(dist.contains)
      dist = dist ++ next.map(_ -> h)
      frontier = next
    }
    dist
  }

  test("matches sequential BFS on a seeded random digraph") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(600)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter(e => e._1 != e._2)
    val sources = Set(0L, 77L, 149L)
    val got = GraphOps.hopDistance(
        edges.toDF("src", "dst"), sources.toSeq.toDF("node_id"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refBfs(edges, sources, 4))
  }

  test("frontier drains early on a short chain; unreached nodes absent") {
    val s = spark; import s.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val got = GraphOps.hopDistance(edges, Seq(1L).toDF("node_id"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("round count is bounded by eccentricity + 1, not maxHops") {
    val s = spark; import s.implicits._
    // chain of eccentricity 3 from the seed, maxHops 30: the
    // empty-frontier early exit must stop after ecc + 1 rounds.
    // Each round runs exactly one materializing count() job (plus one
    // for the seed frame), so the Spark job count during the call is
    // the observable round counter.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def countJobs(maxHops: Int): (Map[Long, Long], Int) = {
      s.sparkContext.addSparkListener(listener)
      try {
        jobs.set(0)
        // frontierLoop directly: the public dispatch would take the
        // single-shard local path at this scale and hide the loop
        val got = GraphOps.frontierLoop(edges.distinct(),
            Seq(1L).toDF("node_id"), maxHops)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // give the async listener bus a beat to drain before reading
        Thread.sleep(500)
        (got, jobs.get())
      } finally s.sparkContext.removeSparkListener(listener)
    }
    // the maxHops=4 run IS the ecc+1 round budget (3 growing rounds + 1
    // drained probe); identical job count at maxHops=30 evidences the
    // early exit — without it the 30-hop run would spend ~7x the jobs
    // (AQE fans each round's count() into several jobs, so absolute
    // job counts are not 1:1 with rounds; the RATIO is the invariant)
    val (got4, jobs4) = countJobs(4)
    val (got30, jobs30) = countJobs(30)
    val want = Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L)
    assert(got4 === want && got30 === want)
    assert(jobs30 <= jobs4 + 2,
      s"maxHops=30 ran $jobs30 jobs vs $jobs4 at maxHops=4 - early exit broken?")
  }

  test("a revisitable node keeps its first (minimum) hop count") {
    val s = spark; import s.implicits._
    // 1 -> 2 -> 4 and 1 -> 3 -> 2: node 2 reachable at hop 1 and hop 2
    val edges = Seq((1L, 2L), (2L, 4L), (1L, 3L), (3L, 2L)).toDF("src", "dst")
    val got = GraphOps.hopDistance(edges, Seq(1L).toDF("node_id"), 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("single-shard local BFS matches the distributed frontier loop") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(97)
    val edges = Seq.fill(500)((rnd.nextInt(180).toLong, rnd.nextInt(180).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val sources = Seq(0L, 55L, 179L).toDF("node_id")
    for (maxHops <- Seq(2, 9)) {
      val viaLoop = GraphOps.frontierLoop(edges.distinct(), sources, maxHops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaLocal = GraphOps.hopDistance(edges, sources, maxHops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaLocal === viaLoop, s"divergence at maxHops=$maxHops")
    }
  }

  test("doubleSweepDiameter local path matches the distributed selection") {
    val s = spark; import s.implicits._
    // seeded random sparse graph (chains + small components); the local
    // single-shard path always triggers at spec scale, so the expected
    // row is recomputed here through hopDistance + the exact distributed
    // tie-break (max hops, then min node id)
    val rnd = new scala.util.Random(41)
    val edges = Seq.fill(220)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter(e => e._1 != e._2).distinct
    val df = edges.toDF("src", "dst")
    val maxHops = 12
    val got = GraphOps.doubleSweepDiameter(df, maxHops).collect()
    assert(got.length === 1)
    val r = got.head
    val sym = df.select(org.apache.spark.sql.functions.col("src"),
        org.apache.spark.sql.functions.col("dst"))
      .unionByName(df.selectExpr("dst as src", "src as dst")).distinct()
    val seed = edges.flatMap(e => Seq(e._1, e._2)).min
    def farthest(from: Long): (Long, Long) = {
      val d = GraphOps.frontierLoop(sym, Seq(from).toDF("node_id"), maxHops)
        .collect().map(x => (x.getLong(0), x.getLong(1)))
      val ecc = d.map(_._2).max
      (d.filter(_._2 == ecc).map(_._1).min, ecc)
    }
    val (far, ecc1) = farthest(seed)
    val (peak, ecc2) = farthest(far)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((seed, far, ecc1, peak, ecc2)))
  }

  test("doubleSweepDiameter is exact on a path graph and tie-breaks deterministically") {
    val s = spark; import s.implicits._
    // path 5-4-3-2-1-0-10-11 (seed = min node 0): ecc(0) = 5 (node 5),
    // second sweep from 5 reaches 11 at distance 7 = the true diameter
    val edges = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (1L, 0L),
      (0L, 10L), (10L, 11L)).toDF("src", "dst")
    val r = GraphOps.doubleSweepDiameter(edges, 30).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      === ((0L, 5L, 5L, 11L, 7L)))
    // star: every leaf at distance 1 from hub 0; seed 0 picks leaf 1
    // (tie by min id), sweep from 1 crosses the hub: diameter 2
    val star = (1L to 6L).map(i => (0L, i)).toDF("src", "dst")
    val r2 = GraphOps.doubleSweepDiameter(star, 30).head()
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2), r2.getLong(4))
      === ((0L, 1L, 1L, 2L)))
  }
}
