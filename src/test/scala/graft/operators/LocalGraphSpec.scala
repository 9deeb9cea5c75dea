package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions.{col, greatest, least}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.CacheScope

/** The single-shard graph loader and its size dispatch: which inputs
  * take the local path, and that every twin's dense renumbering gives
  * its distributed loop's rows at the edges of the id range, on an empty
  * edge list, with self-loops and with seeds that touch no edge.
  */
class LocalGraphSpec extends AnyFunSuite with BeforeAndAfterAll {
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

  /** Whether `df` reads a single-shard twin (its coalesce(1) task). */
  private def local(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case r: Repartition => r.numPartitions == 1 && !r.shuffle
      case _ => false
    }

  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  test("Int ids take the single-shard path and come back Int") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(5)
    val raw = Seq.fill(120)((rnd.nextInt(40), rnd.nextInt(40), 1 + rnd.nextInt(1000)))
      .groupBy(e => (e._1, e._2)).map(_._2.head).toSeq
    val asInt = raw.toDF("src", "dst", "w")
    val asLong = asInt.select(
      Seq("src", "dst", "w").map(c => col(c).cast(LongType).as(c)): _*)
    val seeds = Seq(0, 7, 39)
    def check(name: String, op: (DataFrame, DataFrame) => DataFrame,
              idCols: String*): Unit = {
      val viaInt = op(asInt, seeds.toDF("node_id"))
      val viaLong = op(asLong, seeds.map(_.toLong).toDF("node_id"))
      assert(local(viaInt) && local(viaLong), name)
      idCols.foreach(c =>
        assert(viaInt.schema(c).dataType === IntegerType, s"$name.$c"))
      val widened = viaInt.select(viaInt.schema.fields.toIndexedSeq.map(f =>
        if (f.dataType == IntegerType) col(f.name).cast(LongType).as(f.name)
        else col(f.name)): _*)
      assert(rows(widened) === rows(viaLong), name)
    }
    check("hopDistance", (e, sd) =>
      GraphOps.hopDistance(e.select("src", "dst"), sd, 5), "node_id")
    check("weightedDistance", (e, sd) =>
      GraphOps.weightedDistance(e, sd, 5), "node_id")
    check("pageRank", (e, _) =>
      GraphOps.pageRank(e.select("src", "dst"), 4), "node_id")
    check("stronglyConnectedComponents", (e, _) =>
      GraphOps.stronglyConnectedComponents(e.select("src", "dst")),
      "node_id", "scc_id")
    check("boruvkaMst", (e, _) => GraphOps.boruvkaMst(
      e.filter(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b"), col("w"))),
      "a", "b")
  }

  test("mixed-width and string ids take the distributed loop, no truncation") {
    val s = spark; import s.implicits._
    // src INT, dst BIGINT: a BIGINT id beyond the Int range must survive
    val big = 5000000000L
    val mixed = Seq((1, 2L), (2, big), (1, 3L)).toDF("src", "dst")
    val hops = GraphOps.hopDistance(mixed, Seq(1L).toDF("node_id"), 4)
    assert(!local(hops))
    assert(hops.schema("node_id").dataType === LongType)
    assert(hops.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L, big -> 2L))
    // string ids: same ranks as the integral graph under a renaming
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
    val byName = GraphOps.pageRank(
      edges.map { case (a, b) => (s"n$a", s"n$b") }.toDF("src", "dst"), 5)
    assert(!local(byName))
    val byId = GraphOps.pageRank(edges.toDF("src", "dst"), 5)
    assert(byName.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      byId.collect().map(r => s"n${r.getLong(0)}" -> r.getLong(1)).toMap)
  }

  test("dispatchBySize: the budget and id-type rule, count handed over") {
    val s = spark; import s.implicits._
    val frame = Seq(1L, 2L, 3L).toDF("x")
    def pick(budget: Long, types: DataType*) =
      LocalGraph.dispatchBySize(frame, budget, types: _*)("local")(
        n => s"distributed:$n")
    assert(pick(0L, LongType) === "distributed:3")
    assert(pick(2L, LongType) === "distributed:3")
    assert(pick(3L, LongType, LongType) === "local")
    assert(pick(3L, IntegerType, LongType) === "distributed:3")
    assert(pick(3L, LongType, StringType) === "distributed:3")
  }

  /** Inputs of one graph on node ids `id(0..10)`: edges with self-loops
    * and distinct weights among nodes 0..9, seeds 0, 4 and the
    * edge-free 10, and node fingerprints for HyperBall.
    */
  private case class Graph(edges: DataFrame, seeds: DataFrame,
                           nodes: DataFrame)

  private def graph(id: Int => Long, nEdges: Int): Graph = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(17)
    val es = Seq.fill(nEdges)((rnd.nextInt(10), rnd.nextInt(10))).distinct
      .zipWithIndex.map { case ((a, b), k) => (id(a), id(b), 3L * k + 1L) }
    Graph(es.toDF("src", "dst", "w"), Seq(0, 4, 10).map(id).toDF("node_id"),
      (0 to 10).map(i => (id(i), graft.core.TextHash.mixId(i.toLong + 1) >>> 1))
        .toDF("node_id", "fp"))
  }

  /** One twin: its public operator (local at spec scale), the distributed
    * loop on the same prepared input, and its id-valued output columns.
    */
  private case class Twin(name: String, idCols: Seq[String],
                          op: Graph => DataFrame, loop: Graph => DataFrame)

  private def e2(g: Graph) = g.edges.select("src", "dst")
  private def canon(g: Graph) = g.edges
    .select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
    .filter(col("a") =!= col("b")).distinct()
  private def noLoops(g: Graph) =
    e2(g).filter(col("src") =!= col("dst")).distinct()

  private lazy val twins: Seq[Twin] = {
    def sc = new CacheScope
    Seq(
      Twin("pageRank", Seq("node_id"), g => GraphOps.pageRank(e2(g), 4),
        g => GraphOps.rankLoop(GraphOps.rankEdges(e2(g), sc), None, 4, sc)),
      Twin("personalizedPageRank", Seq("node_id"),
        g => GraphOps.pageRank(e2(g), 4, Some(g.seeds)),
        g => GraphOps.rankLoop(GraphOps.rankEdges(e2(g), sc), Some(g.seeds), 4,
          sc)),
      Twin("pageRankWeighted", Seq("node_id"),
        g => GraphOps.pageRank(g.edges, 4),
        g => GraphOps.rankLoop(g.edges, None, 4, sc)),
      Twin("weightedDistance", Seq("node_id"),
        g => GraphOps.weightedDistance(g.edges, g.seeds, 6),
        g => GraphOps.weightedDistanceLoop(g.edges.distinct(), g.seeds, 6, sc)),
      Twin("hopDistance", Seq("node_id"),
        g => GraphOps.hopDistance(e2(g), g.seeds, 6),
        g => GraphOps.frontierLoop(e2(g).distinct(), g.seeds, 6, scope = sc)),
      Twin("hits", Seq("node_id"), g => GraphOps.hits(e2(g), 4),
        g => GraphOps.hitsLoop(e2(g).distinct(), 4, sc)),
      Twin("kTruss", Seq("a", "b"), g => GraphOps.kTruss(e2(g), 3, 5),
        g => GraphOps.kTrussLoop(canon(g), 3, 5, sc)),
      Twin("labelPropagation", Seq("node_id", "community"),
        g => GraphOps.labelPropagation(e2(g), 3),
        g => GraphOps.labelPropagationLoop(
          canon(g).select(col("a").as("u"), col("b").as("v")).unionByName(
            canon(g).select(col("b").as("u"), col("a").as("v"))), 3, sc)),
      Twin("kCore", Seq("node_id"), g => GraphOps.kCore(e2(g), 2, 10),
        g => GraphOps.kCoreLoop(canon(g).unionByName(
          canon(g).select(col("b").as("a"), col("a").as("b"))), 2, 10, sc)),
      Twin("stronglyConnectedComponents", Seq("node_id", "scc_id"),
        g => GraphOps.stronglyConnectedComponents(e2(g)),
        g => graft.core.LoopConf.withCoalescing(e2(g)) {
          GraphOps.sccBody(noLoops(g), sc) }),
      Twin("boruvkaMst", Seq("a", "b"),
        g => GraphOps.boruvkaMst(mstInput(g)),
        g => GraphOps.boruvkaBody(mstInput(g), sc)),
      Twin("landmarkCloseness", Seq("node_id"),
        g => GraphOps.landmarkCloseness(e2(g), g.seeds, 6),
        g => GraphOps.harmonicCloseness(GraphOps.frontierLoop(e2(g).distinct(),
          g.seeds.select(col("node_id").as("lm"), col("node_id")), 6, Seq("lm"),
          scope = sc))),
      Twin("shortestPathCounts", Seq("node_id"),
        g => GraphOps.shortestPathCounts(e2(g), g.seeds, 6),
        g => GraphOps.frontierLoop(e2(g).distinct(), g.seeds, 6,
          payload = Some("sigma"), scope = sc)),
      Twin("landmarkBetweenness", Seq("node_id"),
        g => GraphOps.landmarkBetweenness(e2(g), g.seeds, 4),
        g => GraphOps.landmarkBetweennessLoop(e2(g).distinct(), g.seeds, 4, sc)),
      Twin("topologicalLayers", Seq("node_id"),
        g => GraphOps.topologicalLayers(e2(g), 6),
        g => GraphOps.topologicalLayersLoop(noLoops(g), 6, sc)),
      Twin("duplicateClusters", Seq("doc_id", "cluster_id"),
        g => DedupOps.duplicateClusters(pairs(g)),
        g => GraphOps.componentsLoop(e2(g), sc)._1
          .select(col("node_id").as("doc_id"), col("component").as("cluster_id"))),
      Twin("resolveRedirects", Seq("src", "final"),
        g => CrawlOps.resolveRedirects(redirects(g)),
        g => CrawlOps.resolveRedirectsLoop(redirects(g),
          redirects(g).count(), sc)),
      Twin("hyperBall", Seq("node_id"),
        g => SketchOps.hyperBall(g.nodes, e2(g), 3),
        g => SketchOps.hyperBallLoop(g.nodes, e2(g).distinct(), 3)),
      Twin("doubleSweepDiameter", Seq("seed", "far_node", "peak_node"),
        g => GraphOps.doubleSweepDiameter(e2(g), 8),
        g => sweepsByLoop(g, 8)))
  }

  private def mstInput(g: Graph) = g.edges
    .filter(col("src") < col("dst"))
    .select(col("src").as("a"), col("dst").as("b"), col("w"))
  private def pairs(g: Graph) =
    e2(g).select(col("src").as("doc_a"), col("dst").as("doc_b"))
  /** A functional redirect map: each src keeps its smallest dst. */
  private def redirects(g: Graph) =
    e2(g).groupBy("src").agg(org.apache.spark.sql.functions.min("dst").as("dst"))

  /** The double sweep through the distributed BFS loop and the
    * distributed tie-break (max hops, then min node id).
    */
  private def sweepsByLoop(g: Graph, maxHops: Int): DataFrame = {
    val s = spark; import s.implicits._
    val sym = e2(g).unionByName(e2(g).select(col("dst").as("src"),
      col("src").as("dst"))).distinct()
    val ids = sym.select("src").as[Long].collect()
    if (ids.isEmpty)
      Seq.empty[(Long, Long, Long, Long, Long)]
        .toDF("seed", "far_node", "seed_ecc", "peak_node", "diameter_lb")
    else {
      def farthest(from: Long): (Long, Long) = {
        val d = GraphOps.frontierLoop(sym, Seq(from).toDF("node_id"), maxHops)
          .as[(Long, Long)].collect()
        val ecc = d.map(_._2).max
        (d.filter(_._2 == ecc).map(_._1).min, ecc)
      }
      val (far, ecc1) = farthest(ids.min)
      val (peak, ecc2) = farthest(far)
      Seq((ids.min, far, ecc1, peak, ecc2))
        .toDF("seed", "far_node", "seed_ecc", "peak_node", "diameter_lb")
    }
  }

  /** Every twin on the graph with ids `id(i)` equals its loop run on the
    * same graph with ids `i`, the loop's ids mapped through `id` — the
    * twins depend on ids only through their order, and the loops' own
    * int64 arithmetic stays clear of the range ends.
    */
  private def checkTwins(id: Int => Long, nEdges: Int): Unit = {
    val dense = graph(i => i.toLong, nEdges)
    val mapped = graph(id, nEdges)
    val toId = org.apache.spark.sql.functions.udf((x: java.lang.Long) =>
      if (x == null) null else java.lang.Long.valueOf(id(x.toInt)))
    twins.foreach { t =>
      val loop = t.loop(dense)
      val want = rows(loop.select(loop.columns.toIndexedSeq.map(c =>
        if (t.idCols.contains(c)) toId(col(c)).as(c) else col(c)): _*))
      val got = t.op(mapped)
      assert(local(got), t.name)
      assert(rows(got) === want, t.name)
    }
  }

  test("ids at the ends of the long range, negative ids, self-loops and " +
      "edge-free seeds: every twin matches its loop") {
    val ext = Array(Long.MinValue, Long.MinValue + 1, -1000000007L, -2L, -1L,
      0L, 3L, 1L << 40, Long.MaxValue - 2, Long.MaxValue - 1, Long.MaxValue)
    checkTwins(ext(_), 30)
  }

  test("an empty edge list: every twin matches its loop") {
    checkTwins(_.toLong, 0)
  }

  test("Luby rounds near the long range ends match the loop") {
    val s = spark; import s.implicits._
    // the loop's priority mixId(id * mul + round) is int64 arithmetic
    // that fails on overflow, so ids stay `rounds` clear of the ends
    val ext = Array(Long.MinValue + 1, -1000000007L, -2L, 0L, 3L,
      Long.MaxValue - 40, Long.MaxValue - 20)
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(20)((ext(rnd.nextInt(7)), ext(rnd.nextInt(7))))
      .toDF("src", "dst")
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    for (removeNeighbors <- Seq(true, false)) {
      val viaLoop = GraphOps.lubyRoundsLoop(und, 8, 1L, removeNeighbors,
        new CacheScope)
      val viaDispatch =
        if (removeNeighbors) GraphOps.lubyMis(edges, 8, 1L)
        else GraphOps.lubyColoring(edges, 8, 1L)
      assert(local(viaDispatch))
      assert(rows(viaDispatch) === rows(viaLoop), s"removeNeighbors=$removeNeighbors")
    }
  }
}
