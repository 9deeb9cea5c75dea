package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import org.apache.spark.sql.GraftPlanBridge.cut

import graft.core.{CacheScope, LoopFrame, UnionFind}
import graft.functions.Fns
import LocalGraph.{castIds, dispatchBySize}

/** Link-graph analytics over crawl-scale edge lists — the rank side of a
  * web-corpus pipeline (page importance feeds crawl scheduling and
  * training-data quality weights).
  */
object GraphOps {

  /** Initial rank mass per node, in micro-units (fixed point). */
  val RankScale: Long = 1000000L
  /** Damping factor as an exact integer percentage (85 / 100 = 0.85). */
  val DampingPct: Long = 85L

  /** PageRank with FIXED-POINT integer arithmetic: a node keeps
    * `(seed ? (1-d)·RankScale : 0) + d·Σ_in ⌊rank·w / sw⌋` each iteration,
    * where `sw` is the source's total out-weight and d = [[DampingPct]]/100
    * (dangling mass is dropped — the documented variant; re-injecting it
    * needs a global agg per round for no ranking benefit at this use).
    * All arithmetic is int64, so the result is bit-identical in any
    * engine — float PageRank can NOT be oracle-compared because
    * distributed sum order is nondeterministic.
    *
    * Edges: (src, dst) long ids — parallel edges collapse, the rank
    * contract is over the simple graph, and every edge weighs 1, so `sw`
    * is the out-degree — or, when the frame has a `w` column,
    * (src, dst, w) with w ≥ 1, one row per directed edge, taken as
    * given: the walk follows an edge with probability proportional to
    * its weight (anchor counts, co-occurrence counts — the TextRank
    * formulation). Overflow headroom: rank·w must stay
    * < 2⁶³ — fine for count-scale weights — and a per-node in-sum times
    * 85 likewise; ANSI mode fails loudly (not silently wraps) past it.
    *
    * Seeds: without them every node starts at [[RankScale]] micro-units
    * and every node restarts. With a seed frame (node_id) the restart
    * mass teleports to the seeds only — PERSONALIZED PageRank, rank_0 =
    * RankScale on seeds and 0 elsewhere: the topic-/site-conditioned
    * relevance primitive (crawl frontier prioritization from trusted
    * seeds, related-page discovery), mass diffusing outward along links
    * and decaying with the damping factor per hop. Seeds outside the edge
    * set are ignored (no links to diffuse over). Output: (node_id,
    * rank_e6) over all linked nodes — nodes no seed reaches report 0.
    *
    * Scale posture: per iteration exactly one shuffle join of the
    * weight-annotated edge list with the rank frame on `src` plus one
    * aggregation shuffle on `dst` — the canonical distributed PageRank
    * shape ([[rankLoop]]). Strategy selection
    * ([[LocalGraph.dispatchBySize]]): a small edge list runs every
    * iteration in ONE task ([[rankLocal]]); parity spec'd.
    */
  def pageRank(edges: DataFrame, iterations: Int,
               seeds: Option[DataFrame] = None,
               scope: CacheScope = CacheScope.global): DataFrame = {
    val e = rankEdges(edges, scope)
    val ids = seeds.map(_.select(col("node_id")).distinct())
    dispatchBySize(e, LocalSweepEdges,
        srcDst(edges) ++ seeds.map(_.schema("node_id").dataType): _*)(
      rankLocal(e, ids, iterations, edges.schema("src").dataType))(
      _ => rankLoop(e, ids, iterations, scope))
  }

  /** The (src, dst, w) edge list [[pageRank]] iterates over: a list with
    * a `w` column as given, persisted; any other as its persisted
    * distinct (src, dst) simple graph with w = 1.
    */
  private[graft] def rankEdges(edges: DataFrame,
                               scope: CacheScope): DataFrame =
    if (edges.columns.contains("w"))
      scope.persist(edges.select(col("src"), col("dst"), col("w")))
    else scope.persist(edges.select(col("src"), col("dst")).distinct())
      .withColumn("w", lit(1L))

  /** The distributed power-iteration loop of [[pageRank]] (spec-reachable
    * directly — the size dispatch would hide it at test scale). `e` is a
    * [[rankEdges]] list, `seeds` distinct seed ids (none: every node is a
    * seed). The weight-annotated edges are persisted once; the seed flag
    * rides the persisted node frame; the rank frame moves through a
    * [[graft.core.LoopFrame]], so the analyzer never walks a
    * depth-`iterations` join chain.
    */
  private[graft] def rankLoop(e: DataFrame, seeds: Option[DataFrame],
      iterations: Int, scope: CacheScope): DataFrame = {
    val linked = e.select(col("src").as("node_id"))
      .unionByName(e.select(col("dst").as("node_id"))).distinct()
    val nodes = scope.persist(seeds.fold(linked.withColumn("seed", lit(1L))) {
      s => linked.join(s.select(col("node_id"), lit(1L).as("__s")),
          Seq("node_id"), "left")
        .select(col("node_id"), coalesce(col("__s"), lit(0L)).as("seed"))
    })
    val sw = e.groupBy("src").agg(sum(col("w")).as("sw"))
    // weight-annotated edges: the loop's only join input, persisted once
    val ew = scope.persist(e.join(sw, "src"))
    val ranks = new LoopFrame(nodes
      .select(col("node_id"), (col("seed") * RankScale).as("rank")))
    val base = (100L - DampingPct) * (RankScale / 100L)
    for (_ <- 1 to iterations) {
      // `div` = IntegralDivide: exact long division at full int64 range
      // (Column./ on longs routes through doubles, inexact past 2^53)
      val contrib = ew.join(ranks.frame, col("src") === col("node_id"))
        .groupBy(col("dst"))
        .agg(sum(expr("(rank * w) div sw")).cast("long").as("in_sum"))
      ranks.advance(nodes.join(contrib, col("node_id") === col("dst"), "left")
        .select(col("node_id"), col("seed"),
          coalesce(col("in_sum"), lit(0L)).as("in_sum"))
        .selectExpr("node_id",
          s"seed * $base + ($DampingPct * in_sum) div 100 AS rank"))
    }
    ranks.keep(scope).select(col("node_id"), col("rank").as("rank_e6"))
  }

  /** Single-shard twin of [[rankLoop]] for graphs under the
    * [[LocalSweepEdges]] budget: the identical exact-int64 update
    * (seed·base + ⌊d·Σ⌊rank·w/sw⌋/100⌋, every operand non-negative so
    * Java `/` = Spark `div`) runs all iterations inside ONE task — one
    * job instead of two shuffles per round. Seeds ride the tagged union;
    * bit-identical by construction, parity spec'd against the loop.
    */
  private def rankLocal(e: DataFrame, seeds: Option[DataFrame],
                        iterations: Int,
                        idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val everyNode = seeds.isEmpty
    LocalGraph.run(e, seeds) { g =>
      val seed = Array.fill(g.n)(everyNode)
      g.seeds.foreach(seed(_) = true)
      val sw = new Array[Long](g.n)
      (0 until g.m).foreach(k => sw(g.src(k)) += g.w(k))
      val base = (100L - DampingPct) * (RankScale / 100L)
      val rank = Array.tabulate(g.n)(i => if (seed(i)) RankScale else 0L)
      for (_ <- 1 to iterations) {
        val inSum = new Array[Long](g.n)
        (0 until g.m).foreach { k =>
          val s = g.src(k)
          inSum(g.nbr(k)) += rank(s) * g.w(k) / sw(s)
        }
        (0 until g.n).foreach { i =>
          rank(i) = (if (seed(i)) base else 0L) + DampingPct * inSum(i) / 100L
        }
      }
      // seeds outside the edge set are ignored: no links to diffuse over
      (0 until g.n).iterator.filter(g.onEdge).map(i => (g.ids(i), rank(i)))
    }.toDF("node_id", "rank_e6").transform(castIds(idType, "node_id"))
  }

  /** Weighted multi-source shortest paths, distributed Bellman-Ford:
    * after round k every node holds the minimum total weight over
    * directed paths of ≤ k edges from the source set; rounds stop early
    * once a round improves nothing, at which point the distances are the
    * true shortest paths (non-negative integer weights). The crawl-cost
    * twin of [[hopDistance]] — hops answer "how far", weights answer
    * "how expensive" (latency, politeness budget, link quality).
    *
    * Scale posture: per round one shuffle join of the persisted edge list
    * with the IMPROVED-last-round frontier (not the whole state) plus one
    * min-aggregation — the delta-stepping-style frontier keeps late
    * rounds cheap as convergence localizes. The state row is
    * (node_id, dist, r) where r is the round that last improved the
    * node: `min(struct(dist, r))` merges candidates exactly (ties keep
    * the EARLIER round, so an equal re-derivation never re-activates a
    * node), and `r == round` recovers the next frontier without a
    * second materialization. The state moves through a
    * [[graft.core.LoopFrame]].
    *
    * Input: edges (src, dst, w) with w a non-negative long; sources
    * (node_id). Output: (node_id, dist); unreached nodes are absent.
    *
    * Strategy selection ([[LocalGraph.dispatchBySize]]): a small
    * deduplicated edge list runs every relaxation round inside ONE task
    * over a [[LocalGraph]] ([[weightedDistanceLocal]]); larger graphs
    * take the distributed loop verbatim. Parity spec'd.
    */
  def weightedDistance(edges: DataFrame, sources: DataFrame, maxRounds: Int,
                       scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.persist(
      edges.select(col("src"), col("dst"), col("w")).distinct())
    dispatchBySize(e, LocalSweepEdges, srcDst(edges) :+
        edges.schema("w").dataType :+ sources.schema("node_id").dataType: _*)(
      weightedDistanceLocal(e, sources, maxRounds))(
      _ => weightedDistanceLoop(e, sources, maxRounds, scope))
  }

  /** The distributed Bellman-Ford loop of [[weightedDistance]]
    * (spec-reachable directly). `e` must be the deduplicated
    * (src, dst, w) edge list.
    */
  private[graft] def weightedDistanceLoop(e: DataFrame, sources: DataFrame,
      maxRounds: Int, scope: CacheScope = CacheScope.global): DataFrame = {
    val state = new LoopFrame(sources.select(col("node_id")).distinct()
      .withColumn("dist", lit(0L)).withColumn("r", lit(0)))
    var frontier = state.frame
    var round = 0
    var drained = false
    while (round < maxRounds && !drained) {
      round += 1
      val cand = e.join(frontier, col("src") === col("node_id"))
        .select(col("dst").as("node_id"), (col("dist") + col("w")).as("dist"),
          lit(round).as("r"))
      state.advance(state.frame.unionByName(cand)
        .groupBy("node_id").agg(min(struct(col("dist"), col("r"))).as("m"))
        .select(col("node_id"), col("m.dist").as("dist"), col("m.r").as("r")))
      frontier = state.frame.filter(col("r") === round)
      drained = frontier.count() == 0
    }
    state.keep(scope).select(col("node_id"), col("dist"))
  }

  /** Single-shard twin of [[weightedDistance]] under the
    * [[LocalSweepEdges]] budget: the same synchronous relaxation
    * schedule (candidates drawn only from the round's improved
    * frontier, strict-improvement activation so an equal re-derivation
    * never re-activates a node — the loop's min(struct(dist, r))
    * tie rule) runs all rounds in one task. Bit-identical by
    * construction; parity spec'd against the distributed loop.
    */
  private[graft] def weightedDistanceLocal(e: DataFrame, sources: DataFrame,
                                           maxRounds: Int): DataFrame =
    LocalGraph.run(e, Some(sources.select(col("node_id")).distinct())) { g =>
      val dist = new Array[Long](g.n)
      val reached = new Array[Boolean](g.n)
      val cand = new Array[Long](g.n)
      val hasCand = new Array[Boolean](g.n)
      var frontier = g.seeds
      frontier.foreach { i => reached(i) = true }
      var round = 0
      while (round < maxRounds && frontier.nonEmpty) {
        round += 1
        // min candidate per destination from the frontier's round-start
        // distances (the synchronous half of the loop's union + min agg)
        val touched = new scala.collection.mutable.ArrayBuilder.ofInt
        frontier.foreach { u =>
          var k = g.off(u)
          while (k < g.off(u + 1)) {
            val v = g.nbr(k)
            val c = dist(u) + g.w(k)
            if (!hasCand(v)) { hasCand(v) = true; cand(v) = c; touched += v }
            else if (c < cand(v)) cand(v) = c
            k += 1
          }
        }
        frontier = touched.result().filter { v =>
          hasCand(v) = false
          val better = !reached(v) || cand(v) < dist(v)
          if (better) { reached(v) = true; dist(v) = cand(v) }
          better
        }
      }
      (0 until g.n).iterator.filter(reached).map(i => (g.ids(i), dist(i)))
    }.toDF("node_id", "dist")
      .transform(castIds(sources.schema("node_id").dataType, "node_id"))

  /** Per-node triangle participation counts over the undirected simple
    * graph — the local clustering signal of a link graph (spam farms and
    * boilerplate navigation rings are triangle-dense; genuine editorial
    * link neighborhoods are sparse). Direction is ignored: edges are
    * canonicalized to (a = min, b = max), self-loops and parallel edges
    * collapse.
    *
    * Scale posture: the classic degree-ordered orientation. Every edge is
    * oriented from its lower-(degree, id) endpoint to the higher, which
    * makes each triangle countable exactly once at its minimum-ranked
    * vertex and bounds every oriented out-degree by O(√m) — so the wedge
    * self-join (the only superlinear step) emits Σ C(outdeg⁺, 2) ≤ O(m^1.5)
    * rows worst-case instead of Σ C(deg, 2), which a power-law hub would
    * otherwise drive quadratic. Three shuffles total: degree agg, wedge
    * self-join on the pivot, closure join on the wedge endpoints; the
    * oriented edge frame is computed once and persisted across its three
    * uses. No per-node adjacency materialization, no driver state.
    *
    * Output: (node_id, n_tri) — nodes in no triangle are absent.
    */
  def triangleCounts(edges: DataFrame,
                     scope: CacheScope = CacheScope.global): DataFrame = {
    orientedTriangles(undirected(edges), scope)
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("n_tri"))
  }

  /** Each triangle of a canonical (a < b, distinct) edge set, exactly
    * once, as (u, v1, v2): vertices in DEGREE-rank order. The standard
    * orientation trick — wedges form only at each triangle's
    * minimum-rank vertex, so a 10^6-degree hub explodes O(deg^{3/2})
    * wedges instead of O(deg²).
    */
  private def orientedTriangles(ec: DataFrame,
                                scope: CacheScope): DataFrame = {
    val deg = ec.select(col("a").as("v"))
      .unionByName(ec.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val withDeg = ec
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // orient low-(deg, id) -> high-(deg, id); carry the head's rank so
    // wedge endpoints can be ordered without re-joining degrees
    val oriented = scope.persist(withDeg.select(
      when(fwd, col("a")).otherwise(col("b")).as("u"),
      when(fwd, col("b")).otherwise(col("a")).as("v"),
      when(fwd, col("db")).otherwise(col("da")).as("dv")))
    val o1 = oriented.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
    val o2 = oriented.select(col("u"), col("v").as("v2"), col("dv").as("d2"))
    // wedges at the minimum-ranked vertex, endpoints in rank order —
    // the closing edge (if any) is oriented exactly v1 -> v2
    o1.join(o2, "u")
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
      .join(oriented.select(col("u").as("v1"), col("v").as("v2")),
        Seq("v1", "v2"))
      .select(col("u"), col("v1"), col("v2"))
  }

  /** Per canonical edge, the number of triangles through it, from
    * [[orientedTriangles]] — (a, b, sup); triangle-free edges absent.
    */
  private def edgeSupport(ec: DataFrame, scope: CacheScope): DataFrame =
    orientedTriangles(ec, scope)
      .select(explode(array(
        struct(least(col("u"), col("v1")).as("a"),
          greatest(col("u"), col("v1")).as("b")),
        struct(least(col("u"), col("v2")).as("a"),
          greatest(col("u"), col("v2")).as("b")),
        struct(least(col("v1"), col("v2")).as("a"),
          greatest(col("v1"), col("v2")).as("b")))).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("sup"))

  /** K-TRUSS peeling (k ≥ 3): iteratively delete every edge supported by
    * fewer than k−2 triangles until none is — the cohesive-subgraph
    * backbone (denser than connected components, cheaper than cliques;
    * the spam-farm / link-ring detector of a web graph). Exactly
    * `rounds` peel rounds, matching the unrolled oracle — removal is
    * monotone, so once the set is stable every further round is a no-op
    * on both engines and the loop exits early on convergence.
    *
    * Scale posture: per round ONE oriented-wedge triangle enumeration
    * (O(m^{3/2}) work, hub-safe via [[orientedTriangles]]) feeding a
    * per-edge support count and a semi-join filter; the edge set only
    * shrinks, so rounds get cheaper; it moves through a
    * [[graft.core.LoopFrame]]. Output: surviving edges (a, b, sup) with
    * support RECOMPUTED inside the surviving set.
    */
  def kTruss(edges: DataFrame, k: Int, rounds: Int,
             scope: CacheScope = CacheScope.global): DataFrame = {
    require(k >= 3, "k-truss peeling joins away support-0 edges; k >= 3")
    val cec = scope.persist(undirected(edges))
    dispatchBySize(cec, LocalSweepEdges, srcDst(edges): _*)(
      kTrussLocal(cec, k, rounds))(_ => kTrussLoop(cec, k, rounds, scope))
  }

  /** The distributed peel loop of [[kTruss]] (spec-reachable directly).
    * `ec0` must be the canonical (a < b, distinct) edge list.
    */
  private[graft] def kTrussLoop(ec0: DataFrame, k: Int, rounds: Int,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val alive = new LoopFrame(ec0)
    var r = 0
    var stable = false
    while (r < rounds && !stable) {
      r += 1
      val e = alive.frame
      val n = alive.rows
      stable = alive.advance(e.join(edgeSupport(e, scope)
        .filter(col("sup") >= k - 2), Seq("a", "b"), "left_semi")) == n
    }
    val e = alive.keep(scope)
    e.join(edgeSupport(e, scope), Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("sup"), lit(0L)).as("sup"))
  }

  /** Single-shard twin of [[kTruss]] under the [[LocalSweepEdges]]
    * budget: the same synchronous peel schedule (per-round support =
    * |N(a) ∩ N(b)| within the surviving set, remove sup < k−2, stop on
    * stability or the round cap, output survivors with support
    * RECOMPUTED) over sorted adjacency arrays in one task. Support is
    * algorithm-independent (triangles through an edge), so rows match
    * the oriented-wedge loop bit-for-bit; parity spec'd.
    */
  private[graft] def kTrussLocal(ec: DataFrame, k: Int,
                                 rounds: Int): DataFrame =
    LocalGraph.run(ec) { g =>
      var (as, bs) = (g.src, g.nbr)
      // support of every edge (a, b): |N(a) ∩ N(b)| within the edge set,
      // each smaller row probed against the bigger row, sorted
      def support(): Array[Long] = {
        val adj = g.withEdges(as ++ bs, bs ++ as)
        (0 until adj.n).foreach(i =>
          java.util.Arrays.sort(adj.nbr, adj.off(i), adj.off(i + 1)))
        Array.tabulate(as.length) { j =>
          val (x, y) =
            if (adj.degree(as(j)) <= adj.degree(bs(j))) (as(j), bs(j))
            else (bs(j), as(j))
          (adj.off(x) until adj.off(x + 1)).count(p =>
            java.util.Arrays.binarySearch(adj.nbr, adj.off(y), adj.off(y + 1),
              adj.nbr(p)) >= 0).toLong
        }
      }
      var r = 0
      var stable = false
      while (r < rounds && !stable) {
        r += 1
        val sup = support()
        stable = sup.forall(_ >= k - 2)
        as = as.indices.filter(sup(_) >= k - 2).map(as).toArray
        bs = bs.indices.filter(sup(_) >= k - 2).map(bs).toArray
      }
      val sup = support()
      as.indices.iterator.map(j => (g.ids(as(j)), g.ids(bs(j)), sup(j)))
    }.toDF("a", "b", "sup").transform(castIds(ec.schema("a").dataType, "a", "b"))

  /** Synchronous label-propagation community detection, FIXED rounds:
    * every node starts labeled with its own id; each round every node
    * adopts the most frequent label among its neighbors, ties broken by
    * the SMALLEST label — a fully deterministic schedule (async LPA's
    * visit-order nondeterminism would make the result un-oracle-able),
    * so after exactly `rounds` rounds the labeling is bit-identical in
    * any engine. Communities ≠ connected components
    * ([[connectedComponents]] merges everything reachable; LPA splits a
    * component along its dense cores — the content-farm / link-ring
    * detector of a crawl graph).
    *
    * Scale posture: per round ONE shuffle join of the persisted doubled
    * adjacency with the label frame plus one two-level aggregation
    * ((node, label) counts, then argmax via max(struct(cnt, −label)) —
    * both map-side combinable); the labels move through a
    * [[graft.core.LoopFrame]]. Fixed `rounds` is the documented contract
    * (convergence detection would add a per-round comparison job for no
    * semantic gain — oscillating bipartite cliques never converge).
    *
    * Input: (src, dst) long ids. Output: (node_id, community); isolated
    * ids absent (no edges → no votes).
    */
  def labelPropagation(edges: DataFrame, rounds: Int,
                       scope: CacheScope = CacheScope.global): DataFrame = {
    val ec = undirected(edges)
    val adj = scope.persist(ec.select(col("a").as("u"), col("b").as("v"))
      .unionByName(ec.select(col("b").as("u"), col("a").as("v"))))
    dispatchBySize(adj, LocalSweepEdges, srcDst(edges): _*)(
      labelPropagationLocal(adj, rounds))(
      _ => labelPropagationLoop(adj, rounds, scope))
  }

  /** The distributed vote loop of [[labelPropagation]] (spec-reachable
    * directly). `adj` must be the doubled (u, v) adjacency list.
    */
  private[graft] def labelPropagationLoop(adj: DataFrame, rounds: Int,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val labels = new LoopFrame(adj.select(col("u").as("node_id"))
      .distinct().withColumn("lab", col("node_id")))
    for (_ <- 1 to rounds) {
      val votes = adj
        .join(labels.frame.withColumnRenamed("node_id", "v"), "v")
        .groupBy(col("u").as("node_id"), col("lab"))
        .agg(count(lit(1)).as("c"))
      labels.advance(votes
        .groupBy("node_id")
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("node_id"), (-col("m.nl")).as("lab")))
    }
    labels.keep(scope).select(col("node_id"), col("lab").as("community"))
  }

  /** Single-shard twin of [[labelPropagation]] under the [[LocalSweepEdges]]
    * budget: the same synchronous schedule (every node adopts its neighbors'
    * most frequent label, ties to the SMALLEST label, exactly `rounds`
    * rounds) over the doubled adjacency as a [[LocalGraph]] in one task.
    * Deterministic by the same tie rule, so rows match the vote loop
    * bit-for-bit; parity spec'd.
    */
  private[graft] def labelPropagationLocal(adj: DataFrame,
                                           rounds: Int): DataFrame =
    LocalGraph.run(adj) { g =>
      // labels are node indices: the smallest index is the smallest id
      var labels = Array.range(0, g.n)
      val votes = new Array[Long](g.n)
      for (_ <- 1 to rounds) {
        val prev = labels
        labels = Array.tabulate(g.n) { u =>
          var best = u
          var bestCnt = -1L
          (g.off(u) until g.off(u + 1)).foreach { k =>
            val l = prev(g.nbr(k))
            votes(l) += 1
            if (votes(l) > bestCnt || (votes(l) == bestCnt && l < best)) {
              bestCnt = votes(l); best = l
            }
          }
          (g.off(u) until g.off(u + 1)).foreach(k => votes(prev(g.nbr(k))) = 0L)
          best
        }
      }
      (0 until g.n).iterator.filter(g.degree(_) > 0)
        .map(u => (g.ids(u), g.ids(labels(u))))
    }.toDF("node_id", "community")
      .transform(castIds(adj.schema("u").dataType, "node_id", "community"))

  /** Local clustering coefficient per node, exact integer permille:
    * coeff_pm = 2000·n_tri div (deg·(deg−1)) over the simple undirected
    * graph — how tightly a page's link neighborhood closes on itself
    * (spam farms score near 1000, organic hubs near 0). Composes
    * [[triangleCounts]] (its documented oriented-wedge scale posture)
    * with one degree aggregation and a left join; nodes of degree < 2
    * are dropped (the coefficient is undefined there). All arithmetic
    * int64: deg ≤ 3·10⁹ before deg·(deg−1) overflows, far beyond any
    * real node's degree — and ANSI mode fails loudly, not wraps.
    *
    * Output: (node_id, deg, n_tri, coeff_pm).
    */
  def clusteringCoefficients(edges: DataFrame,
                             scope: CacheScope = CacheScope.global): DataFrame = {
    val ec = undirected(edges)
    val deg = ec.select(col("a").as("node_id"))
      .unionByName(ec.select(col("b").as("node_id")))
      .groupBy("node_id").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
    deg.join(triangleCounts(edges, scope), Seq("node_id"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .selectExpr("node_id", "deg", "n_tri",
        "(2000 * n_tri) div (deg * (deg - 1)) AS coeff_pm")
  }

  /** Per-pivot wedge-fanout cap for [[linkPrediction]]: pivots with more
    * neighbors than this are dropped from the metric (the documented
    * contract — the oracle applies the same cap). Hubs carry almost no
    * link-prediction signal (their Adamic–Adar weight 1/ln(deg) vanishes)
    * AND are the quadratic hazard: a pivot of degree d emits d(d-1)/2
    * candidate pairs, so one celebrity page would otherwise dominate the
    * whole job.
    */
  val LinkPredHubCap = 64

  /** Link-prediction scores over an undirected simple graph: for every
    * non-adjacent node pair sharing ≥ `minCn` common neighbors (through
    * non-hub pivots), the common-neighbor count and the Adamic–Adar
    * score Σ_pivot 1/ln(deg(pivot)) — the classic "people you may know" /
    * related-pages primitive of a crawl graph.
    *
    * Determinism: the AA term is quantized per PIVOT before the sum —
    * `10^12 div lnE6(deg)` with [[graft.core.Hll.lnE6]]'s fixed-IEEE-op
    * ln — so the aggregate is an integer sum (associative, shuffle-order-
    * proof) and bit-identical in any engine; a float Σ 1/ln(d) could not
    * be oracle-compared.
    *
    * Scale posture: wedges are generated at the PIVOT (one self-join of
    * the degree-filtered adjacency list on the pivot id), so candidate
    * volume is Σ_pivot min(deg, cap)² — linear in edge count at fixed
    * cap, never all-pairs. Three shuffles: degree agg, wedge self-join,
    * pair agg; plus the left-anti against existing edges (prediction
    * means NEW pairs only). The capped neighbor frame is persisted across
    * its two join uses and scope-released.
    *
    * Input: (src, dst) long ids (direction and parallel edges collapse).
    * Output: (node_a, node_b, cn, aa_e6) with node_a < node_b.
    */
  def linkPrediction(edges: DataFrame, minCn: Long = 2L,
                     hubCap: Int = LinkPredHubCap,
                     scope: CacheScope = CacheScope.global): DataFrame = {
    val ec = undirected(edges)
    val adj = ec.select(col("a").as("u"), col("b").as("v"))
      .unionByName(ec.select(col("b").as("u"), col("a").as("v")))
    // pivot contribution: 1e6/ln(deg) as exact integer floor division of
    // 1e12 by the e6-quantized deterministic ln (deg ≥ 2 ⇒ lnE6 ≥ 693147)
    val piv = adj.groupBy("u").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2 && col("deg") <= hubCap)
      .withColumn("__ln", graft.plans.HllExpressions.lnE6(col("deg").cast("double")))
      .selectExpr("u", s"${1000000000000L}L div __ln AS c")
    val nbr = scope.persist(adj.join(piv, "u"))
    val cand = nbr.select(col("u"), col("v").as("node_a"), col("c"))
      .join(nbr.select(col("u"), col("v").as("node_b")), "u")
      .filter(col("node_a") < col("node_b"))
    cand.groupBy("node_a", "node_b")
      .agg(count(lit(1)).as("cn"), sum(col("c")).as("aa_e6"))
      .filter(col("cn") >= minCn)
      .join(ec.withColumnRenamed("a", "node_a").withColumnRenamed("b", "node_b"),
        Seq("node_a", "node_b"), "left_anti")
  }

  /** Multi-source BFS hop distance: for every node reachable from the
    * source set within `maxHops` directed hops, the minimum hop count —
    * crawl-frontier / link-neighborhood analytics (how far is every page
    * from the seed list). Classic frontier propagation ([[frontierLoop]]):
    * each round is ONE shuffle join of the (persisted, deduplicated) edge
    * list with the current frontier plus an anti-join against the visited
    * set — no all-pairs reachability, no per-node path enumeration;
    * rounds stop early when the frontier drains.
    *
    * Input: edges (src, dst), sources (node_id). Output: (node_id, hops)
    * with hops ∈ [0, maxHops]; unreached nodes are absent.
    *
    * Strategy selection ([[bfsOperator]]): a small deduplicated edge list
    * runs the whole BFS inside ONE task over a [[LocalGraph]]
    * ([[hopDistanceLocal]] — memory bounded by the edge budget) instead
    * of paying one blocking frontier round per hop; larger graphs take
    * the distributed loop unchanged. Same small/large split as the kNN
    * family; parity spec'd.
    */
  def hopDistance(edges: DataFrame, sources: DataFrame, maxHops: Int,
                  scope: CacheScope = CacheScope.global): DataFrame =
    bfsOperator(edges, sources, scope, "node_id", "hops")(
      hopDistanceLocal(_, maxHops))(
      (e, ids) => frontierLoop(e, ids, maxHops, scope = scope))

  /** The prologue of the BFS operators ([[hopDistance]],
    * [[landmarkCloseness]], [[shortestPathCounts]],
    * [[landmarkBetweenness]]): persists the deduplicated (src, dst) edge
    * list, then size-dispatches ([[LocalGraph.dispatchBySize]], with the
    * source id type) between the single-shard `local` kernel — run over a
    * [[LocalGraph]] whose seeds are the distinct source ids, its rows
    * named `cols` and node ids cast back to the source id type — and the
    * `distributed` loop, handed the edge list and the distinct source ids.
    */
  private def bfsOperator[T <: Product : TypeTag](edges: DataFrame,
      sources: DataFrame, scope: CacheScope, cols: String*)(
      local: LocalGraph => Iterator[T])(
      distributed: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val e = scope.persist(edges.select(col("src"), col("dst")).distinct())
    val ids = sources.select(col("node_id")).distinct()
    val idType = sources.schema("node_id").dataType
    dispatchBySize(e, LocalSweepEdges, srcDst(edges) :+ idType: _*)(
      LocalGraph.run(e, Some(ids))(local).toDF(cols: _*)
        .transform(castIds(idType, "node_id")))(
      _ => distributed(e, ids))
  }

  /** The one distributed BFS frontier loop (spec-reachable directly — the
    * size dispatch would otherwise hide it at test scale). `e` must be
    * the deduplicated (src, dst) edge list; `seeds` are distinct
    * (keys…, node_id) rows, one independent BFS per key value (none: one
    * multi-source BFS). Each round joins the frontier (the rows first
    * reached last round) to the edges, keeps the (keys…, dst) arrivals
    * not yet visited under their keys, and adds them at the round's hop;
    * the visited frame moves through a [[graft.core.LoopFrame]], so the
    * analyzer never walks a depth-`maxHops` union chain, and the loop
    * stops early once a round adds nothing.
    *
    * With a `payload` column, every seed row carries 1 and an arrival
    * carries the SUM of its frontier predecessors' payloads (one `dst`
    * aggregation in place of DISTINCT) — the σ shortest-path counts of
    * the level-synchronous BFS DAG; later (longer) arrivals never
    * contribute.
    *
    * Output: (keys…, node_id, hops[, payload]) for every reached row,
    * hops ∈ [0, maxHops].
    */
  private[graft] def frontierLoop(e: DataFrame, seeds: DataFrame,
      maxHops: Int, keys: Seq[String] = Nil, payload: Option[String] = None,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val at = keys :+ "node_id"
    val atCols = at.map(col)
    val carried = payload.toSeq.map(col)
    val visited = new LoopFrame(seeds.select(atCols ++
      (lit(0L).as("hops") +: payload.toSeq.map(lit(1L).as(_))): _*))
    var frontier = visited.frame
    var h = 0L
    var drained = false
    while (h < maxHops && !drained) {
      h += 1
      val seen = visited.frame
      val prevTotal = visited.rows
      val reached = e.join(frontier.select(atCols ++ carried: _*),
          col("src") === col("node_id"))
        .select(keys.map(col) ++ (col("dst").as("node_id") +: carried): _*)
      val next = payload.fold(reached.distinct())(p =>
          reached.groupBy(atCols: _*).agg(sum(col(p)).as(p)))
        .join(seen.select(atCols: _*), at, "left_anti")
        .select(atCols ++ (lit(h).as("hops") +: carried): _*)
      drained = visited.advance(seen.unionByName(next)) == prevTotal
      frontier = visited.frame.filter(col("hops") === h)
    }
    visited.keep(scope)
  }

  /** Single-shard twin of [[hopDistance]] under the [[LocalSweepEdges]]
    * budget: the whole multi-source sweep runs in one task, sources on
    * the tagged union (no driver collect) — identical output contract to
    * the distributed loop (minimum hops per reached node, sources at 0,
    * unreached absent, capped at maxHops).
    */
  private def hopDistanceLocal(g: LocalGraph,
                               maxHops: Int): Iterator[(Long, Long)] = {
    val dist = Array.fill(g.n)(-1)
    g.bfs(g.seeds, maxHops, dist).iterator.map(i => (g.ids(i), dist(i).toLong))
  }

  /** Single-shard twin of [[hits]] (integer max-renormalized hub/auth
    * half-steps, qa/qh = max raw ÷ RankScale floor-divided — identical
    * scalars to the loop's two global maxes) under the budget.
    */
  private def hitsLocal(simple: DataFrame, iterations: Int,
      idType: org.apache.spark.sql.types.DataType): DataFrame =
    LocalGraph.run(simple) { g =>
      val h = Array.fill(g.n)(RankScale)
      val a = Array.fill(g.n)(RankScale)
      for (_ <- 1 to iterations) {
        val araw = new Array[Long](g.n)
        (0 until g.m).foreach(k => araw(g.nbr(k)) += h(g.src(k)))
        val qa = math.max(araw.foldLeft(0L)(math.max) / RankScale, 1L)
        (0 until g.n).foreach(i => a(i) = araw(i) / qa)
        val hraw = new Array[Long](g.n)
        (0 until g.m).foreach(k => hraw(g.src(k)) += a(g.nbr(k)))
        val qh = math.max(hraw.foldLeft(0L)(math.max) / RankScale, 1L)
        (0 until g.n).foreach(i => h(i) = hraw(i) / qh)
      }
      (0 until g.n).iterator.map(i => (g.ids(i), h(i), a(i)))
    }.toDF("node_id", "hub_e6", "auth_e6").transform(castIds(idType, "node_id"))

  /** Deterministic RANDOM-WALK corpus (the DeepWalk/node2vec input):
    * `walksPerNode` walks from every node, each `steps` hops, where hop
    * `t` of walk `w` picks sorted-neighbor index
    * mixId(w·(steps+1)+t) mod degree — an RNG-free choice both engines
    * reproduce bit-for-bit. This is the graph→sequence bridge of an
    * embedding pipeline: the emitted (walk, step, node) rows ARE the
    * training sentences.
    *
    * Scale posture: one groupBy builds per-node sorted adjacency ARRAYS
    * (persisted; degree capped at `maxDeg` — a 10^6-degree hub would
    * otherwise be a gigabyte row, and production walk engines cap or
    * alias-sample exactly here), then `steps` equi-join shuffles of the
    * walk frontier against it — the canonical distributed walk shape;
    * the output reads every round, so each round is held in `scope` and
    * cut. Walks reaching a node with no out-edges stop (the join drops
    * them).
    * Input: edges(src, dst). Output: (walk_id, step, node).
    */
  def randomWalks(edges: DataFrame, walksPerNode: Int, steps: Int,
                  maxDeg: Int = 1024,
                  scope: CacheScope = CacheScope.global): DataFrame = {
    val simple = edges.select(col("src"), col("dst")).distinct()
    val nbrs = scope.persist(simple.groupBy("src")
      .agg(slice(sort_array(collect_list(col("dst"))), 1, maxDeg).as("ns")))
    val w = walksPerNode.toLong
    // every round's frame stays persisted until the scope releases: the
    // output UNION references all of them, so dropping one mid-loop
    // would recompute the whole join chain at evaluation time. Total
    // held state ≈ the output itself ((steps+1)·n·walksPerNode 2-long
    // rows), the natural floor for this operator.
    var frontier = scope.persist(nbrs.select(col("src").as("node"))
      .select(explode(sequence(lit(0L), lit(w - 1L))).as("wi"), col("node"))
      .select((col("node") * w + col("wi")).as("walk_id"), col("node").as("cur")))
    frontier.count()
    frontier = cut(frontier)
    var out = frontier.select(col("walk_id"), lit(0L).as("step"),
      col("cur").as("node"))
    for (t <- 1 to steps) {
      val next = scope.persist(frontier.join(nbrs, col("cur") === col("src"))
        .select(col("walk_id"),
          element_at(col("ns"),
            (Fns.mixId(col("walk_id") * (steps + 1) + t) % size(col("ns"))
              + 1).cast("int")).as("cur")))
      next.count()
      frontier = cut(next)
      out = out.unionByName(frontier.select(col("walk_id"),
        lit(t.toLong).as("step"), col("cur").as("node")))
    }
    out
  }

  /** Per-node link RECIPROCITY: of a node's distinct out-links, how many
    * are returned (⟨a→b⟩ with ⟨b→a⟩ present) — the webgraph mutuality
    * signal (mirror detection, link-scheme scoring; a crawl ranker
    * discounts link farms whose reciprocity ≈ 1000‰). One semi-join of
    * the deduped edge list against its own transpose plus two key aggs —
    * no window, no loop. Output: (node_id, outdeg, mutual, recip_pm)
    * with recip_pm = ⌊1000·mutual/outdeg⌋.
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val mutual = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .groupBy("src").agg(count(lit(1)).as("mutual"))
    e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .join(mutual, Seq("src"), "left")
      .select(col("src").as("node_id"), col("outdeg"),
        coalesce(col("mutual"), lit(0L)).as("mutual"))
      .withColumn("recip_pm", expr("(mutual * 1000) div outdeg"))
  }

  /** Edge budget of the single-shard graph twins: a prepared edge list
    * at or under this many rows runs the whole algorithm inside ONE task
    * over a [[LocalGraph]] (memory O(edges), bounded by this constant)
    * instead of paying one blocking round of scheduler latency per
    * iteration; above it the distributed loop runs unchanged. The rule is
    * [[LocalGraph.dispatchBySize]]'s; the switch mirrors the kNN family's
    * small/large strategy selection.
    */
  val LocalSweepEdges: Long = 1L << 22

  private def srcDst(edges: DataFrame) =
    Seq(edges.schema("src").dataType, edges.schema("dst").dataType)

  /** The undirected simple graph of (src, dst) edges: one (a, b) row per
    * edge with a < b, self-loops dropped, parallel and reversed edges
    * collapsed.
    */
  private def undirected(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** Double-sweep diameter estimation (the standard BFS heuristic whose
    * result is an exact LOWER bound and exact on trees): BFS from a
    * deterministic seed (the minimum node id), hop to the farthest node
    * reached (ties to the smallest id), BFS again — the second
    * eccentricity bounds the graph diameter from below, typically
    * tightly. The crawl use: "how many hops is this link island across",
    * the budget input for hop-limited frontier expansion. Edges are
    * treated as undirected (symmetrized here).
    *
    * Scale posture: two [[hopDistance]] frontier loops (each O(diameter)
    * rounds of one join + one distinct, frontier-sized state) plus three
    * driver-side single-value probes (the seed min, and each sweep's
    * argmax row) — documented eager scalars, the same contract as knn's
    * density probe. Output one row: (seed, far_node, seed_ecc,
    * peak_node, diameter_lb).
    */
  def doubleSweepDiameter(edges: DataFrame, maxHops: Int,
                          scope: CacheScope = CacheScope.global): DataFrame = {
    val sess = edges.sparkSession
    import sess.implicits._
    val sym = scope.persist(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    dispatchBySize(sym, LocalSweepEdges, srcDst(edges): _*)(
      // both sweeps in one task: BFS level h's nodes are exactly the
      // distributed loop's hops==h rows, so far-node tie-break (max hops,
      // then min node id) = min id of the last level reached
      LocalGraph.run(sym) { g =>
        val dist = Array.fill(g.n)(-1)
        def sweep(from: Int): (Int, Long) = {
          val order = g.bfs(Array(from), maxHops, dist)
          val ecc = dist(order.last)
          val far = order.filter(dist(_) == ecc).min
          order.foreach(dist(_) = -1)
          (far, ecc.toLong)
        }
        if (g.n == 0) Iterator.empty
        else {
          val (far, ecc1) = sweep(0)
          val (peak, ecc2) = sweep(far)
          Iterator((g.ids(0), g.ids(far), ecc1, g.ids(peak), ecc2))
        }
      }.toDF("seed", "far_node", "seed_ecc", "peak_node", "diameter_lb")) { _ =>
      val seed = sym.agg(min(col("src"))).head().getLong(0)
      val d1 = hopDistance(sym, Seq(seed).toDF("node_id"), maxHops, scope)
      val f1 = d1.orderBy(col("hops").desc, col("node_id")).limit(1).head()
      val (far, ecc1) = (f1.getLong(0), f1.getLong(1))
      val d2 = hopDistance(sym, Seq(far).toDF("node_id"), maxHops, scope)
      val f2 = d2.orderBy(col("hops").desc, col("node_id")).limit(1).head()
      Seq((seed, far, ecc1, f2.getLong(0), f2.getLong(1)))
        .toDF("seed", "far_node", "seed_ecc", "peak_node", "diameter_lb")
    }
  }

  /** Undirected connected components over an (src, dst) edge list:
    * node_id → component, where the component label is the smallest node
    * id reachable from the node. The one components operator: near-dup
    * clusters ([[DedupOps.duplicateClusters]] renames its columns),
    * overlap dissolves, way chains, raster regions, DBSCAN cores,
    * trajectory clusters and Borůvka merges all label through it, and
    * [[connectedComponentsResumable]] is its durable form. The crawl use:
    * carving a host/link graph into independent crawl universes (mirror
    * farms, link islands) before per-component scheduling or dedup.
    * Nodes with no edges don't appear (components are defined over the
    * edge list; union isolated nodes in as self-labeled if needed).
    *
    * Size dispatch ([[LocalGraph.dispatchBySize]] under
    * [[LocalSweepEdges]]): a small edge list is one [[graft.core.UnionFind]]
    * pass in one task ([[LocalGraph.componentMins]]); a larger one runs
    * [[componentsLoop]]. Both give the same labels (parity spec'd).
    */
  def connectedComponents(edges: DataFrame,
                          scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.persist(edges.select(col("src"), col("dst")))
    dispatchBySize(e, LocalSweepEdges, srcDst(edges): _*)(
      LocalGraph.run(e)(_.componentMins).toDF("node_id", "component")
        .transform(castIds(edges.schema("src").dataType, "node_id", "component")))(
      _ => componentsLoop(e, scope)._1)
  }

  /** Rounds of plain min-label propagation before pointer jumping kicks
    * in: pair graphs are usually shallow (a handful of near-copies per
    * component), where the jump's extra self-join per round is pure
    * overhead — it pays only on deep chains that survive the first rounds.
    */
  val ClusterJumpAfter = 3

  /** The distributed path of [[connectedComponents]] over its persisted
    * (src, dst) list `e`. Returns the labels and the number of
    * pointer-jump rounds (spec'd convergence bound).
    *
    * First a CASCADED union-find CONTRACTION collapses the graph as far
    * as shard-local passes can. One pass loads each partition's edges as
    * a [[LocalGraph]] and emits (node, shard-local min root)
    * ([[LocalGraph.componentMins]]; memory O(edges in the partition)). A
    * node whose edges span several partitions gets several local roots —
    * each such multi-membership IS a cross-partition merge, so the
    * groupBy(node) that follows emits the CONTRACTED graph: one edge
    * (root, min root of the node) per extra membership. A single
    * hash-partitioned pass contracts chains badly (a path's edges scatter
    * over P partitions — measured 7% shrink on the trajectory pair graph,
    * leaving a 42-round loop), so the pass CASCADES: the surviving edges
    * are re-counted and re-sharded into ceil(edges / [[LocalSweepEdges]])
    * partitions — the single-task twin's budget, strictly fewer
    * partitions each pass — and contracted again, at most log(P) passes.
    * Once the remainder fits one shard the last pass resolves every
    * component and the loop below sees an EMPTY graph (one convergence
    * round, no propagation); a remainder that cannot shrink further goes
    * to the loop as is, so the cascade never worsens its asymptotics.
    *
    * Then the POINTER-JUMP LOOP over the contracted remainder: rounds of
    * [[jumpRound]] until no label changes, each materialized by its
    * changed-label count through a [[graft.core.LoopFrame]], so only the
    * final label frame survives (registered in `scope`) and Catalyst never
    * re-optimizes an ever-deeper join chain. A component of diameter d
    * converges in O(ClusterJumpAfter + log d) rounds — a 10^6-link
    * boilerplate chain costs ~25 rounds, not 10^6.
    *
    * Labels do not depend on how many passes run: the component minimum
    * m is its own local root wherever it appears, every local root is a
    * member ≥ m, and roots chain to m through the contracted edges, so
    * the loop's labels on the final roots, mapped back through the
    * COMPOSED (node → min root) mapping, are exactly the plain loop's
    * (spec'd parity on random graphs).
    */
  private[graft] def componentsLoop(e: DataFrame,
      scope: CacheScope): (DataFrame, Int) =
    graft.core.LoopConf.withCoalescing(e) {
      val sess = e.sparkSession
      import sess.implicits._
      var edges = e.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)]
      var mapping: DataFrame = null
      var contracted: DataFrame = null
      var lastParts = -1 // first pass rides the caller's partitioning
      var continue = true
      while (continue) {
        val nr = scope.persist(edges
          .mapPartitions(it => LocalGraph.load(
            it.map(p => (p._1, p._2, 0L, 1)), weighted = false).componentMins)
          .toDF("node", "root").groupBy("node")
          .agg(min("root").as("mroot"), collect_set("root").as("roots")))
        val m = nr.select(col("node"), col("mroot"))
        // compose this pass's root mapping onto the cumulative one: only
        // roots that still had cross-partition edges re-appear in the next
        // pass, so absent roots keep their current mroot (left + coalesce)
        mapping = if (mapping == null) m
          else scope.persist(mapping.join(
              m.select(col("node").as("mroot"), col("mroot").as("mroot2")),
            Seq("mroot"), "left")
            .select(col("node"),
              coalesce(col("mroot2"), col("mroot")).as("mroot")))
        contracted = scope.persist(nr
          .select(col("mroot"), explode(col("roots")).as("r"))
          .filter(col("r") =!= col("mroot"))
          .select(col("r").as("src"), col("mroot").as("dst"))
          .distinct())
        val n = contracted.count()
        val cur = if (lastParts > 0) lastParts else contracted.rdd.getNumPartitions
        val target = math.max(1L, (n + LocalSweepEdges - 1) / LocalSweepEdges).toInt
        if (n == 0 || target >= cur) continue = false
        else {
          lastParts = target
          edges = contracted.repartition(target).as[(Long, Long)]
        }
      }
      // cut: every round reads sym twice, and an uncut sym would carry
      // the caller's whole pair plan into each round's analysis
      val sym = cut(scope.persist(contracted.unionByName(
        contracted.select(col("dst").as("src"), col("src").as("dst")))))
      val labels = new LoopFrame(sym.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
      var changed = 1L
      var rounds = 0
      while (changed > 0) {
        rounds += 1
        val roundScope = new CacheScope
        changed = labels.advance(jumpRound(sym, labels.frame, rounds, roundScope),
          _.filter(col("label") =!= col("old")).count())
        roundScope.release()
      }
      val idType = e.schema("src").dataType
      val out = mapping.join(labels.keep(scope)
          .select(col("id").as("mroot"), col("label").as("component")),
          Seq("mroot"), "left")
        .select(col("node").cast(idType).as("node_id"),
          coalesce(col("component"), col("mroot")).cast(idType).as("component"))
      (out, rounds)
    }

  /** One round of min-label propagation over the symmetric (src, dst)
    * list `sym`, shared by the in-memory and the durable loop: every node
    * adopts the minimum label over its closed neighborhood; from round
    * [[ClusterJumpAfter]] + 1 on it then also shortcuts to its label's
    * label (labels are node ids, so the lookup is a complete self-join),
    * which halves the remaining distance to the component minimum.
    * `labels` holds (id, label); the round is (id, old, label), so
    * convergence is read off the round itself with no comparison join.
    * The jump reads the stepped labels on both sides (shuffled by
    * different keys, no exchange reuse), so they are persisted in
    * `roundScope`, for the caller to release once the round is
    * materialized.
    */
  private def jumpRound(sym: DataFrame, labels: DataFrame, round: Int,
                        roundScope: CacheScope): DataFrame = {
    val prop = sym.join(
        labels.select(col("id").as("dst"), col("label").as("nbl")), "dst")
      .groupBy(col("src").as("id")).agg(min("nbl").as("nbr"))
    val stepped = labels.select(col("id"), col("label").as("old"))
      .join(prop, Seq("id"), "left")
      .select(col("id"), col("old"),
        least(col("old"), coalesce(col("nbr"), col("old"))).as("label"))
    if (round <= ClusterJumpAfter) stepped
    else {
      val s = roundScope.persist(stepped)
      s.join(s.select(col("id").as("lid"), col("label").as("llabel")),
          col("label") === col("lid"))
        .select(col("id"), col("old"), least(col("label"), col("llabel")).as("label"))
    }
  }

  /** Durable, resumable [[connectedComponents]]: the plain [[jumpRound]]
    * loop (no contraction), with every round's label frame committed to
    * `stateDir` through [[CheckpointOps.iterateResumable]], so a
    * pre-empted job over a 10^12-node pair graph restarts from its last
    * durable round, not from scratch. The parquet round trip doubles as
    * the plan cut (each round's plan is reborn from a scan); its cost is
    * one write+read barrier per round. Use the in-memory operator for
    * latency, this one for long jobs on pre-emptible capacity. Returns
    * (labels as [[connectedComponents]], total completed rounds, rounds
    * executed this invocation — 0 on a full resume); pass `maxRounds` to
    * budget an invocation and call again to continue.
    */
  def connectedComponentsResumable(edges: DataFrame, stateDir: String,
      maxRounds: Int = Int.MaxValue): (DataFrame, Int, Int) = {
    val sym = edges.select(col("src"), col("dst")).unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst"))).persist()
    val init = sym.select(col("src").as("id")).distinct()
      .withColumn("old", col("id")).withColumn("label", col("id"))
    val roundScope = new CacheScope
    val (state, rounds, executed) = CheckpointOps.iterateResumable(
        edges.sparkSession, init, stateDir, maxRounds) { (labels, round) =>
      roundScope.release() // the previous round is durable by now
      val out = jumpRound(sym, labels, round, roundScope)
      (out, out.filter(col("label") =!= col("old")).count())
    }
    roundScope.release()
    sym.unpersist(blocking = false)
    (state.select(col("id").as("node_id"), col("label").as("component")),
      rounds, executed)
  }

  /** HITS hubs/authorities with fixed-point INTEGER arithmetic — the
    * link-graph quality signal pair next to [[pageRank]] (a good hub
    * links to good authorities; a good authority is linked from good
    * hubs). Classic HITS L2-normalizes each half-step (float,
    * order-dependent — not oracle-comparable); this variant normalizes by
    * FLOOR-DIVIDING by `max div RankScale` instead: magnitudes stay in
    * [0, ~2·RankScale], every op is int64 (floor div + sum), so the
    * result is bit-identical in any engine and the RANKING equals the
    * max-normalized power iteration's.
    *
    * Per iteration: auth_raw(v) = Σ_{u→v} hub(u), renormalize; then
    * hub_raw(u) = Σ_{u→v} auth(v), renormalize. Overflow headroom: after
    * renormalization values are ≤ 2·RankScale, so a raw in-sum is ≤
    * indegree·2·RankScale — safe below ~4.6·10^12 in-links to ONE node;
    * ANSI mode fails loudly beyond. Scale posture: per iteration two
    * edge-list shuffle joins + two key aggregations (the pageRank shape
    * twice); the two global maxes are single-scalar actions (documented
    * eager contract, same as the loop's per-round materialize). The
    * state moves through a [[graft.core.LoopFrame]].
    *
    * Input: (src, dst) long edge ids (parallel edges collapse). Output:
    * (node_id, hub_e6, auth_e6).
    */
  def hits(edges: DataFrame, iterations: Int,
           scope: CacheScope = CacheScope.global): DataFrame = {
    val simple = scope.persist(edges.select(col("src"), col("dst")).distinct())
    dispatchBySize(simple, LocalSweepEdges, srcDst(edges): _*)(
      hitsLocal(simple, iterations, edges.schema("src").dataType))(
      _ => hitsLoop(simple, iterations, scope))
  }

  /** The distributed loop of [[hits]] (spec-reachable). */
  private[graft] def hitsLoop(simple: DataFrame, iterations: Int,
      scope: CacheScope): DataFrame = {
    val nodes = scope.persist(
      simple.select(col("src").as("node_id"))
        .unionByName(simple.select(col("dst").as("node_id"))).distinct())
    val e = scope.persist(simple)

    val st = new LoopFrame(nodes
      .withColumn("h", lit(RankScale)).withColumn("a", lit(RankScale)))
    for (_ <- 1 to iterations) {
      val aRaw = e.join(st.frame.select(col("node_id"), col("h")),
          col("src") === col("node_id"))
        .groupBy(col("dst")).agg(sum(col("h")).cast("long").as("araw"))
      val aFull = nodes.join(aRaw, col("node_id") === col("dst"), "left")
        .select(col("node_id"), coalesce(col("araw"), lit(0L)).as("araw"))
        .persist()
      // an empty graph has no max: coalesce to 0, so the divisor stays 1
      val qa = math.max(aFull.agg(coalesce(max(col("araw")), lit(0L)))
        .head.getLong(0) / RankScale, 1L)
      val aN = aFull.selectExpr("node_id", s"araw div $qa AS a")
      val hRaw = e.join(aN.select(col("node_id").as("__an"), col("a")),
          col("dst") === col("__an"))
        .groupBy(col("src")).agg(sum(col("a")).cast("long").as("hraw"))
      val hFull = nodes.join(hRaw, col("node_id") === col("src"), "left")
        .select(col("node_id"), coalesce(col("hraw"), lit(0L)).as("hraw"))
        .persist()
      val qh = math.max(hFull.agg(coalesce(max(col("hraw")), lit(0L)))
        .head.getLong(0) / RankScale, 1L)
      st.advance(hFull.selectExpr("node_id", s"hraw div $qh AS h")
        .join(aN, "node_id"))
      aFull.unpersist(blocking = false)
      hFull.unpersist(blocking = false)
    }
    st.keep(scope)
      .select(col("node_id"), col("h").as("hub_e6"), col("a").as("auth_e6"))
  }

  /** k-core: the maximal subgraph in which every node has ≥ k neighbors
    * (undirected simple graph) — the standard density skeleton for link
    * graphs (spam farms and boilerplate nav rings live OUTSIDE the core;
    * topical hubs inside). Computed by iterative peeling: drop every node
    * whose surviving degree < k until nothing changes.
    *
    * Determinism/bounding contract: the loop runs at most `maxRounds`
    * peel rounds with an early exit at the fixpoint. Peeling is monotone
    * and idempotent — once stable, further rounds are identity — so the
    * early-exited result EQUALS the fixed-`maxRounds` unroll whenever
    * convergence happens within the bound, which is what lets a plain
    * staged-SQL twin verify it. Random-ish link graphs converge in
    * O(log n) rounds; a worst-case path graph peels ~n/2, hence the
    * explicit bound rather than an unbounded loop.
    *
    * Scale posture: per round the edge list is semi-joined against the
    * alive set on BOTH endpoints (two hash shuffles) and degree-counted
    * (one agg); edges only shrink. The alive set moves through a
    * [[graft.core.LoopFrame]]. Input: (src, dst). Output:
    * (node_id, core_deg) for core members, core_deg = degree within the
    * core.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int,
            scope: CacheScope = CacheScope.global): DataFrame = {
    val und = undirected(edges)
    val ue = scope.persist(
      und.unionByName(und.select(col("b").as("a"), col("a").as("b"))))
    dispatchBySize(ue, LocalSweepEdges, srcDst(edges): _*)(
      kCoreLocal(ue, k, maxRounds))(_ => kCoreLoop(ue, k, maxRounds, scope))
  }

  /** The distributed peel loop of [[kCore]] (spec-reachable directly).
    * `ue` must be the symmetrized deduplicated (a, b) edge list.
    */
  private[graft] def kCoreLoop(ue: DataFrame, k: Int, maxRounds: Int,
      scope: CacheScope = CacheScope.global): DataFrame = {
    def degrees(alive: DataFrame): DataFrame =
      ue.join(alive.select(col("node_id").as("__s")), col("a") === col("__s"))
        .join(alive.select(col("node_id").as("__t")), col("b") === col("__t"))
        .groupBy(col("a").as("node_id"))
        .agg(count(lit(1)).as("core_deg"))

    val alive = new LoopFrame(ue.select(col("a").as("node_id")).distinct())
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      round += 1
      val n = alive.rows
      converged = alive.advance(degrees(alive.frame)
        .filter(col("core_deg") >= k).select(col("node_id"))) == n
    }
    degrees(alive.keep(scope))
  }

  /** Single-shard twin of [[kCore]] under the [[LocalSweepEdges]]
    * budget: the same synchronous peel schedule (per round recompute
    * every live node's degree within the live set, keep ≥ k, stop on
    * convergence or the round cap, emit final live degrees — nodes with
    * no surviving edge are absent, matching the loop's degrees-frame
    * filter) over the symmetric adjacency as a [[LocalGraph]] in one
    * task; parity spec'd.
    */
  private[graft] def kCoreLocal(ue: DataFrame, k: Int,
                                maxRounds: Int): DataFrame =
    LocalGraph.run(ue) { g =>
      var alive = Array.tabulate(g.n)(g.degree(_) > 0)
      def liveDeg(v: Int): Long =
        (g.off(v) until g.off(v + 1)).count(j => alive(g.nbr(j))).toLong
      var n = alive.count(identity)
      var round = 0
      var converged = false
      while (round < maxRounds && !converged) {
        round += 1
        // the loop's degrees frame only carries nodes with >= 1 live
        // edge, so deg-0 nodes drop regardless of k
        val next = Array.tabulate(g.n) { v =>
          alive(v) && { val d = liveDeg(v); d >= 1 && d >= k }
        }
        val m = next.count(identity)
        converged = m == n
        n = m
        alive = next
      }
      (0 until g.n).iterator.filter(alive).map(v => (g.ids(v), liveDeg(v)))
        .filter(_._2 >= 1)
    }.toDF("node_id", "core_deg")
      .transform(castIds(ue.schema("a").dataType, "node_id"))

  /** Strongly connected components of a DIRECTED edge list — the crawl
    * "core" detector (mutual-link cliques, ring farms) that undirected
    * WCC cannot see. Published distributed shape (ColorSCC / FW-BW):
    * each round (1) forward-propagates min node ids to a fixpoint — the
    * color F(v) = smallest id that reaches v in the remaining graph;
    * (2) runs a backward BFS from every color root SIMULTANEOUSLY,
    * restricted to same-color edges — the nodes that reach their root
    * within its class are exactly SCC(root), because root→v (coloring)
    * and v→root (backward) are mutual; (3) removes the resolved SCCs
    * and repeats on the remainder. The label c assigned to v is the
    * minimum id of SCC(v) (c ∈ SCC(v) and c = F(v) ≤ min SCC(v)).
    *
    * Scale posture: state is one label per live node plus a tagged BFS
    * frontier — never pairwise reachability; every step is an edge-list
    * equi-join + key agg. Rounds are data-dependent (every color class
    * resolves its root SCC per round; random crawl-ish graphs converge
    * in a handful), the documented trade of the coloring algorithm.
    * Every loop frame is `localCheckpoint`ed, which truncates the RDD
    * lineage as well as the plan; convergence gates are count/isEmpty
    * actions (documented eager contract).
    *
    * Input: (src, dst). Output: (node_id, scc_id) over edge endpoints,
    * scc_id = min node id of the component.
    */
  def stronglyConnectedComponents(edges: DataFrame,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.persist(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    dispatchBySize(e, LocalSweepEdges, srcDst(edges): _*)(sccLocal(e))(
      _ => graft.core.LoopConf.withCoalescing(edges) { sccBody(e, scope) })
  }

  /** Single-shard SCC for graphs under the [[LocalSweepEdges]] budget:
    * iterative Kosaraju (forward finish order, reverse-graph peeling) over a
    * [[LocalGraph]] in ONE task. The output contract is canonical — scc_id =
    * min node id of the component over non-self-loop edge endpoints — so any
    * correct SCC algorithm produces bit-identical rows to the distributed
    * coloring loop (parity spec'd); the local path just skips the loop's
    * data-dependent rounds of join latency.
    */
  private def sccLocal(e: DataFrame): DataFrame =
    LocalGraph.run(e) { g =>
      // pass 1: forward DFS finish order (iterative, explicit stack of
      // (node, next edge slot))
      val seen = new Array[Boolean](g.n)
      val order = new scala.collection.mutable.ArrayBuilder.ofInt
      val stackNode = new Array[Int](g.n)
      val stackSlot = new Array[Int](g.n)
      (0 until g.n).iterator.filterNot(seen).foreach { start =>
        var top = 0
        seen(start) = true; stackNode(0) = start; stackSlot(0) = g.off(start)
        while (top >= 0) {
          val u = stackNode(top)
          val k = stackSlot(top)
          if (k == g.off(u + 1)) { order += u; top -= 1 }
          else {
            stackSlot(top) = k + 1
            val v = g.nbr(k)
            if (!seen(v)) {
              seen(v) = true; top += 1
              stackNode(top) = v; stackSlot(top) = g.off(v)
            }
          }
        }
      }
      // pass 2: peel the reverse graph in reverse finish order; a
      // component's label is its smallest index, i.e. its smallest id
      val rev = g.reversed
      val comp = Array.fill(g.n)(-1)
      order.result().reverseIterator.filter(comp(_) < 0).foreach { root =>
        val members = new scala.collection.mutable.ArrayBuilder.ofInt
        val stack = scala.collection.mutable.Stack(root)
        comp(root) = root
        while (stack.nonEmpty) {
          val u = stack.pop()
          members += u
          (rev.off(u) until rev.off(u + 1)).map(rev.nbr).filter(comp(_) < 0)
            .foreach { v => comp(v) = root; stack.push(v) }
        }
        val ms = members.result()
        val label = ms.min
        ms.foreach(comp(_) = label)
      }
      (0 until g.n).iterator.map(i => (g.ids(i), g.ids(comp(i))))
    }.toDF("node_id", "scc_id")
      .transform(castIds(e.schema("src").dataType, "node_id", "scc_id"))

  /** The distributed coloring loop (spec-reachable; `edges` must already
    * be the deduplicated non-self-loop (src, dst) list).
    */
  private[graft] def sccBody(edges: DataFrame, scope: CacheScope): DataFrame = {
    // Lineage control: the doubly-nested rounds would chain hundreds of
    // stages into one RDD DAG — task serialization stack-overflows around
    // a few hundred nested dependencies (observed in a full Verify run).
    // localCheckpoint(eager) TRUNCATES lineage at every loop frame (persist
    // alone does not); on a multi-executor cluster swap for reliable
    // checkpoint(dir) — same call sites, fault-tolerant blocks.
    def cp(df: DataFrame): DataFrame = df.localCheckpoint(true)
    var rem = cp(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    var nodes = cp(rem.select(col("src").as("id"))
      .unionByName(rem.select(col("dst").as("id"))).distinct())
    var nLive = nodes.count()
    var acc: DataFrame = nodes.select(col("id").as("node_id"),
      col("id").as("scc_id")).filter(lit(false))
    while (nLive > 0) {
      // (0) trim: nodes with zero out- or in-degree in the live graph are
      // singleton SCCs — resolving them in bulk spares the coloring loop
      // one full round per DAG-tail level (the dominant round count on
      // crawl-shaped graphs)
      var trimming = true
      while (trimming && nLive > 0) {
        val dead = cp(nodes
          .join(rem.select(col("src").as("id")).distinct(), Seq("id"),
            "left_anti")
          .unionByName(nodes.join(rem.select(col("dst").as("id")).distinct(),
            Seq("id"), "left_anti"))
          .distinct())
        val nDead = dead.count()
        if (nDead == 0) { trimming = false; dead.unpersist(blocking = false) }
        else {
          val accNew = cp(acc.unionByName(
            dead.select(col("id").as("node_id"), col("id").as("scc_id"))))
          acc.unpersist(blocking = false)
          acc = accNew
          val liveNew = cp(nodes.join(dead, Seq("id"), "left_anti"))
          val remNew = cp(rem
            .join(liveNew.select(col("id").as("src")), "src")
            .join(liveNew.select(col("id").as("dst")), "dst"))
          nodes.unpersist(blocking = false)
          rem.unpersist(blocking = false)
          dead.unpersist(blocking = false)
          nodes = liveNew
          rem = remNew
          nLive -= nDead
        }
      }
      if (nLive == 0) {
        scope.track(rem); scope.track(nodes); scope.track(acc)
        return acc
      }
      // (1) forward min-color to fixpoint — convergence gated on the
      // monotone label sum (each f only decreases, so an unchanged sum
      // IS a fixpoint): one cheap scan-agg instead of a diff join
      var lab = cp(nodes.select(col("id").as("node"), col("id").as("f")))
      var prevSum = lab.agg(sum(col("f"))).head().getLong(0)
      var stable = false
      while (!stable) {
        val next = cp(rem
          .join(lab.select(col("node").as("src"), col("f")), "src")
          .select(col("dst").as("node"), col("f"))
          .unionByName(lab)
          .groupBy("node").agg(min(col("f")).as("f")))
        val s = next.agg(sum(col("f"))).head().getLong(0)
        stable = s == prevSum
        prevSum = s
        lab.unpersist(blocking = false)
        lab = next
      }
      // (2) backward BFS from all color roots over same-color edges
      val eCol = cp(rem
        .join(lab.select(col("node").as("src"), col("f").as("fs")), "src")
        .join(lab.select(col("node").as("dst"), col("f").as("fd")), "dst")
        .filter(col("fs") === col("fd"))
        .select(col("src"), col("dst")))
      var vis = cp(lab.filter(col("node") === col("f"))
        .select(col("f").as("c"), col("node")))
      var frontier = vis
      var prevFrontier: DataFrame = null
      var drained = false
      while (!drained) {
        val next = cp(eCol
          .join(frontier.select(col("c"), col("node").as("dst")), "dst")
          .select(col("c"), col("src").as("node")).distinct()
          .join(vis, Seq("c", "node"), "left_anti"))
        if (next.isEmpty) { drained = true; next.unpersist(blocking = false) }
        else {
          // next stays checkpointed: it IS the following round's frontier
          // (a truncated-lineage frame cannot recompute once dropped)
          val grown = cp(vis.unionByName(next))
          vis.unpersist(blocking = false)
          if (prevFrontier != null) prevFrontier.unpersist(blocking = false)
          vis = grown
          frontier = next
          prevFrontier = next
        }
      }
      if (prevFrontier != null) prevFrontier.unpersist(blocking = false)
      // (3) emit resolved SCCs, shrink the live graph
      val accNew = cp(acc.unionByName(
        vis.select(col("node").as("node_id"), col("c").as("scc_id"))))
      acc.unpersist(blocking = false)
      acc = accNew
      val liveNew = cp(nodes.join(vis.select(col("node").as("id")), Seq("id"),
        "left_anti"))
      val nNew = liveNew.count()
      val remNew = cp(rem
        .join(liveNew.select(col("id").as("src")), "src")
        .join(liveNew.select(col("id").as("dst")), "dst"))
      lab.unpersist(blocking = false)
      eCol.unpersist(blocking = false)
      vis.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      rem.unpersist(blocking = false)
      nodes = liveNew
      rem = remNew
      nLive = nNew
    }
    scope.track(rem)
    scope.track(nodes)
    scope.track(acc)
    acc
  }

  /** Distributed Borůvka minimum spanning tree/forest over an undirected
    * weighted edge list with DISTINCT weights (caller contract — makes
    * the MST unique, every per-component argmin deterministic, and the
    * oracle's minimax characterization exact). The backbone extractor
    * for similarity graphs: a dedup/conflation pair graph's MST is its
    * cheapest connecting skeleton (single-linkage dendrogram edges).
    *
    * Classic Borůvka rounds: every component hooks its cheapest outgoing
    * edge (struct-min per component over both directions), the chosen
    * edges join the forest, touched components merge (labels via
    * [[connectedComponents]]'s pointer-jumping min-label on the
    * CONTRACTED component graph — ≤ one node per component, so the inner
    * loop runs on a frame that halves every round). Component count at
    * least halves per round ⇒ ≤ ⌈log₂ n⌉ rounds of a few hash shuffles
    * each — no sequential Kruskal sort, no quadratic step anywhere.
    * Every round's frames are `localCheckpoint`ed (lineage truncated);
    * the round gate is one isEmpty action (documented eager contract).
    *
    * Input: (a, b, w) with a < b, distinct w. Output: the forest's
    * (a, b, w) edges.
    */
  def boruvkaMst(edges: DataFrame,
                 scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.persist(edges.select(col("a"), col("b"), col("w")))
    dispatchBySize(e, LocalSweepEdges, edges.schema("a").dataType,
        edges.schema("b").dataType, edges.schema("w").dataType)(
      boruvkaLocal(e))(
      _ => graft.core.LoopConf.withCoalescing(edges) { boruvkaBody(e, scope) })
  }

  /** Single-shard twin of [[boruvkaMst]] under the [[LocalSweepEdges]]
    * budget: the identical Borůvka schedule — per round every component picks
    * its lexicographic-min (w, a, b) cross edge, the chosen set dedups,
    * components merge to the MIN member label (the connectedComponents
    * contract) — run over a [[LocalGraph]] with a [[UnionFind]] on node indices
    * in one task. Same chosen edges per round by construction; parity spec'd
    * against the distributed rounds.
    */
  private[graft] def boruvkaLocal(e: DataFrame): DataFrame =
    LocalGraph.run(e) { g =>
      // edge slots compare by (w, a, b): indices order like ids
      def lt(x: Int, y: Int): Boolean =
        g.w(x) < g.w(y) || (g.w(x) == g.w(y) &&
          (g.src(x) < g.src(y) || (g.src(x) == g.src(y) && g.nbr(x) < g.nbr(y))))
      val comp = Array.range(0, g.n)
      val mst = scala.collection.mutable.LinkedHashSet[(Int, Int, Long)]()
      var done = false
      while (!done) {
        // per-component lexicographic-min (w, a, b) cross edge — the
        // loop's min(struct(w, a, b)) per side
        val best = Array.fill(g.n)(-1)
        def offer(c: Int, k: Int): Unit =
          if (best(c) < 0 || lt(k, best(c))) best(c) = k
        (0 until g.m).foreach { k =>
          val (ca, cb) = (comp(g.src(k)), comp(g.nbr(k)))
          if (ca != cb) { offer(ca, k); offer(cb, k) }
        }
        val chosen = best.filter(_ >= 0)
        done = chosen.isEmpty
        // merge chosen components to the min member label (the
        // connectedComponents min-label contract)
        val uf = new UnionFind(g.n)
        chosen.foreach { k =>
          mst += ((g.src(k), g.nbr(k), g.w(k)))
          uf.union(comp(g.src(k)), comp(g.nbr(k)))
        }
        (0 until g.n).foreach(i => comp(i) = uf.find(comp(i)))
      }
      mst.iterator.map { case (a, b, w) => (g.ids(a), g.ids(b), w) }
    }.toDF("a", "b", "w")
      .transform(castIds(e.schema("a").dataType, "a", "b"))
      .withColumn("w", col("w").cast(e.schema("w").dataType))

  private[graft] def boruvkaBody(edges: DataFrame, scope: CacheScope): DataFrame = {
    // localCheckpoint(eager) per round: the hook-and-contract rounds nest
    // connectedComponents' own loop, so persist-only rebasing would chain
    // every round's stages into one task-serialized RDD DAG (the q_scc
    // stack-overflow class); truncation keeps the DAG round-local. Swap
    // for reliable checkpoint(dir) on a multi-executor cluster.
    def cp(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val e = cp(edges.select(col("a"), col("b"), col("w")))
    var labels = cp(e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .distinct().withColumn("comp", col("node")))
    var mst = e.filter(lit(false))
    var done = false
    while (!done) {
      val el = e
        .join(labels.select(col("node").as("a"), col("comp").as("ca")), "a")
        .join(labels.select(col("node").as("b"), col("comp").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
      if (el.isEmpty) done = true
      else {
        val dir = el.select(col("ca").as("c"),
            struct(col("w"), col("a"), col("b")).as("e"))
          .unionByName(el.select(col("cb").as("c"),
            struct(col("w"), col("a"), col("b")).as("e")))
        val chosen = dir.groupBy("c").agg(min(col("e")).as("m"))
          .select(col("m.w").as("w"), col("m.a").as("a"), col("m.b").as("b"))
          .distinct()
        val mstNew = cp(mst.unionByName(chosen.select("a", "b", "w")))
        mst.unpersist(blocking = false)
        mst = mstNew
        val ce = chosen
          .join(labels.select(col("node").as("a"), col("comp").as("ca")), "a")
          .join(labels.select(col("node").as("b"), col("comp").as("cb")), "b")
          .select(col("ca").as("src"), col("cb").as("dst"))
        val merged = connectedComponents(ce, scope)
          .withColumnRenamed("node_id", "comp")
        val grown = cp(labels.join(merged, Seq("comp"), "left")
          .select(col("node"),
            coalesce(col("component"), col("comp")).as("comp")))
        labels.unpersist(blocking = false)
        labels = grown
      }
    }
    labels.unpersist(blocking = false)
    e.unpersist(blocking = false)
    scope.track(mst)
    mst
  }

  /** Landmark-based harmonic closeness centrality: exact closeness needs
    * all-pairs shortest paths (quadratic state — impossible at crawl
    * scale), so the standard scalable estimator runs a multi-source BFS
    * from a FIXED, deterministic landmark set and scores every node by
    * the harmonic sum Σ_{lm: d>0} ⌊10^6 / d⌋ over the landmark distances
    * — integer terms, commutative sum, so shuffle order cannot perturb
    * the result. Output: (node_id, n_lm, close_e6) with n_lm the number
    * of landmarks that reach the node (landmark nodes count themselves
    * at d=0, contributing to n_lm but not to close_e6).
    *
    * Scale posture: BFS state is (landmark × visited-node) pairs —
    * bounded by |landmarks| · |V|, LINEAR in graph size at the fixed
    * landmark count, never all-pairs: [[frontierLoop]] keyed by landmark,
    * early exit on a drained frontier, then one node-keyed aggregation
    * ([[harmonicCloseness]]).
    */
  def landmarkCloseness(edges: DataFrame, landmarks: DataFrame, maxHops: Int,
                        scope: CacheScope = CacheScope.global): DataFrame =
    bfsOperator(edges, landmarks, scope, "node_id", "n_lm", "close_e6")(
      landmarkClosenessLocal(_, maxHops))((e, ids) =>
      harmonicCloseness(frontierLoop(e,
        ids.select(col("node_id").as("lm"), col("node_id")), maxHops,
        Seq("lm"), scope = scope)))

  /** The harmonic sums of [[landmarkCloseness]] over the distributed
    * (lm, node_id, hops) visited frame of [[frontierLoop]] keyed by
    * landmark (spec-reachable directly).
    */
  private[graft] def harmonicCloseness(visited: DataFrame): DataFrame =
    visited.groupBy("node_id")
      .agg(count(lit(1)).as("n_lm"),
        sum(when(col("hops") > 0, expr("1000000 div hops")).otherwise(0L))
          .as("close_e6"))

  /** Single-shard twin of [[landmarkCloseness]] under the
    * [[LocalSweepEdges]] budget: one BFS per landmark over a
    * [[LocalGraph]] in a single task (landmarks ride the tagged union),
    * accumulating the identical integer harmonic terms ⌊10⁶/d⌋ — the
    * per-(landmark, node) distances equal the loop's visited frame by
    * BFS minimality, so the aggregated rows match bit-for-bit; parity
    * spec'd.
    */
  private def landmarkClosenessLocal(g: LocalGraph,
      maxHops: Int): Iterator[(Long, Long, Long)] = {
    val nLm = new Array[Long](g.n)
    val close = new Array[Long](g.n)
    val dist = Array.fill(g.n)(-1)
    g.seeds.foreach { lm =>
      g.bfs(Array(lm), maxHops, dist).foreach { v =>
        nLm(v) += 1L
        if (dist(v) > 0) close(v) += 1000000L / dist(v)
        dist(v) = -1
      }
    }
    (0 until g.n).iterator.filter(nLm(_) > 0)
      .map(v => (g.ids(v), nLm(v), close(v)))
  }

  /** Shortest-path COUNTING from a seed set — the σ table of Brandes
    * betweenness (how many distinct shortest paths from the seeds reach
    * each node). Level-synchronous frontier propagation: a node first
    * reached at hop `h` has σ = Σ σ(u) over frontier predecessors u at
    * hop `h-1`; later (longer) arrivals never contribute, matching the
    * textbook BFS-DAG definition. All-integer, so the result is
    * bit-identical in any engine and any shuffle order.
    *
    * Scale posture: per round ONE shuffle join of the persisted edge
    * list with the current frontier plus one `dst` aggregation and an
    * anti-join against the visited set — [[frontierLoop]] with σ as its
    * summed payload instead of DISTINCT, early exit when the frontier
    * drains. σ
    * grows at most by the max out-degree factor per hop, so int64 holds
    * for any realistic (maxHops, degree) envelope; ANSI mode fails
    * loudly on overflow rather than wrapping.
    *
    * Input: edges (src, dst), sources (node_id). Output
    * (node_id, hops, sigma) for every node within `maxHops`; seeds carry
    * (0, 1). Reference capability: SURVEY §2.3 multi-pass relation
    * traversal (relations/assembler.hpp two-pass member resolution);
    * path counting is the same frontier-join family the crawl analytics
    * need for centrality estimates.
    */
  def shortestPathCounts(edges: DataFrame, sources: DataFrame, maxHops: Int,
                         scope: CacheScope = CacheScope.global): DataFrame =
    bfsOperator(edges, sources, scope, "node_id", "hops", "sigma")(
      shortestPathCountsLocal(_, maxHops))((e, ids) =>
      frontierLoop(e, ids, maxHops, payload = Some("sigma"), scope = scope))

  /** Single-shard twin of [[shortestPathCounts]] under the
    * [[LocalSweepEdges]] budget: the level-synchronous BFS-DAG σ
    * recurrence (first-arrival level, σ(v) = Σ σ(u) over hop-(h−1)
    * predecessors) over a [[LocalGraph]] in one task, sources on the
    * tagged union. The σ table is algorithm-independent (the
    * textbook definition), so rows match the loop bit-for-bit; parity
    * spec'd.
    */
  private def shortestPathCountsLocal(g: LocalGraph,
      maxHops: Int): Iterator[(Long, Long, Long)] = {
    val hops = Array.fill(g.n)(-1)
    val sigma = new Array[Long](g.n)
    g.bfs(g.seeds, maxHops, hops, sigma).iterator
      .map(v => (g.ids(v), hops(v).toLong, sigma(v)))
  }

  /** Landmark BETWEENNESS (Brandes): the σ forward pass of
    * [[shortestPathCounts]] plus the level-synchronous BACKWARD
    * dependency accumulation δ(v) = Σ_{w : d(w)=d(v)+1, (v,w)∈E}
    * ⌊σ_v · (10⁶ + δ_w) / σ_w⌋ — each edge's term is ONE integer floor
    * division, so the per-node sum is shuffle-order-proof and the whole
    * table bit-identical cross-engine (float Brandes is not). δ is in e6
    * micro-units of the textbook dependency; paths are truncated at
    * `maxHops` in BOTH passes (the landmark approximation's documented
    * horizon).
    *
    * Scale posture: the forward pass is [[frontierLoop]] with the σ
    * payload, read from its cached last round; the
    * backward pass is exactly `maxHops` rounds (level-bounded, not
    * data-dependent), each ONE edge-list join against two level slices
    * of the forward frame plus a map-side-combined sum.
    * Output: (node_id, hops, sigma, delta_e6) for every reached node.
    */
  def landmarkBetweenness(edges: DataFrame, sources: DataFrame, maxHops: Int,
                          scope: CacheScope = CacheScope.global): DataFrame = {
    // maxHops == 0 would make the backward-level Seq empty and the
    // levels.reduce below throw UnsupportedOperationException
    require(maxHops >= 1, s"landmarkBetweenness needs maxHops >= 1, got $maxHops")
    bfsOperator(edges, sources, scope, "node_id", "hops", "sigma", "delta_e6")(
      landmarkBetweennessLocal(_, maxHops))(
      landmarkBetweennessLoop(_, _, maxHops, scope))
  }

  /** The distributed Brandes passes of [[landmarkBetweenness]]
    * (spec-reachable directly). `e` must be the deduplicated (src, dst)
    * edge list, `sources` distinct source ids.
    */
  private[graft] def landmarkBetweennessLoop(e: DataFrame, sources: DataFrame,
      maxHops: Int, scope: CacheScope = CacheScope.global): DataFrame = {
    // the loop's kept round is already cached in `scope`: the level
    // slices below read it without a second copy
    val fwd = frontierLoop(e, sources, maxHops, payload = Some("sigma"),
      scope = scope)
    var deeper: Option[DataFrame] = None
    val levels = (maxHops - 1 to 0 by -1).map { h =>
      val v = fwd.filter(col("hops") === h)
        .select(col("node_id").as("src"), col("sigma").as("sv"))
      val w = fwd.filter(col("hops") === h + 1)
        .select(col("node_id").as("dst"), col("sigma").as("sw"))
      val withDeep = deeper match {
        case Some(d) => e.join(v, "src").join(w, "dst")
          .join(d.select(col("node_id").as("dst"), col("delta").as("dw")),
            Seq("dst"), "left")
        case None => e.join(v, "src").join(w, "dst")
          .withColumn("dw", lit(null).cast("long"))
      }
      val delta = scope.persist(withDeep
        .select(col("src"),
          Fns.idiv2(col("sv") * (lit(1000000L) + coalesce(col("dw"), lit(0L))),
            col("sw")).as("c"))
        .groupBy(col("src")).agg(sum(col("c")).as("delta"))
        .select(col("src").as("node_id"), col("delta")))
      deeper = Some(delta)
      delta
    }
    val allDelta = levels.reduce(_ unionByName _)
      .groupBy("node_id").agg(max(col("delta")).as("delta")) // levels disjoint
    fwd.join(allDelta, Seq("node_id"), "left")
      .select(col("node_id"), col("hops"), col("sigma"),
        coalesce(col("delta"), lit(0L)).as("delta_e6"))
  }

  /** Single-shard twin of [[landmarkBetweenness]] under the
    * [[LocalSweepEdges]] budget: the σ forward BFS and the
    * level-descending backward accumulation
    * δ(v) = Σ ⌊σ_v·(10⁶+δ_w)/σ_w⌋ run in ONE task — identical integer
    * terms (all operands non-negative, so Java `/` = the loop's floor
    * division), identical level slices, so the table matches
    * bit-for-bit; parity spec'd.
    */
  private def landmarkBetweennessLocal(g: LocalGraph,
      maxHops: Int): Iterator[(Long, Long, Long, Long)] = {
    // forward: first-arrival level + sigma (the shortestPathCounts twin)
    val hops = Array.fill(g.n)(-1)
    val sigma = new Array[Long](g.n)
    val order = g.bfs(g.seeds, maxHops, hops, sigma)
    // backward: deepest level first, over the BFS-DAG edges — δ terms
    // identical to the loop's idiv2 floor
    val delta = new Array[Long](g.n)
    order.reverseIterator.foreach { v =>
      (g.off(v) until g.off(v + 1)).map(g.nbr).filter(hops(_) == hops(v) + 1)
        .foreach { w =>
          delta(v) += sigma(v) * (1000000L + delta(w)) / sigma(w)
        }
    }
    order.iterator.map(v => (g.ids(v), hops(v).toLong, sigma(v), delta(v)))
  }

  /** Odd-cycle witness edges: BFS-parity conflicts on the SYMMETRIZED
    * graph. Runs [[hopDistance]] from the seed set over undirected
    * edges; any surviving edge whose endpoints sit at the same hop
    * parity closes an odd cycle (a bipartite component has none — the
    * classic 2-coloring test). Emitted per undirected edge (a < b) with
    * both hop counts, so the caller can rank witnesses by depth or count
    * them per component.
    *
    * Scale posture: the BFS rounds dominate (see [[hopDistance]]);
    * the parity check is two broadcast-eligible hash joins of the edge
    * list against the (nodes-sized) distance frame — no new loop, no
    * all-pairs stage.
    */
  def oddParityEdges(edges: DataFrame, sources: DataFrame, maxHops: Int,
                     scope: CacheScope = CacheScope.global): DataFrame = {
    val und = undirected(edges)
    val dist = hopDistance(
      und.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(und.select(col("b").as("src"), col("a").as("dst"))),
      sources, maxHops, scope)
    und
      .join(dist.select(col("node_id").as("a"), col("hops").as("da")), Seq("a"))
      .join(dist.select(col("node_id").as("b"), col("hops").as("db")), Seq("b"))
      .filter((col("da") + col("db")) % 2 === 0)
      .select(col("a"), col("b"), col("da"), col("db"))
  }

  /** TOPOLOGICAL LAYERING (level-synchronous Kahn): layer r = the nodes
    * whose remaining in-degree reaches zero once layers < r are removed
    * — the dependency schedule of a DAG (redirect/canonical chains,
    * category hierarchies, pipeline stage graphs), with every node
    * still blocked after `maxRounds` rounds — cycle cores and their
    * downstream — emitted with layer = −1 (the cycle DETECTOR: a DAG
    * within the round horizon flags nothing). The layering is
    * algorithm-independent (layer(n) = longest predecessor chain
    * length), so engines agree bit-for-bit.
    *
    * Scale posture: per round one distinct on the remaining edge list's
    * dst side, one anti-join for the zero-in-degree slice, and one
    * anti-join shrinking the edge list — all keyed, no global sort; the
    * loop exits early when a round peels nothing (pure-cycle residue
    * reaches a fixpoint, which the unrolled oracle replays). Nodes and
    * edges each move through a [[graft.core.LoopFrame]].
    * Strategy selection ([[LocalGraph.dispatchBySize]]): a small graph
    * runs the whole ladder in one task over in-degree counters
    * ([[topologicalLayersLocal]]); parity spec'd.
    *
    * Input: (src, dst). Output: (node_id, layer), layer ∈ [0, maxRounds)
    * or −1.
    */
  def topologicalLayers(edges: DataFrame, maxRounds: Int,
                        scope: CacheScope = CacheScope.global): DataFrame = {
    require(maxRounds >= 1, s"topologicalLayers needs maxRounds >= 1")
    val e = scope.persist(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    dispatchBySize(e, LocalSweepEdges, srcDst(edges): _*)(
      topologicalLayersLocal(e, maxRounds))(
      _ => topologicalLayersLoop(e, maxRounds, scope))
  }

  /** The distributed Kahn rounds of [[topologicalLayers]]
    * (spec-reachable directly). `e` must be the deduplicated,
    * self-loop-free (src, dst) edge list.
    */
  private[graft] def topologicalLayersLoop(e: DataFrame, maxRounds: Int,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val nodes = new LoopFrame(e.select(col("src").as("node_id"))
      .unionByName(e.select(col("dst").as("node_id"))).distinct())
    val alive = new LoopFrame(e)
    val layers = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var r = 0
    var stuck = false
    while (r < maxRounds && !stuck) {
      val blocked = alive.frame.select(col("dst").as("node_id")).distinct()
      // each layer is part of the result: held until the scope releases
      val zero = scope.persist(
        nodes.frame.join(blocked, Seq("node_id"), "left_anti"))
      if (zero.count() == 0) stuck = true
      else {
        layers += zero.withColumn("layer", lit(r.toLong))
        nodes.advance(blocked)
        alive.advance(alive.frame.join(zero.select(col("node_id").as("src")),
          Seq("src"), "left_anti"))
        r += 1
      }
    }
    alive.keep(scope)
    val leftover = nodes.keep(scope).withColumn("layer", lit(-1L))
    (layers :+ leftover).reduce(_ unionByName _)
  }

  /** Single-shard twin of [[topologicalLayers]] under the [[LocalSweepEdges]]
    * budget: level-synchronous Kahn over a [[LocalGraph]]'s in-degree
    * counters in one task — identical layer assignment by the
    * longest-predecessor-chain argument; parity spec'd.
    */
  private[graft] def topologicalLayersLocal(e: DataFrame,
                                            maxRounds: Int): DataFrame =
    LocalGraph.run(e) { g =>
      val inDeg = new Array[Int](g.n)
      g.nbr.foreach(inDeg(_) += 1)
      val layer = Array.fill(g.n)(-1L)
      var frontier = (0 until g.n).filter(inDeg(_) == 0)
      var r = 0L
      while (r < maxRounds && frontier.nonEmpty) {
        frontier.foreach(layer(_) = r)
        frontier = frontier.flatMap(u => (g.off(u) until g.off(u + 1)).map(g.nbr))
          .filter { v => inDeg(v) -= 1; inDeg(v) == 0 }
        r += 1
      }
      (0 until g.n).iterator.map(v => (g.ids(v), layer(v)))
    }.toDF("node_id", "layer")
      .transform(castIds(e.schema("src").dataType, "node_id"))

  /** Deterministic LUBY maximal-independent-set rounds: each round every
    * remaining node draws priority mixId(node_id·mul + round) and joins
    * the MIS iff its (priority, id) beats every remaining neighbor's —
    * local minima form an independent set by construction — then winners
    * and their neighborhoods leave the graph. The RNG-free priority makes
    * the result bit-identical in any engine (the oracle unrolls the same
    * rounds), while keeping Luby's O(log n) expected-round behavior
    * because mixId decorrelates adjacent ids.
    *
    * Scale posture: per round two hash joins of the remaining edge list
    * against the (node-sized) priority frame, one anti-join for winners,
    * and two semi-joins shrinking the edge list — every step keyed, no
    * global sort; the remaining graph shrinks geometrically (each edge's
    * lower-priority endpoint either wins or has a neighbor that does).
    * Round loop capped at `rounds` (the oracle unrolls exactly that many;
    * extra rounds after the graph drains are no-ops on both sides); the
    * remaining nodes and edges each move through a
    * [[graft.core.LoopFrame]]. Output (node_id, round) for every MIS
    * member.
    */
  def lubyMis(edges: DataFrame, rounds: Int, prioMul: Long,
              scope: CacheScope = CacheScope.global): DataFrame =
    lubyRounds(edges, rounds, prioMul, removeNeighbors = true, scope)

  /** GRAPH COLORING by iterated MIS rounds (Jones–Plassmann shape): the
    * same deterministic priority race as [[lubyMis]], but each round
    * removes ONLY the winners — the round index becomes the node's
    * color. Within a round winners form an independent set, and a node's
    * neighbors that won earlier carry smaller colors, so the coloring is
    * proper. Colors are not minimal (that would need per-neighbor color
    * sets); this is the conflict-free-scheduling primitive, not an
    * optimizer. Output (node_id, round) — round IS the color.
    */
  def lubyColoring(edges: DataFrame, rounds: Int, prioMul: Long,
                   scope: CacheScope = CacheScope.global): DataFrame =
    lubyRounds(edges, rounds, prioMul, removeNeighbors = false, scope)

  private def lubyRounds(edges: DataFrame, rounds: Int, prioMul: Long,
                         removeNeighbors: Boolean,
                         scope: CacheScope): DataFrame = {
    val und = scope.persist(undirected(edges))
    dispatchBySize(und, LocalSweepEdges, srcDst(edges): _*)(
      lubyRoundsLocal(und, rounds, prioMul, removeNeighbors,
        edges.schema("src").dataType))(
      _ => lubyRoundsLoop(und, rounds, prioMul, removeNeighbors, scope))
  }

  /** Single-shard twin of [[lubyRoundsLoop]] for graphs under the
    * [[LocalSweepEdges]] budget: the same deterministic priority race
    * (p = mixId(node·prioMul + round), lose to a (p, id)-smaller
    * neighbor), simulated over an undirected [[LocalGraph]] in ONE task —
    * one job instead of ~5 shuffling stages per round. Bit-identical by
    * construction: [[graft.core.TextHash.mixId]] is the spec'd scalar
    * kernel of the Column mixId, and the win/removal rules are the
    * loop's, so the oracle's unrolled rounds see the same rows.
    */
  private def lubyRoundsLocal(und: DataFrame, rounds: Int, prioMul: Long,
                              removeNeighbors: Boolean,
                              idType: org.apache.spark.sql.types.DataType): DataFrame =
    LocalGraph.run(und) { g0 =>
      val g = g0.undirected
      val active = Array.tabulate(g.n)(g.degree(_) > 0)
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var r = 0L
      while (r < rounds && active.contains(true)) {
        r += 1
        val prio = Array.tabulate(g.n)(i =>
          graft.core.TextHash.mixId(g.ids(i) * prioMul + r))
        // lose to an active neighbor with a (priority, id)-smaller key;
        // index order is id order
        val win = (0 until g.n).filter(u => active(u) &&
          !(g.off(u) until g.off(u + 1)).map(g.nbr).exists(v => active(v) &&
            (prio(v) < prio(u) || (prio(v) == prio(u) && v < u))))
        win.foreach { u =>
          out += ((g.ids(u), r))
          active(u) = false
          if (removeNeighbors)
            (g.off(u) until g.off(u + 1)).foreach(k => active(g.nbr(k)) = false)
        }
      }
      out.iterator
    }.toDF("node_id", "round").transform(castIds(idType, "node_id"))

  /** The distributed round loop of [[lubyMis]]/[[lubyColoring]]
    * (spec-reachable directly; `und` must be the distinct undirected
    * a<b edge list).
    */
  private[graft] def lubyRoundsLoop(und: DataFrame, rounds: Int, prioMul: Long,
                                    removeNeighbors: Boolean,
                                    scope: CacheScope): DataFrame = {
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val nodes = new LoopFrame(sym.select(col("src").as("node_id")).distinct())
    val edges = new LoopFrame(sym)
    // schema-typed empty seed so an edgeless input still returns a frame
    var out =
      List(nodes.frame.select(col("node_id"), lit(0L).as("round")).limit(0))
    var r = 0L
    while (r < rounds && nodes.rows > 0) {
      r += 1
      val (remN, remE) = (nodes.frame, edges.frame)
      val prio = remN.withColumn("p",
        Fns.mixId(col("node_id") * lit(prioMul) + lit(r)))
      val lose = remE
        .join(prio.select(col("node_id").as("src"), col("p").as("pa")), "src")
        .join(prio.select(col("node_id").as("dst"), col("p").as("pb")), "dst")
        .filter(col("pb") < col("pa") ||
          (col("pb") === col("pa") && col("dst") < col("src")))
        .select(col("src").as("node_id")).distinct()
      // each round's winners are part of the result: held until the scope
      // releases
      val win = scope.persist(remN.join(lose, Seq("node_id"), "left_anti")
        .select(col("node_id"), lit(r).as("round")))
      out ::= cut(win)
      val del =
        if (removeNeighbors) win.select("node_id").unionByName(
            remE.join(win.select(col("node_id").as("src")), "src")
              .select(col("dst").as("node_id"))).distinct()
        else win.select("node_id")
      nodes.advance(remN.join(del, Seq("node_id"), "left_anti"))
      val newN = nodes.frame
      edges.advance(remE
        .join(newN.select(col("node_id").as("src")), "src")
        .join(newN.select(col("node_id").as("dst")), "dst")
        .select("src", "dst"))
    }
    nodes.keep(scope); edges.keep(scope)
    out.reduce(_ unionByName _)
  }
}
