package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.LoopFrame
import graft.functions.Fns

/** Crawl-scheduling operators over capture logs (url, warc_ts). */
object CrawlOps {

  /** RECRAWL FRONTIER scheduler with per-host politeness: canonicalize
    * every captured URL, keep its most recent capture time, and schedule
    * stalest-first WITHIN each host — the i-th URL of a host (ordered by
    * last capture ascending, then canonical url) fetches at
    * `baseUs + i·delayUs`, so no host is ever hit more than once per
    * politeness window no matter how the fetch fleet drains the queue.
    *
    * Shape: one groupBy on the canonical url (exact dedup of capture
    * history), one per-host window for the slot. The per-host sequence
    * is inherently sequential — a politeness queue IS a total order per
    * host — so the window partition is the honest minimum; a mega-host
    * (10^8 urls) makes one big sort partition, which Spark's external
    * sort spills rather than breaks, and every other host proceeds in
    * parallel. Output: (curl, host, slot, fetch_us).
    */
  def frontierSchedule(captures: DataFrame, baseUs: Long,
                       delayUs: Long): DataFrame = {
    val cand = captures
      .groupBy(Fns.canonicalizeUrl(col("url")).as("curl"))
      .agg(max(unix_micros(col("warc_ts"))).as("last_us"))
      .withColumn("host", Fns.urlNormHost(col("curl")))
    val w = Window.partitionBy("host").orderBy(col("last_us").asc, col("curl"))
    cand.withColumn("slot", (row_number().over(w) - 1).cast("long"))
      .select(col("curl"), col("host"), col("slot"),
        (lit(baseUs) + col("slot") * delayUs).as("fetch_us"))
  }

  /** REDIRECT-CHAIN resolution by POINTER JUMPING: every node follows
    * its redirect edge to the chain's terminal (a node with no outgoing
    * redirect); nodes trapped in a redirect cycle (cycles consist only
    * of non-terminals — terminals have no out-edge) resolve to NULL with
    * is_cycle = 1. The crawl-core dedup step: a 10^12-url frontier must
    * collapse chains like m.example → example → example/index before any
    * per-url work.
    *
    * Scale posture: the successor table closes over itself in
    * ⌈log₂ n⌉ + 1 rounds of ONE self equi-join each (f ← f∘f), the
    * doubling trick that replaces O(chain-length) sequential hops —
    * chain length is unbounded on a crawl graph (pagination chains), so
    * per-hop walking is not an option. Each round moves through a
    * [[graft.core.LoopFrame]]. Terminal-ness is decided by the TERMINAL
    * RULE (membership in the redirect map), not by fixpoint-ness, so
    * self-redirects correctly report as cycles. Input: redirects
    * (src, dst) — at most ONE outgoing edge per src (functional graph;
    * callers dedupe upstream). Output: (src, final, is_cycle) for every
    * node that appears as a source.
    */
  def resolveRedirects(redirects: DataFrame,
                       scope: graft.core.CacheScope =
                         graft.core.CacheScope.global): DataFrame = {
    val edges = scope.persist(redirects.select(col("src"), col("dst")))
    // the size probe also sets the distributed loop's doubling depth
    LocalGraph.dispatchBySize(edges, GraphOps.LocalSweepEdges,
        redirects.schema("src").dataType, redirects.schema("dst").dataType)(
      resolveRedirectsLocal(edges))(n => resolveRedirectsLoop(edges, n, scope))
  }

  /** The distributed doubling loop (spec-reachable; `edges` must be the
    * (src, dst) redirect map, `n` its row count).
    */
  private[graft] def resolveRedirectsLoop(edges: DataFrame, n: Long,
      scope: graft.core.CacheScope): DataFrame = {
    val rounds = 64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 1L)) + 1
    // successor map over ALL nodes: terminals point to themselves
    val terms = edges.select(col("dst").as("src"))
      .join(edges.select(col("src")), Seq("src"), "left_anti").distinct()
      .select(col("src"), col("src").as("nxt"))
    val succ = new LoopFrame(edges.select(col("src"), col("dst").as("nxt"))
      .unionByName(terms))
    for (_ <- 1 to rounds) {
      val f = succ.frame
      succ.advance(f.join(f.select(col("src").as("nxt"), col("nxt").as("nxt2")),
          Seq("nxt"))
        .select(col("src"), col("nxt2").as("nxt")))
    }
    val f = succ.keep(scope)
    val nonTerm = edges.select(col("src")).distinct()
      .select(col("src").as("nxt"), lit(0L).as("nonterm"))
    edges.select(col("src")).distinct().join(f, Seq("src"))
      .join(nonTerm, Seq("nxt"), "left")
      .select(col("src"),
        when(col("nonterm").isNull, col("nxt")).as("final"),
        when(col("nonterm").isNull, 0L).otherwise(1L).as("is_cycle"))
  }

  /** Single-shard twin of the doubling loop for redirect maps under the
    * [[GraphOps.LocalSweepEdges]] budget: memoized chain walking with in-walk
    * cycle detection over a [[LocalGraph]] in ONE task. The output contract
    * is algorithm-independent — a src resolves to its chain's terminal
    * (final, 0) or, when the walk enters a cycle, to (NULL, 1) — so the walk
    * and the ⌈log₂ n⌉+1 doubling rounds emit identical rows (parity spec'd).
    */
  private def resolveRedirectsLocal(edges: DataFrame): DataFrame =
    LocalGraph.run(edges) { g =>
      // contract: at most one dst per src (functional map). On malformed
      // input follow the MIN dst so the resolution is deterministic.
      def succ(u: Int): Int =
        (g.off(u) until g.off(u + 1)).map(g.nbr).min
      // final node index per node: -1 = unresolved, -2 = on the current
      // walk, -3 = in (or leading into) a cycle
      val fin = Array.fill(g.n)(-1)
      (0 until g.n).filter(g.degree(_) > 0).foreach { start =>
        val path = new scala.collection.mutable.ArrayBuffer[Int]()
        var cur = start
        while (fin(cur) == -1 && g.degree(cur) > 0) {
          fin(cur) = -2; path += cur; cur = succ(cur)
        }
        val outcome =
          if (fin(cur) == -2) -3 // walked into its own path: a cycle
          else if (fin(cur) == -1) cur // a terminal: no outgoing redirect
          else fin(cur)
        path.foreach(fin(_) = outcome)
      }
      (0 until g.n).iterator.filter(g.degree(_) > 0).map { u =>
        val f = fin(u)
        (g.ids(u), if (f < 0) None else Some(g.ids(f)), if (f < 0) 1L else 0L)
      }
    }.toDF("src", "final", "is_cycle")
      .transform(LocalGraph.castIds(edges.schema("src").dataType, "src", "final"))
}
