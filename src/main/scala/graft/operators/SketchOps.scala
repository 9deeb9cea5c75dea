package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftPlanBridge.cut
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Hll

/** Distributed sketches with DETERMINISTIC parity: every register value is
  * a pure integer function of the (already oracle-twinned) row hash, so
  * the same sketch — not merely a similar estimate — is computable in the
  * DuckDB oracle and hash-compared. Constants and estimator math live in
  * graft.core.Hll (shared with the streaming twin and the oracle SQL).
  */
object SketchOps {

  /** (group, reg, rho, __h) register stream — the map side both variants
    * share. Hash contract per Hll: NONNEGATIVE values (docFingerprint).
    */
  private def registers(df: DataFrame, groupCol: String,
                        hashCol: Column, m: Int): DataFrame = {
    val w = shiftright(hashCol, Hll.log2m(m)) // hash div m, exact (hash >= 0)
    val rho = least(
      bit_count((w.bitwiseAND(-w) - lit(1L))) + lit(1), lit(Hll.RhoCap))
    df.select(col(groupCol), (hashCol % m).as("reg"), rho.as("rho"),
      hashCol.as("__h"))
  }

  /** Per-group rollup of the aggregated (group, reg, mrho, ...) frame:
    * n_regs, exact-int64 harmonic reg_sum (absent registers contribute
    * 2^RhoCap each), e3-rounded raw estimate.
    */
  private def finish(regAgg: DataFrame, groupCol: String,
                     extraAggs: Seq[Column], m: Int): DataFrame =
    regAgg.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_regs"),
        (sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${Hll.RhoCap} - mrho)"))
          .as("__pop") +: extraAggs): _*)
      .withColumn("reg_sum",
        col("__pop") + (lit(m.toLong) - col("n_regs")) * lit(Hll.Scale))
      .withColumn("est_e3",
        graft.plans.HllExpressions.hllEstE3(col("reg_sum"), col("n_regs"), m))
      .drop("__pop")

  /** HyperLogLog registers/estimate per group over a nonnegative row hash
    * column (e.g. Fns.docFingerprint).
    *
    * Layout (constants in graft.core.Hll): m=64 registers; register index
    * = hash mod 64; rank rho = trailing zeros of (hash div 64) + 1,
    * capped at 44 (cap keeps the harmonic sum in exact integer
    * arithmetic: sum of 1/2^rho scaled by 2^44 is a sum of int64 powers
    * of two, max 64·2^44 << 2^63 — no floating-point accumulation order
    * anywhere). Estimate = alpha_64·m²·2^44 / regSum, one exact double
    * division rounded to e3.
    *
    * Plan: groupBy(group, register) MAX — map-side partial max collapses
    * each register before the shuffle, so the exchange carries at most
    * m rows per group per input partition regardless of row count — then
    * a tiny per-group rollup. This is the sketch the 10^12-row
    * cardinality pass wants: two narrow shuffles, no distinct.
    *
    * Output: (group, n_regs, reg_sum, est_e3) — n_regs = populated
    * registers.
    *
    * Estimator: raw HLL above 2.5m cardinality (standard ~1.04/sqrt(m)
    * relative error), linear counting m·ln(m/zeroRegs) below — the ln is
    * Hll.lnDet, a fixed-op-order IEEE polynomial, so the branch keeps
    * exact cross-engine parity (libm ln would not).
    */
  def hllDistinct(df: DataFrame, groupCol: String, hashCol: Column,
                  m: Int = Hll.M): DataFrame =
    finish(
      registers(df, groupCol, hashCol, m)
        .groupBy(col(groupCol), col("reg")).agg(max("rho").as("mrho")),
      groupCol, Nil, m)
      .select(col(groupCol), col("n_regs"), col("reg_sum"), col("est_e3"))

  /** HLL with a register-level MERGE up a group hierarchy: per-child
    * register maxima re-aggregate to `parent(child)` by ANOTHER max —
    * the mergeability that makes HLL the right cardinality
    * representation across a tile pyramid or across incremental
    * snapshots. Because max-of-max over children equals the max over the
    * parent's rows, the merged sketch is BIT-IDENTICAL to the sketch
    * computed directly at the parent grouping — the oracle twin verifies
    * exactly that merge law. Cost over hllDistinct: one extra narrow
    * shuffle carrying ≤ m register rows per child group.
    *
    * Output: (parent, n_regs, reg_sum, est_e3). No exact count — exact
    * distincts do NOT merge without re-reading hashes (that's the point
    * of carrying the sketch).
    */
  def hllMergeUp(df: DataFrame, childCol: String, hashCol: Column,
                 parent: Column => Column, m: Int = Hll.M): DataFrame = {
    val childRegs = registers(df, childCol, hashCol, m)
      .groupBy(col(childCol), col("reg")).agg(max("rho").as("mrho"))
    val merged = childRegs
      .select(parent(col(childCol)).as("parent"), col("reg"), col("mrho"))
      .groupBy(col("parent"), col("reg")).agg(max("mrho").as("mrho"))
    finish(merged, "parent", Nil, m)
      .select(col("parent"), col("n_regs"), col("reg_sum"), col("est_e3"))
  }

  /** hllDistinct plus the EXACT per-group distinct count, in the SAME
    * single pass: the register index is a pure function of the hash, so
    * distinct hashes partition by register and the per-(group, reg)
    * distinct counts SUM to the group's exact distinct — no second scan,
    * no join, and the hash column is evaluated once per row.
    */
  def hllDistinctWithExact(df: DataFrame, groupCol: String,
                           hashCol: Column, m: Int = Hll.M): DataFrame =
    finish(
      registers(df, groupCol, hashCol, m)
        .groupBy(col(groupCol), col("reg"))
        .agg(max("rho").as("mrho"), countDistinct(col("__h")).as("__nd")),
      groupCol, Seq(sum("__nd").as("n_exact")), m)
      .select(col(groupCol), col("n_regs"), col("reg_sum"), col("est_e3"),
        col("n_exact"))

  /** HYPERBALL (Boldi–Vigna): the neighborhood function |ball(v, r)| for
    * every node and every radius r ≤ rounds, via an HLL counter per node
    * merged register-wise along out-edges each round — THE
    * trillion-edge effective-diameter / centrality algorithm (exact BFS
    * per node is O(n·m); this is O(rounds · m · registers) total).
    * Registers are kept SPARSE as (node, reg, mrho) rows — a node's ball
    * of b distinct hashes populates ≤ min(b, m) rows, so round-0 state
    * is one row per node and state never exceeds nodes×m.
    *
    * Determinism: register math is the integer [[Hll]] kernel; the
    * per-round merge is a groupBy MAX (associative, shuffle-order-proof)
    * and the estimate the fixed-IEEE-op estimator — bit-identical
    * cross-engine, like every sketch here.
    *
    * Scale posture: per round ONE edge-list equi-join against the sparse
    * register frame and one map-side-combined (node, reg) max; rounds
    * are the query's radius bound (small by definition — web diameters
    * are ~20). The output reads every round, so each round is held in
    * `scope` and cut ([[org.apache.spark.sql.GraftPlanBridge.cut]]).
    * Input: nodes (node_id, fp — nonnegative hash), edges (src, dst).
    * Output: (node_id, r, n_regs, reg_sum, est_e3) for r in 0..rounds.
    */
  def hyperBall(nodes: DataFrame, edges: DataFrame, rounds: Int,
                m: Int = Hll.M,
                scope: graft.core.CacheScope =
                  graft.core.CacheScope.global): DataFrame = {
    val e = scope.persist(edges.select(col("src"), col("dst")).distinct())
    LocalGraph.dispatchBySize(e, LocalBallEdges, edges.schema("src").dataType,
        edges.schema("dst").dataType, nodes.schema("node_id").dataType)(
      hyperBallLocal(nodes, e, rounds, m))(
      _ => hyperBallLoop(nodes, e, rounds, m, scope))
  }

  /** Edge budget for [[hyperBall]]'s single-shard twin: its in-memory
    * state is O(nodes·m) register BYTES — m× denser than the BFS twins'
    * frontier maps — so the budget sits 8× under
    * [[GraphOps.LocalSweepEdges]] (512k edges ≈ ≤64 MB of registers at
    * m = 64).
    */
  val LocalBallEdges: Long = 1L << 19

  /** The distributed register-merge loop of [[hyperBall]]
    * (spec-reachable directly). `e` must be the deduplicated (src, dst)
    * edge list.
    */
  private[graft] def hyperBallLoop(nodes: DataFrame, e: DataFrame,
      rounds: Int, m: Int = Hll.M,
      scope: graft.core.CacheScope =
        graft.core.CacheScope.global): DataFrame = {
    def finishRound(state: DataFrame, r: Int): DataFrame =
      finish(state, "node_id", Nil, m)
        .select(col("node_id"), lit(r.toLong).as("r"),
          col("n_regs"), col("reg_sum"), col("est_e3"))
    // every round's registers stay persisted until the scope releases:
    // the output union reads all of them, so releasing one mid-loop
    // would recompute its rounds when the result is evaluated
    def hold(round: DataFrame): DataFrame = {
      val held = scope.persist(round)
      held.count()
      cut(held)
    }
    var state = hold(registers(nodes, "node_id", col("fp"), m)
      .groupBy(col("node_id"), col("reg")).agg(max(col("rho")).as("mrho")))
    val outs = scala.collection.mutable.ListBuffer(finishRound(state, 0))
    for (r <- 1 to rounds) {
      val prop = e
        .join(state.withColumnRenamed("node_id", "dst"), "dst")
        .select(col("src").as("node_id"), col("reg"), col("mrho"))
      state = hold(state.unionByName(prop)
        .groupBy(col("node_id"), col("reg")).agg(max(col("mrho")).as("mrho")))
      outs += finishRound(state, r)
    }
    outs.reduce(_ unionByName _)
  }

  /** Single-shard twin of [[hyperBall]] under [[LocalBallEdges]]: the
    * per-round register max-merge (a pure int max, associative and
    * monotone) runs double-buffered over per-node byte arrays in ONE
    * task — initial registers still come from the distributed
    * `registers` aggregation (one shuffle, not a loop) and ride the
    * tagged union with the edges as [[LocalGraph]] seed rows
    * (node, reg, mrho). The task emits the exact integer
    * (n_regs, reg_sum) per (node, round); est_e3 is applied COLUMNAR
    * through the same [[graft.plans.HllExpressions.hllEstE3]]
    * expression as the loop's finish, so every row is bit-identical;
    * parity spec'd.
    */
  private[graft] def hyperBallLocal(nodes: DataFrame, e: DataFrame,
      rounds: Int, m: Int): DataFrame = {
    val init = registers(nodes, "node_id", col("fp"), m)
      .groupBy(col("node_id"), col("reg")).agg(max(col("rho")).as("mrho"))
    LocalGraph.run(e, Some(init)) { g =>
      // per-node registers; null = the node's ball holds no hash yet
      var cur = new Array[Array[Byte]](g.n)
      g.seeds.indices.foreach { r =>
        val i = g.seeds(r)
        if (cur(i) == null) cur(i) = new Array[Byte](m)
        val reg = g.seedA(r).toInt
        if (g.seedB(r) > cur(i)(reg)) cur(i)(reg) = g.seedB(r).toByte
      }
      val out = new scala.collection.mutable.ArrayBuffer[
        (Long, Long, Long, Long)]()
      def emit(r: Int): Unit = cur.indices.foreach { i =>
        if (cur(i) != null) {
          val nRegs = cur(i).count(_ != 0).toLong
          val pop = cur(i).filter(_ != 0).map(b => 1L << (Hll.RhoCap - b)).sum
          if (nRegs > 0)
            out += ((g.ids(i), r.toLong, nRegs,
              pop + (m.toLong - nRegs) * Hll.Scale))
        }
      }
      emit(0)
      for (r <- 1 to rounds) {
        // double-buffer: round r's ball must merge round r-1 states only
        val next = cur.map(a => if (a == null) null else a.clone())
        (0 until g.m).foreach { k =>
          val sd = cur(g.nbr(k))
          if (sd != null) {
            val s = g.src(k)
            if (next(s) == null) next(s) = new Array[Byte](m)
            (0 until m).foreach(j => if (sd(j) > next(s)(j)) next(s)(j) = sd(j))
          }
        }
        cur = next
        emit(r)
      }
      out.iterator
    }.toDF("node_id", "r", "n_regs", "reg_sum")
      .transform(LocalGraph.castIds(nodes.schema("node_id").dataType, "node_id"))
      .withColumn("est_e3",
        graft.plans.HllExpressions.hllEstE3(col("reg_sum"), col("n_regs"), m))
  }

  /** The [[graft.plans.TextHashExpressions.docFingerprint]] hash domain
    * (2^61 − 1): KMV's estimator scales the k-th minimum against it.
    */
  val KmvDomain = 2305843009213693951L

  /** KMV (k-minimum-values / bottom-k) distinct sketch per group: keep
    * the k smallest DISTINCT hash values; with hashes uniform on
    * [0, KmvDomain), est = (k−1)·domain / h_k. The third sketch of the
    * family — unlike HLL it is a SAMPLE of the key space, so two
    * groups' sketches intersect/union meaningfully (Jaccard between
    * corpora without a full join), and unlike CMS it answers distinct,
    * not frequency. Deterministic cross-engine: the sample is an exact
    * set function of the hashes; the estimate is one IEEE multiply
    * constant-folded at plan time and one division, rounded to e0.
    * Groups with fewer than k distinct values report their EXACT count.
    *
    * Plan shape: distinct on (group, h) is a map-combined groupBy; the
    * rank-≤-k filter on a literal compiles to WindowGroupLimit (partial
    * per-map-side limits BEFORE the shuffle — at most k rows per group
    * per partition cross the wire); the exact distinct count rides the
    * same distinct frame as a second tiny agg. No full sort, no
    * collect_set, state bounded by k per group everywhere.
    *
    * Output: (group, k_used, kth_h, est, n_exact).
    */
  def kmvSketch(df: DataFrame, groupCol: String, hashCol: Column,
                k: Int): DataFrame = {
    require(k >= 2, s"kmv needs k >= 2, got $k")
    val numer = (k - 1).toDouble * KmvDomain.toDouble
    val dh = df.select(col(groupCol), hashCol.as("h")).distinct()
    val sample = dh
      .withColumn("rn",
        row_number().over(Window.partitionBy(groupCol).orderBy("h")))
      .filter(col("rn") <= k)
    val sketch = sample.groupBy(col(groupCol))
      .agg(count(lit(1)).as("k_used"), max("h").as("kth_h"))
      .withColumn("est", when(col("k_used") < k, col("k_used"))
        .otherwise(round(lit(numer) / col("kth_h").cast("double"))
          .cast("long")))
    val exact = dh.groupBy(col(groupCol)).agg(count(lit(1)).as("n_exact"))
    sketch.join(exact, Seq(groupCol))
      .select(col(groupCol), col("k_used"), col("kth_h"), col("est"),
        col("n_exact"))
  }

  /** Pairwise Jaccard similarity between every two groups' key sets,
    * estimated from their KMV sketches — the MERGEABILITY payoff of
    * bottom-k over HLL: a KMV sketch is a uniform SAMPLE of the key
    * space, so two groups' sketches combine into an unbiased overlap
    * estimate without ever joining the full sets (vocabulary overlap
    * between crawl sources, shard-vs-shard contamination screens).
    * Estimator: M = bottom-k of (S_A ∪ S_B); Ĵ = |M ∩ S_A ∩ S_B| / |M|.
    * Every step is an exact integer set function of the hashes — no
    * floats — so the result is bit-identical in any engine.
    *
    * Plan shape: per-group sketches via the same WindowGroupLimit
    * bottom-k as [[kmvSketch]] (at most k rows per group per partition
    * cross the shuffle); the pairwise stage is O(G²·k) rows for G
    * groups — broadcast-joined, the right shape while groups are an
    * enumerable dimension (sources, languages, shards), which is the
    * sketch's use case; the raw key sets never pairwise-join.
    *
    * Output: (ga, gb, k_used, n_common, j_pm) for ga < gb, j_pm the
    * Jaccard estimate in integer per-mille (floor).
    */
  def kmvJaccard(df: DataFrame, groupCol: String, hashCol: Column,
                 k: Int): DataFrame = {
    require(k >= 2, s"kmv needs k >= 2, got $k")
    val dh = df.select(col(groupCol).as("g"), hashCol.as("h")).distinct()
    val sk = dh
      .withColumn("rn", row_number().over(Window.partitionBy("g").orderBy("h")))
      .filter(col("rn") <= k).select("g", "h")
    val groups = sk.select(col("g")).distinct()
    val prs = groups.select(col("g").as("ga"))
      .join(groups.select(col("g").as("gb")), col("ga") < col("gb"))
    val au = prs.join(sk.withColumnRenamed("g", "ga"), "ga")
      .select(col("ga"), col("gb"), col("h"),
        lit(1L).as("ina"), lit(0L).as("inb"))
    val bu = prs.join(sk.withColumnRenamed("g", "gb"), "gb")
      .select(col("ga"), col("gb"), col("h"),
        lit(0L).as("ina"), lit(1L).as("inb"))
    val merged = au.unionByName(bu)
      .groupBy("ga", "gb", "h")
      .agg(max("ina").as("ina"), max("inb").as("inb"))
    val ranked = merged
      .withColumn("rn",
        row_number().over(Window.partitionBy("ga", "gb").orderBy("h")))
      .filter(col("rn") <= k)
    ranked.groupBy("ga", "gb")
      .agg(count(lit(1)).as("k_used"),
        sum(col("ina") * col("inb")).cast("long").as("n_common"))
      .withColumn("j_pm", expr("(n_common * 1000) div k_used"))
  }

  /** Count-Min sketch defaults: d=4 rows of w=1024 counters — at N total
    * occurrences the point-estimate over-count is <= e·N/w with
    * probability 1 - e^-d per lookup. Positions derive from
    * [[graft.functions.Fns.mixId]] (BIGINT-safe), so the sketch is
    * oracle-exact; w is capped only by mixId's 2^31 range.
    */
  val CmsW = 1024
  val CmsD = 4
  val CmsSeed = 2654435761L

  /** Count-Min sketch over a nonnegative item-hash column: counter
    * (j, mixId(h + j·seed) mod w) accumulates every occurrence, j < d.
    * The WHOLE sketch is one map-side-combinable groupBy over at most
    * d·w keys — the heavy-hitter frequency pass at 10^12 rows (top
    * hosts / tokens / URLs without an exact per-key shuffle: the
    * exchange carries d·w partial counters per input partition no matter
    * the key cardinality). Deterministic, so the SKETCH ITSELF — not
    * just its estimates — hash-compares against the DuckDB twin.
    * Output (row_j, col_w, cnt).
    */
  def cmsSketch(df: DataFrame, hashCol: Column,
                w: Int = CmsW, d: Int = CmsD): DataFrame =
    df.select(posexplode(array((0 until d).map(j =>
        graft.functions.Fns.mixId(hashCol + lit(j * CmsSeed)) % w): _*))
        .as(Seq("row_j", "col_w")))
      .groupBy("row_j", "col_w").agg(count(lit(1)).as("cnt"))

  /** Point-estimate lookup: min over the d counters (coalesced to 0 for
    * never-touched cells) — a CMS never underestimates. `items` keeps all
    * its columns and gains `n_est`; the sketch side is broadcast (it is
    * at most d·w rows by construction).
    */
  def cmsEstimate(items: DataFrame, hashCol: Column, cms: DataFrame,
                  w: Int = CmsW, d: Int = CmsD): DataFrame = {
    val itemCols = items.columns.map(col)
    items.select(itemCols :+ posexplode(array((0 until d).map(j =>
        graft.functions.Fns.mixId(hashCol + lit(j * CmsSeed)) % w): _*))
        .as(Seq("row_j", "col_w")): _*)
      .join(broadcast(cms), Seq("row_j", "col_w"), "left")
      .groupBy(itemCols: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("n_est"))
  }
}
