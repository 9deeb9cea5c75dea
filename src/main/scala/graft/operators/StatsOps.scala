package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Order-statistics operators. Approximate sketches (percentile_approx,
  * t-digest) don't oracle-compare across engines; these are the EXACT
  * formulations a pipeline reaches for when a drifting approximation
  * isn't acceptable (SLA length caps, dedup thresholds).
  */
object StatsOps {

  /** Exact per-group discrete quantiles of an integer-valued column via a
    * value HISTOGRAM: quantile q (per-mille) is the smallest value v whose
    * cumulative count reaches ceil(q·n/1000) — i.e. the lower
    * (type-1/"disc") quantile. Integer thresholds, no float interpolation,
    * so the result is engine-exact.
    *
    * Scale posture: the only full-data pass is the map-side-combined
    * histogram groupBy (group, value) — the window then runs over DISTINCT values
    * per group, which for the integer domains this is for (doc lengths,
    * token counts, latencies in ms) is orders of magnitude smaller than
    * the data; a group's histogram lives on one reducer, bounded by the
    * value domain, not the row count. (An unbounded real-valued domain
    * needs a two-phase bucket-then-refine plan instead — out of contract
    * here, documented.)
    *
    * Input: df with `groupCol` and integer `valueCol`; `qsPm` quantiles in
    * per-mille (500 = median). Output: (group, q_pm, value, n).
    */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     qsPm: Seq[Int]): DataFrame = {
    val hist = df.groupBy(col(groupCol), col(valueCol).as("v"))
      .agg(count(lit(1)).as("cnt"))
    val ordered = Window.partitionBy(groupCol).orderBy("v")
    val whole = Window.partitionBy(groupCol)
    val cum = hist
      .withColumn("cum", sum("cnt").over(ordered))
      .withColumn("n", sum("cnt").over(whole))
    cum.select(col(groupCol), col("v"), col("cnt"), col("cum"), col("n"),
        explode(array(qsPm.map(lit(_)): _*)).as("q_pm"))
      .withColumn("thr",
        graft.functions.Fns.idiv(col("n") * col("q_pm") + lit(999L), 1000L))
      .filter(col("cum") >= col("thr") && col("cum") - col("cnt") < col("thr"))
      .select(col(groupCol), col("q_pm"), col("v").as("value"), col("n"))
  }

  /** WEIGHTED exact per-group quantiles: [[exactQuantiles]] with each
    * row contributing its integer weight instead of 1 — quantile q is
    * the smallest value whose cumulative WEIGHT reaches
    * ceil(q·W/1000). The corpus-budgeting question ("below which length
    * bucket does half the total character mass live") that unweighted
    * quantiles cannot answer. Same two-phase plan and the same
    * value-domain-bounded window as the unweighted form; all-integer,
    * engine-exact. Output: (group, q_pm, value, n) with n = Σw.
    */
  def exactQuantilesWeighted(df: DataFrame, groupCol: String,
                             valueCol: String, wCol: String,
                             qsPm: Seq[Int]): DataFrame = {
    val hist = df.groupBy(col(groupCol), col(valueCol).as("v"))
      .agg(sum(col(wCol)).as("cnt"))
    val ordered = Window.partitionBy(groupCol).orderBy("v")
    val whole = Window.partitionBy(groupCol)
    val cum = hist
      .withColumn("cum", sum("cnt").over(ordered))
      .withColumn("n", sum("cnt").over(whole))
    cum.select(col(groupCol), col("v"), col("cnt"), col("cum"), col("n"),
        explode(array(qsPm.map(lit(_)): _*)).as("q_pm"))
      .withColumn("thr",
        graft.functions.Fns.idiv(col("n") * col("q_pm") + lit(999L), 1000L))
      .filter(col("cum") >= col("thr") && col("cum") - col("cnt") < col("thr"))
      .select(col(groupCol), col("q_pm"), col("v").as("value"), col("n"))
  }

  /** SAMPLE-BASED per-group quantiles — the scale companion of
    * [[exactQuantiles]] for value domains too wide to histogram: exact
    * type-1 quantiles of a DETERMINISTIC bottom-k uniform row sample
    * (the k smallest mixId(id) hashes per group — the same RNG-free
    * sampling contract as every sampler here, so both engines draw the
    * identical sample and the result stays hash-comparable). Groups at
    * or under k sample themselves entirely and the estimate is exact;
    * larger groups get the classic bottom-k estimator whose error
    * concentrates as O(1/√k) independent of group size.
    *
    * Scale posture: the rank-≤-k filter on a literal compiles to
    * WindowGroupLimit — at most k rows per group per map partition
    * cross the shuffle, so the sample stage is bounded by k·partitions
    * per group regardless of row count (the same plan shape as
    * [[SketchOps.kmvSketch]]); the quantile selection then runs over
    * ≤ k rows per group. Input: df with `groupCol`, a unique integer
    * `idCol` (the sample key), and integer `valueCol`. Output:
    * (group, q_pm, est, n_sampled).
    */
  def sampledQuantiles(df: DataFrame, groupCol: String, idCol: String,
                       valueCol: String, k: Int, qsPm: Seq[Int]): DataFrame = {
    require(k >= 1, s"sampledQuantiles needs k >= 1, got $k")
    val keyed = df.select(col(groupCol), col(valueCol).as("v"),
      col(idCol).as("__id"),
      graft.functions.Fns.mixId(col(idCol) * lit(2654435761L) + lit(97L))
        .as("__sk"))
    val sw = Window.partitionBy(groupCol).orderBy(col("__sk"), col("__id"))
    val sample = keyed
      .withColumn("rn", row_number().over(sw)).filter(col("rn") <= k)
    val vw = Window.partitionBy(groupCol).orderBy(col("v"), col("__id"))
    val whole = Window.partitionBy(groupCol)
    sample
      .withColumn("vr", row_number().over(vw).cast("long"))
      .withColumn("m", count(lit(1)).over(whole))
      .select(col(groupCol), col("v"), col("vr"), col("m"),
        explode(array(qsPm.map(lit(_)): _*)).as("q_pm"))
      .filter(col("vr") ===
        graft.functions.Fns.idiv(col("m") * col("q_pm") + lit(999L), 1000L))
      .select(col(groupCol), col("q_pm"), col("v").as("est"),
        col("m").as("n_sampled"))
  }

  /** 2-D skyline (Pareto frontier, maximize both axes): the (a, b) value
    * pairs not dominated by any other pair (a' ≥ a, b' ≥ b, at least one
    * strict), with the number of input rows sitting exactly on each
    * frontier point. The corpus-curation use: "which documents are not
    * beaten on BOTH length and vocabulary richness" — a quality frontier
    * no single score column can express.
    *
    * Plan: two map-side-combined aggregations collapse the input to one
    * row per distinct `a` (any pair below its a-group's max b is
    * dominated inside the group, so only (a, max b) can survive), then a
    * running-max window ordered by a DESC keeps the rows whose b strictly
    * exceeds every b seen at larger a. The only non-distributed step is
    * that final window — over DISTINCT a values, bounded by the value
    * domain (doc lengths, token counts), not the row count; the full-data
    * passes are both hash aggregations.
    */
  def skyline(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val pts = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n"))
    val best = pts.groupBy("a")
      .agg(max(struct(col("b"), col("n"))).as("t"))
      .select(col("a"), col("t.b").as("b"), col("t.n").as("n"))
    val prevMax = Window.orderBy(col("a").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    best.withColumn("mb", max("b").over(prevMax))
      .filter(col("mb").isNull || col("b") > col("mb"))
      .select(col("a"), col("b"), col("n"))
  }

  /** Global Moran's I spatial autocorrelation over an integer-valued
    * grid (bx, by, v) with rook adjacency — THE single-number answer to
    * "is this density surface clustered, random, or dispersed?" (I > 0
    * hot spots cluster, I ≈ −1/(N−1) random, I < 0 checkerboard).
    * Weights are binary w_ij = 1 between 4-adjacent OCCUPIED cells.
    *
    * Exact-integer formulation (house rule — no float accumulation
    * order): expanding Σw(x_i−x̄)(x_j−x̄) with x̄ = S/N and multiplying
    * through by N² gives
    *
    *   I = (N²·P − N·S·T + S²·W) / (W · (N·Q − S²))
    *
    * with S=Σv, Q=Σv², W=#ordered adjacent pairs, P=Σ_pairs v_i·v_j,
    * T=Σ_pairs (v_i+v_j) — five int64-safe aggregates. The one
    * combination step runs in decimal(38,0) (N²·P overflows int64 at
    * ~10⁶ cells; the oracle twin uses HUGEINT) and the final ratio is
    * one double division of two exactly-agreed integers — deterministic
    * across engines.
    *
    * Scale posture: adjacency is a 4-neighbor [[SpatialOps.stamp]] + ONE self
    * equi-join on the neighbor key (no window, no matrix) and every
    * aggregate is map-side combined; the whole statistic is two shuffles
    * over the GRID (already ≪ the corpus), ending in a single row
    * (n_cells, w_pairs, moran_e6 = round(10⁶·I)).
    */
  /** Getis-Ord Gi* hot-spot z-scores — [[moranI]]'s LOCAL companion:
    * where Moran's I says "this surface clusters", Gi* says WHICH cells
    * are the hot (z ≫ 0) and cold (z ≪ 0) spots, the per-cell statistic
    * behind every "crime/traffic/density hot-spot" map. Binary rook
    * weights including self (the * variant).
    *
    * Same exactness discipline as [[moranI]]: per cell only two integers
    * are aggregated — L = Σ_{j∈nbr(i)∪i} v_j and k = |nbr(i)∪i| — and
    * with x̄ = S/N, S² = (N·Q − S²)/N² the textbook Gi* collapses to
    *
    *   z_i = (N·L − S·k) / sqrt((N·Q − S²) · (N·k − k²) / (N−1))
    *
    * whose inputs are five exact integers (N·Q − S² in decimal(38,0) /
    * HUGEINT — it overflows int64 first); one double expression per cell
    * ends it, deterministic across engines.
    *
    * Scale posture: the neighbor sum is a 5× [[SpatialOps.stamp]] + ONE
    * groupBy on the cell key (map-side combined), then a semi-join back
    * to occupied cells and a broadcast of the 3-number global row — no
    * window, no matrix, no per-cell loop. Output (bx, by, v, gi_e6).
    */
  def getisOrd(cells: DataFrame): DataFrame = {
    val base = cells.select(col("bx"), col("by"), col("v"))
    val scattered = SpatialOps.stamp(base, "bx", "by",
        (0, 0) +: SpatialOps.rook, SpatialOps.StampEdge.Keep)
      .groupBy("bx", "by")
      .agg(sum("v").as("l"), count(lit(1)).as("k"))
    val local = base.join(scattered, Seq("bx", "by"))
    val tot = base.agg(count(lit(1)).as("n"), sum("v").as("s"),
      sum(col("v") * col("v")).as("q"))
    val dec = "decimal(38,0)"
    local.crossJoin(broadcast(tot)).select(
      col("bx"), col("by"), col("v"),
      round((col("n") * col("l") - col("s") * col("k")).cast("double") *
          lit(1.0e6) /
        sqrt((col("n").cast(dec) * col("q").cast(dec) -
            col("s").cast(dec) * col("s").cast(dec)).cast("double") *
          (col("n") * col("k") - col("k") * col("k")).cast("double") /
          (col("n") - lit(1)).cast("double")))
        .cast("long").as("gi_e6"))
  }

  def moranI(cells: DataFrame): DataFrame = {
    val base = cells.select(col("bx"), col("by"), col("v"))
    val nbrs = SpatialOps.stamp(base.withColumnRenamed("v", "vi"), "bx", "by",
        SpatialOps.rook, SpatialOps.StampEdge.Keep)
      .join(base.select(col("bx"), col("by"), col("v").as("vj")),
        Seq("bx", "by"))
      .agg(count(lit(1)).as("w"), sum(col("vi") * col("vj")).as("p"),
        sum(col("vi") + col("vj")).as("t"))
    val tot = base.agg(count(lit(1)).as("n"), sum("v").as("s"),
      sum(col("v") * col("v")).as("q"))
    val dec = "decimal(38,0)"
    tot.crossJoin(broadcast(nbrs)).select(
      col("n").as("n_cells"), col("w").as("w_pairs"),
      round((col("n").cast(dec) * col("n").cast(dec) * col("p").cast(dec) -
          col("n").cast(dec) * col("s").cast(dec) * col("t").cast(dec) +
          col("s").cast(dec) * col("s").cast(dec) * col("w").cast(dec))
          .cast("double") * lit(1.0e6) /
        (col("w").cast(dec) *
          (col("n").cast(dec) * col("q").cast(dec) -
            col("s").cast(dec) * col("s").cast(dec))).cast("double"))
        .cast("long").as("moran_e6"))
  }
}
