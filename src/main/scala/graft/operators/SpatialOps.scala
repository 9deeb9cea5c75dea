package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftPlanBridge.cut
import graft.core.{CacheScope, CellCover, CellId, LoopFrame, Planar}
import graft.functions.Fns
import graft.sources.Synth

/** Spatial operators: point-in-polygon join, kNN, tiling/density.
  *
  * Scale design (north rule): the polygon side is small-by-construction
  * (admin polygons) → broadcast its cell cover; the point side is the
  * 10^12-row table → one narrow projection, no shuffle for PIP (broadcast
  * hash join on cell + codegen'd exact refinement). Density/tiling are
  * map-side-combined groupBy aggregations on integer keys.
  */
object SpatialOps {

  /** Cover level of the broadcast PIP join ([[pip]]): a 256x256 grid,
    * cells of ~1.4° lon by ~0.7° lat. Fine enough that most of an
    * admin-sized polygon's cover cells are FULL and skip the ray cast: the
    * 30 hexagons cover 2,299 cells, 1,261 of them FULL.
    */
  val CoverLevel = 8

  /** Default cover level of the distributed-cover joins (pipJoinPolygons,
    * bboxJoin, polyIntersectJoin, dissolve, frechetJoin, dtwJoin): a 64x64
    * grid, cells of ~5.6° lon by ~2.8° lat.
    */
  val CorpusCoverLevel = 6

  /** Point-in-polygon join of a (pid, lon_fix, lat_fix) point table against
    * a broadcast-size polygon map (rings with holes, even-odd parity; the
    * deterministic hexagon set by default): one broadcast hash join on the
    * polygons' classified level-[[CoverLevel]] cover ([[pipCoverJoin]]),
    * where a FULL cell accepts the pair and a PARTIAL cell runs the native
    * boundary-inclusive ray cast (PointInPolygonSet). The point side is
    * never shuffled: the plan is a single map stage until the consumer's
    * aggregation. For CCW convex rings the ray cast equals the half-plane
    * conjunction bool_and(cross >= 0), which is what the DuckDB oracle
    * computes (property-tested in SparkOpsSpec and PipCoverSpec).
    *
    * Output (pid, poly_id, lon_fix, lat_fix, carryCols...): the point
    * coordinates ride along, so downstream tiling needs no join back
    * against the point table. With `anti` the output is the points inside
    * NO polygon, (pid, lon_fix, lat_fix, carryCols...): the same join as a
    * broadcast left-anti with the refinement inside the join condition.
    *
    * Reference capability: PreparedPolygon::contains use at
    * reference/include/osmium/multipolygon/builder.hpp:707-711, generalized
    * to an engine-level join per the north rule.
    */
  def pip(spark: SparkSession, points: DataFrame,
          polys: graft.plans.PipKernel.Polys = Synth.hexagonPolys,
          anti: Boolean = false, carryCols: Seq[Column] = Nil): DataFrame = {
    val cover = if (polys eq Synth.hexagonPolys) hexagonCover
      else classifiedCover(polys, CoverLevel)
    pipCoverJoin(spark, points, cover, polys, anti, carryCols)
  }

  /** [[pip]] against the hexagons; `perfbench` calls this name. */
  def pipJoinConvexTagged(spark: SparkSession, points: DataFrame,
                          carryCols: Seq[Column] = Nil): DataFrame =
    pip(spark, points, carryCols = carryCols)

  private lazy val hexagonCover = classifiedCover(Synth.hexagonPolys, CoverLevel)

  /** (cell, poly_id, full) rows of every polygon's classified cover at
    * `level` ([[graft.core.CellCover.classified]]): cells the polygon
    * does not reach are left out.
    */
  private[graft] def classifiedCover(polys: graft.plans.PipKernel.Polys,
                                     level: Int): Seq[(Long, Int, Boolean)] =
    polys.toSeq.flatMap { case (id, rings) =>
      CellCover.classified(rings, level).map { case (cell, full) => (cell, id, full) }
    }

  /** The broadcast cell-cover PIP join: every point's level-[[CoverLevel]]
    * cell equi-joins the broadcast `cover`, a FULL cell accepts the pair
    * and a PARTIAL one runs the exact ray cast against the broadcast
    * `polys`. `Or` evaluates its right side only when the left is false,
    * so FULL pairs never reach PointInPolygonSet. Output as [[pip]].
    */
  private[graft] def pipCoverJoin(spark: SparkSession, points: DataFrame,
                                  cover: Seq[(Long, Int, Boolean)],
                                  polys: graft.plans.PipKernel.Polys, anti: Boolean,
                                  carryCols: Seq[Column]): DataFrame = {
    import spark.implicits._
    val pts = points.withColumn("cell", Fns.cellId(col("lon_fix"), col("lat_fix"), CoverLevel))
    val cells = broadcast(cover.toDF("cell", "poly_id", "full"))
    val hit = col("full") || graft.plans.PointInPolygonSet(
      spark, col("poly_id"), col("lon_fix"), col("lat_fix"), polys)
    if (anti) pts.join(cells, pts("cell") === cells("cell") && hit, "left_anti")
      .select(Seq(col("pid"), col("lon_fix"), col("lat_fix")) ++ carryCols: _*)
    else pts.join(cells, "cell").filter(hit)
      .select(Seq(col("pid"), col("poly_id"), col("lon_fix"), col("lat_fix")) ++ carryCols: _*)
  }

  /** Point-in-polygon join against a polygon CORPUS held as a DataFrame
    * (poly_id, xs, ys — one CCW ring per row, int64 fix coords): the scale
    * path when the polygon side is itself large (millions of parcels /
    * buildings / assembled areas fed back as a join side), where
    * pip's driver-built broadcast map has no room.
    *
    * Plan shape: the cell cover is computed DISTRIBUTIVELY — two chained
    * explodes of the bbox cell ranges (pure built-ins, no driver pass) —
    * and the candidate join is a shuffle equi-join on the cover cell
    * (shuffle_hash hint: neither side is broadcast, so the plan survives
    * any polygon count; at 32 partitions AQE handles residual cell skew).
    * Ring geometry rides the cover rows (~100 B per covered cell for
    * admin-scale rings), so refinement — the native row-wise ray-cast
    * kernel [[graft.plans.RingKernel.contains]] — runs inside the join's
    * codegen stage with no second join to fetch geometry. Output
    * (pid, poly_id) is distinct by construction: a point lies in exactly
    * one cover cell and cover rows are unique per (poly_id, cell).
    *
    * Choose coverLevel so a typical polygon spans ~1-4 cells per axis
    * (cell width = 360/2^level degrees); the broadcast map ([[pip]])
    * remains the right plan for SMALL polygon sets (zero shuffle of the
    * points).
    */
  /** Distributed cell cover of per-row bboxes — two chained range explodes
    * (pure built-ins, no driver pass), one "cell" column appended to the
    * `carry` columns. Shared by every distributed-cover join
    * (pipJoinPolygons, bboxJoin). `carry` must be plain named columns of
    * `rows`.
    */
  private def coverByBBox(rows: DataFrame, minx: Column, miny: Column,
                          maxx: Column, maxy: Column, coverLevel: Int,
                          carry: Seq[Column]): DataFrame =
    rows.select(carry ++ Seq(
        Fns.cellY(miny, coverLevel).as("cy0"),
        Fns.cellY(maxy, coverLevel).as("cy1"),
        explode(sequence(Fns.cellX(minx, coverLevel),
          Fns.cellX(maxx, coverLevel))).as("ccx")): _*)
      .select(carry ++ Seq(col("ccx"),
        explode(sequence(col("cy0"), col("cy1"))).as("ccy")): _*)
      .select(carry :+ Fns.cellIdFromXY(col("ccx"), col("ccy"), coverLevel).as("cell"): _*)

  def pipJoinPolygons(points: DataFrame, polys: DataFrame,
                      coverLevel: Int = CorpusCoverLevel): DataFrame = {
    val cover = coverByBBox(polys,
      array_min(col("xs")), array_min(col("ys")),
      array_max(col("xs")), array_max(col("ys")), coverLevel,
      Seq(col("poly_id"), col("xs"), col("ys")))
    points.withColumn("cell", Fns.cellId(col("lon_fix"), col("lat_fix"), coverLevel))
      .join(cover.hint("shuffle_hash"), "cell")
      .filter(graft.plans.GeomExpressions.pointInRings(
        col("lon_fix"), col("lat_fix"), col("xs"), col("ys")))
      .select(col("pid"), col("poly_id"))
  }

  /** BBox range join: (pid, box_id) for every point inside an axis-aligned
    * box (boundary-inclusive, exact int64) — the third spatial-join
    * capability of SURVEY §2.3 alongside PIP and kNN. Same distributed
    * shape as pipJoinPolygons: the box side is a DataFrame (box_id, minx,
    * miny, maxx, maxy), its cell cover is computed with chained range
    * explodes, and the candidate join is a cell shuffle equi-join (no
    * broadcast of either side), refined by a codegen'd range conjunction.
    */
  def bboxJoin(points: DataFrame, boxes: DataFrame,
               coverLevel: Int = CorpusCoverLevel): DataFrame = {
    val cover = coverByBBox(boxes,
      col("minx"), col("miny"), col("maxx"), col("maxy"), coverLevel,
      Seq(col("box_id"), col("minx"), col("miny"), col("maxx"), col("maxy")))
    points.withColumn("cell", Fns.cellId(col("lon_fix"), col("lat_fix"), coverLevel))
      .join(cover.hint("shuffle_hash"), "cell")
      .filter(col("lon_fix") >= col("minx") && col("lon_fix") <= col("maxx") &&
        col("lat_fix") >= col("miny") && col("lat_fix") <= col("maxy"))
      .select(col("pid"), col("box_id"))
  }

  /** Polygon-polygon overlay join: (a_id, b_id) for every pair of CONVEX
    * CCW rings that intersect (CLOSED — boundary contact counts). The
    * fourth spatial-join class alongside PIP, bbox-range, and kNN; the
    * reference's capability is area-vs-area overlap through GEOS
    * (reference/include/osmium/multipolygon/builder.hpp containment/
    * intersection machinery), re-expressed as a distributed candidate +
    * exact-refinement plan.
    *
    * Plan shape: BOTH polygon corpora get the distributed bbox cell cover
    * (chained range explodes, no driver pass, no broadcast), candidates
    * equi-join on the cover cell (shuffle_hash — survives any corpus
    * size), and pair dedup is FREE: a pair is kept only in its ANCHOR
    * cell — the cell of (max(minx), max(miny)) — which is unique per pair
    * and lies in both covers whenever the bboxes overlap (same trick as
    * HistoryOps.intervalJoin's anchor bucket; no distinct, no shuffle-side
    * dedup state). Refinement is the native exact separating-axis
    * predicate [[graft.plans.RingKernel.convexIntersects]] riding the
    * join's codegen stage.
    *
    * Inputs: (poly_id, xs, ys) per side. Skew posture: a mega-cell (dense
    * urban extract) fans out through AQE skew-join splitting on the cell
    * shuffle; per-pair refinement is O(|A|·|B|) orient tests, constant for
    * bounded-vertex rings.
    */
  def polyIntersectJoin(polysA: DataFrame, polysB: DataFrame,
                        coverLevel: Int = CorpusCoverLevel): DataFrame = {
    def side(p: DataFrame, tag: String): DataFrame =
      coverByBBox(
        p.select(col("poly_id").as(s"${tag}id"), col("xs").as(s"${tag}xs"),
          col("ys").as(s"${tag}ys"),
          array_min(col("xs")).as(s"${tag}minx"), array_min(col("ys")).as(s"${tag}miny"),
          array_max(col("xs")).as(s"${tag}maxx"), array_max(col("ys")).as(s"${tag}maxy")),
        col(s"${tag}minx"), col(s"${tag}miny"), col(s"${tag}maxx"), col(s"${tag}maxy"),
        coverLevel,
        Seq(col(s"${tag}id"), col(s"${tag}xs"), col(s"${tag}ys"),
          col(s"${tag}minx"), col(s"${tag}miny"), col(s"${tag}maxx"), col(s"${tag}maxy")))
    val anchor = Fns.cellIdFromXY(
      Fns.cellX(greatest(col("aminx"), col("bminx")), coverLevel),
      Fns.cellY(greatest(col("aminy"), col("bminy")), coverLevel), coverLevel)
    side(polysA, "a").join(side(polysB, "b").hint("shuffle_hash"), "cell")
      .filter(col("cell") === anchor)
      .filter(graft.plans.GeomExpressions.convexIntersects(
        col("axs"), col("ays"), col("bxs"), col("bys")))
      .select(col("aid").as("a_id"), col("bid").as("b_id"))
  }

  /** Dissolve: merge transitively-overlapping polygons into components
    * and aggregate per merged region — the distributed analog of a
    * cascaded union (GEOS UnionInterable / ST_Union + ST_Dump), the
    * post-processing step the reference ecosystem applies to assembled
    * admin areas (reference/include/osmium/multipolygon/builder.hpp
    * builds the per-relation areas; dissolving adjacent ones is the
    * canonical downstream op).
    *
    * Plan shape: overlap edges from the self [[polyIntersectJoin]]
    * (distributed covers, no broadcast), kept once per unordered pair
    * (a_id < b_id); components via the adaptive pointer-jumping loop
    * (O(3+log d) rounds, bounded state — GraphOps.connectedComponents);
    * untouched polygons join back left and dissolve into themselves.
    * Final rollup is ONE hash shuffle on the component id. Per-component
    * output: member count, exact doubled shoelace area sum (disjoint-union
    * upper bound of the merged region), and the merged bbox.
    *
    * Input: (poly_id, xs, ys) closed convex rings. Output: (component,
    * n_polys, area2, minx, miny, maxx, maxy).
    */
  def dissolve(polys: DataFrame, coverLevel: Int = CorpusCoverLevel): DataFrame = {
    val edges = polyIntersectJoin(polys, polys, coverLevel)
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val comp = GraphOps.connectedComponents(edges)
    polys
      .select(col("poly_id"),
        graft.plans.GeomExpressions.ringArea2(col("xs"), col("ys")).as("__a2"),
        array_min(col("xs")).as("__minx"), array_min(col("ys")).as("__miny"),
        array_max(col("xs")).as("__maxx"), array_max(col("ys")).as("__maxy"))
      .join(comp, col("poly_id") === col("node_id"), "left")
      .select(coalesce(col("component"), col("poly_id")).as("component"),
        col("__a2"), col("__minx"), col("__miny"), col("__maxx"), col("__maxy"))
      .groupBy("component")
      .agg(count(lit(1)).as("n_polys"), sum(col("__a2")).as("area2"),
        min(col("__minx")).as("minx"), min(col("__miny")).as("miny"),
        max(col("__maxx")).as("maxx"), max(col("__maxy")).as("maxy"))
  }

  /** Trajectory-similarity join: all pairs (way_a, way_b) whose SQUARED
    * discrete Fréchet distance is ≤ thrFix² — the map-conflation
    * primitive ("is this way the same road as that one?"), the
    * polyline-similarity row of the spatial-join matrix. Reference
    * capability class: way geometry comparison in the conflation
    * ecosystem around the reference's assembled ways.
    *
    * Correctness of the candidate set: every monotone coupling matches
    * the two FIRST points and the two LAST points, so dF ≥ d(a₀,b₀) and
    * dF ≥ d(a_last,b_last) — both endpoints must lie within thr of their
    * counterpart, a far tighter candidate gate than whole-track bbox
    * overlap (see [[trackPairCandidates]]). Distributed shape: the A
    * side's first point covers a thr-halfwidth cell box (chained
    * explodes, no broadcast), the B side lands in its single first-point
    * cell, one shuffle_hash equi-join on the cell — each pair appears at
    * most once by construction (B contributes one row), so no dedup pass
    * at all — and the native exact O(m·n) rolling-DP kernel
    * ([[graft.plans.RingKernel.discreteFrechet2]]) rides the join's
    * codegen stage.
    * Output: (way_a, way_b, df2).
    */
  def frechetJoin(tracksA: DataFrame, tracksB: DataFrame, thrFix: Long,
                  coverLevel: Int = CorpusCoverLevel,
                  selfJoin: Boolean = false): DataFrame =
    trackPairCandidates(tracksA, tracksB, thrFix, coverLevel, selfJoin)
      .select(col("aid").as("way_a"), col("bid").as("way_b"),
        graft.plans.GeomExpressions.frechetDf2(
          col("axs"), col("ays"), col("bxs"), col("bys")).as("df2"))
      .filter(col("df2") <= lit(thrFix * thrFix))

  /** DTW trajectory-similarity join: all pairs whose squared-distance DTW
    * cost (min over monotone couplings of Σ d², [[graft.core.Planar.dtw2]])
    * is ≤ `budget` — the cumulative-cost sibling of [[frechetJoin]]'s
    * minimax, preferred when similarity should tolerate a short local
    * excursion that a max-metric would veto. Candidate completeness:
    * every coupling matches the two first points AND the two last points,
    * and every cell cost is non-negative, so DTW ≥ d²(a₀,b₀) and
    * DTW ≥ d²(a_last,b_last); gating candidates on both endpoint pairs
    * being within ⌈√budget⌉ covers every within-budget pair. Identical
    * distributed shape as frechetJoin (first-point cell-box cover vs
    * single B cell, shuffle_hash, dedup-free by construction, native
    * O(m·n) kernel in the join's codegen stage).
    * Output: (way_a, way_b, dtw2).
    */
  def dtwJoin(tracksA: DataFrame, tracksB: DataFrame, budget: Long,
              coverLevel: Int = CorpusCoverLevel,
              selfJoin: Boolean = false): DataFrame = {
    val expand = math.ceil(math.sqrt(budget.toDouble)).toLong
    trackPairCandidates(tracksA, tracksB, expand, coverLevel, selfJoin)
      .select(col("aid").as("way_a"), col("bid").as("way_b"),
        graft.plans.GeomExpressions.dtwD2(
          col("axs"), col("ays"), col("bxs"), col("bys")).as("dtw2"))
      .filter(col("dtw2") <= lit(budget))
  }

  /** Shared candidate stage of the trajectory-similarity joins
    * ([[frechetJoin]], [[dtwJoin]]), exploiting that both metrics force
    * the endpoint matches: a pair can pass the final metric filter only
    * if d(a₀,b₀) ≤ expandFix AND d(a_last,b_last) ≤ expandFix. The A
    * side's FIRST point covers the cells of its ±expandFix box (chained
    * explodes — a handful of cells, not a whole-track bbox cover); the B
    * side lands in exactly ONE row at its first point's cell; one
    * shuffle_hash equi-join on the cell. Because B contributes a single
    * cover row per track, each pair appears at most once — no anchor-cell
    * dedup or distinct pass. Exact endpoint gates run in the join's
    * codegen stage: Chebyshev |Δ| ≤ expandFix first (also makes the
    * squared term overflow-free: world-span Δ² would wrap int64, but the
    * conjunction is already false), then Euclid Δ² ≤ expandFix². Emits
    * (aid, axs, ays, bid, bxs, bys) once per endpoint-compatible pair —
    * typically orders of magnitude fewer rows than bbox-overlap
    * candidates, because track extent no longer inflates the join.
    */
  private def trackPairCandidates(tracksA: DataFrame, tracksB: DataFrame,
                                  expandFix: Long, coverLevel: Int,
                                  selfJoin: Boolean): DataFrame = {
    def withEnds(p: DataFrame, tag: String): DataFrame =
      p.select(col("way_id").as(s"${tag}id"), col("xs").as(s"${tag}xs"),
        col("ys").as(s"${tag}ys"),
        element_at(col("xs"), 1).as(s"${tag}hx"),
        element_at(col("ys"), 1).as(s"${tag}hy"),
        element_at(col("xs"), -1).as(s"${tag}tx"),
        element_at(col("ys"), -1).as(s"${tag}ty"))
    val a = coverByBBox(withEnds(tracksA, "a"),
      col("ahx") - expandFix, col("ahy") - expandFix,
      col("ahx") + expandFix, col("ahy") + expandFix, coverLevel,
      Seq(col("aid"), col("axs"), col("ays"),
        col("ahx"), col("ahy"), col("atx"), col("aty")))
    val b = withEnds(tracksB, "b")
      .withColumn("cell", Fns.cellId(col("bhx"), col("bhy"), coverLevel))
    val e2 = lit(expandFix * expandFix)
    def near(x1: Column, y1: Column, x2: Column, y2: Column): Column =
      abs(x1 - x2) <= lit(expandFix) && abs(y1 - y2) <= lit(expandFix) &&
        (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2) <= e2
    val pairFilter = if (selfJoin) col("aid") < col("bid") else lit(true)
    a.join(b.hint("shuffle_hash"), "cell")
      .filter(near(col("ahx"), col("ahy"), col("bhx"), col("bhy")) &&
        near(col("atx"), col("aty"), col("btx"), col("bty")) && pairFilter)
      .drop("ahx", "ahy", "atx", "aty", "bhx", "bhy", "btx", "bty")
  }

  /** Way-in-polygon join: (way_id, poly_id, n_segs) for every way with at
    * least one segment sharing a point with the closed polygon — the
    * line×polygon class of the spatial-join matrix (which roads cross
    * which admin areas), alongside PIP (point×polygon), bbox-range,
    * kNN, waysCrossJoin (line×line), and polyIntersectJoin
    * (polygon×polygon). Reference capability: area-vs-way filtering in
    * the assembler/extract paths (reference/include/osmium/area/
    * assembler.hpp ways-on-area bookkeeping).
    *
    * Plan shape: segments cover the cells they CROSS ([[segmentCellCover]],
    * orient-corner test, not bbox), polygons cover their bbox cells
    * (distributed chained explodes — no broadcast); one equi-join on the
    * cell, exact native refinement
    * ([[graft.plans.RingKernel.segIntersectsRing]]: endpoint ray-cast +
    * per-edge straddle tests, all BigInt-exact). A
    * (segment, polygon) pair found in several shared cells dedups by KEY
    * (way_id, seq, poly_id) — no tie-break cell needed because the hit
    * count per way is the output, not raw pairs. Candidate volume is
    * per-cell co-occupancy; callers derive `level` from the segment count
    * so density stays constant as data grows.
    */
  def wayPolyJoin(segs: DataFrame, polys: DataFrame, level: Int,
                  maxSpanFix: Long): DataFrame = {
    val segCover = segmentCellCover(segs, level, maxSpanFix, keepCoords = true)
      .select(col("way_id"), col("seq"),
        Fns.cellIdFromXY(col("cell_x"), col("cell_y"), level).as("cell"),
        col("x0"), col("y0"), col("x1"), col("y1"))
    val polyCover = coverByBBox(polys,
      array_min(col("xs")), array_min(col("ys")),
      array_max(col("xs")), array_max(col("ys")), level,
      Seq(col("poly_id"), col("xs"), col("ys")))
    segCover.join(polyCover.hint("shuffle_hash"), "cell")
      .filter(graft.plans.GeomExpressions.segIntersectsRing(
        array(col("x0"), col("y0"), col("x1"), col("y1")), col("xs"), col("ys")))
      .select(col("way_id"), col("seq"), col("poly_id"))
      .distinct()
      .groupBy("way_id", "poly_id")
      .agg(count(lit(1)).as("n_segs"))
  }

  // ---- kNN: cell-ring candidate pruning, planar or geodesic metric ---------

  /** Distance metric of [[knn]] / [[knnBruteForce]]: the distance column
    * and its name, the lon neighbor rule of the 3x3 cell neighborhood,
    * and the per-query exactness bound for a grid of n cells per axis.
    */
  sealed abstract class KnnMetric(val distCol: String) {
    private[SpatialOps] def dist(px: Column, py: Column, qx: Column, qy: Column): Column
    private[SpatialOps] def neighborX(cx: Column, n: Long): Column
    private[SpatialOps] def bound(qy: Column, n: Long): Column
  }

  object KnnMetric {
    /** Exact int64 squared euclid on fix coords, `d2` (lon ±9e8, lat ±6e8
      * keep dx²+dy² < 2^63). Both axes clamp: the metric is flat, NOT
      * cylindrical, so cells wrapped across the antimeridian would admit
      * candidates that are far in this metric — and their dx could
      * overflow dx*dx. The bound is one full cell span per axis,
      * floor(width) because integer cell boundaries jitter by 1.
      */
    case object Planar extends KnnMetric("d2") {
      private[SpatialOps] def dist(px: Column, py: Column, qx: Column, qy: Column): Column = {
        val dx = px - qx
        val dy = py - qy
        dx * dx + dy * dy
      }
      private[SpatialOps] def neighborX(cx: Column, n: Long): Column =
        least(greatest(cx, lit(0L)), lit(n - 1))
      private[SpatialOps] def bound(qy: Column, n: Long): Column = {
        val b = math.min(3600000000L / n - 1, 1800000000L / n - 1)
        lit(b * b)
      }
    }

    /** round(haversine * 1000) in integer millimetres, `dist_e3`. The
      * flat metric distorts at |lat| > 60 and is simply wrong near the
      * antimeridian (the reference's only distance is great-circle
      * haversine, reference/include/osmium/geometry/haversine.hpp:40-77),
      * so the lon neighborhood WRAPS across the antimeridian and the
      * bound is latitude-aware ([[geoBoundE3]]): it vanishes near the
      * poles, where queries correctly fall back / coarsen.
      */
    case object Geo extends KnnMetric("dist_e3") {
      private[SpatialOps] def dist(px: Column, py: Column, qx: Column, qy: Column): Column =
        geoDistE3(px, py, qx, qy)
      private[SpatialOps] def neighborX(cx: Column, n: Long): Column = pmod(cx, lit(n))
      private[SpatialOps] def bound(qy: Column, n: Long): Column = geoBoundE3(qy, n)
    }
  }

  /** Physical strategy of [[knn]]. */
  sealed trait KnnStrategy
  object KnnStrategy {
    /** One round with the query cells broadcast (zero shuffle of the
      * point side); unresolved queries go to [[knnBruteForce]]. For
      * small query sets.
      */
    case object Broadcast extends KnnStrategy
    /** Cell-bucket shuffle equi-join, the query side NEVER broadcast, with
      * level coarsening for the unresolved tail. For corpus-vs-corpus
      * query sets (|queries| ~ |points|).
      */
    case object Shuffle extends KnnStrategy
    /** Broadcast up to [[KnnBroadcastMaxQueries]] queries, else Shuffle:
      * one count() of the query side at plan-construction time.
      */
    case object BySize extends KnnStrategy
  }

  /** Query-count threshold up to which [[KnnStrategy.BySize]] broadcasts. */
  val KnnBroadcastMaxQueries = 100000L

  /** The kNN start level for `n` points: ~50 points per cell, level =
    * round(log4(n / 50)) clamped to [1, 12], which keeps round-0
    * candidate volume small while most queries resolve — measured 3.6x
    * faster than a fixed level on the sf0.1 set. Any level gives the
    * exact answer; the level only moves the cost.
    */
  def knnLevel(n: Long): Int =
    math.max(1, math.min(12,
      math.round(math.log(math.max(n, 1L) / 50.0) / math.log(4.0)).toInt))

  /** Exact kNN under `metric`: (qid, pid, rank, `metric.distCol`), ties
    * broken by pid. A query resolves in a round at grid level lv when
    * its top-k candidates from its 3x3 cell neighborhood are provably the
    * global top-k: k candidates found AND the kth within the metric's
    * bound on the distance to anything outside the neighborhood. level
    * <= 0 (default) derives the start level from the point density
    * ([[knnLevel]]) — one count() job at plan-construction time; pass an
    * explicit level to skip it.
    *
    * Broadcast: queries the round cannot resolve (sparse regions, polar
    * caps) fall back to the brute force, so the heavy scoring touches ~9
    * cells per query instead of the whole table.
    *
    * Shuffle: round r joins points against the 3x3 neighborhood of each
    * still-unresolved query at level - r. Each coarsening doubles the
    * guaranteed radius, so sparse regions need O(level) rounds; at level
    * 1 the neighborhood covers the whole 2x2 grid and the remaining
    * queries get their exact answer unconditionally. Rounds after the
    * first carry only the unresolved tail (counted eagerly; the loop
    * stops when none remain), so the dominant cost is the first pass.
    *
    * Persist hygiene: intermediates the returned plan reads twice are
    * registered in `scope`, and the shuffle strategy moves its query
    * frontier through a [[graft.core.LoopFrame]]; the caller releases
    * `scope` after consuming the result (see [[graft.core.CacheScope]]).
    */
  def knn(points: DataFrame, queries: DataFrame, k: Int, metric: KnnMetric,
          level: Int = 0, strategy: KnnStrategy = KnnStrategy.BySize,
          scope: CacheScope = CacheScope.global): DataFrame = {
    val broadcastQueries = strategy match {
      case KnnStrategy.Broadcast => true
      case KnnStrategy.Shuffle => false
      case KnnStrategy.BySize => queries.count() <= KnnBroadcastMaxQueries
    }
    val lv0 = if (level > 0) level else knnLevel(points.count())
    if (broadcastQueries) {
      // persisted (scope-released): feeds the guaranteed output and the
      // fallback anti-join
      val ranked = scope.persist(
        knnRound(points, knnQueries(queries), k, metric, lv0, broadcastQueries = true,
          guarantee = true))
      val guaranteed = ranked.filter(col("ok")).drop("ok")
      val fallbackQueries = queries.join(
        broadcast(guaranteed.select(col("qid").as("pid"))), Seq("pid"), "left_anti")
      // common case: every query resolved — checking costs one pass over the
      // (small, per the strategy) query side and saves the brute-force
      // plan's full point-table scan
      if (fallbackQueries.isEmpty) guaranteed
      else guaranteed.unionByName(knnBruteForce(points, fallbackQueries, k, metric))
    } else {
      // the next frontier reads this one twice (anti-join side and
      // candidate side): uncut, its plan would double per coarsening round
      val frontier = new LoopFrame(knnQueries(queries))
      var out: DataFrame = null
      var lv = lv0
      var done = false
      while (!done) {
        val terminal = lv <= 1
        val remaining = frontier.frame
        // persisted (scope-released): the round's top-k feeds both the
        // guarantee check and the emitted output — without it the heavy
        // join+window runs twice
        val ranked = scope.persist(
          knnRound(points, remaining, k, metric, lv, broadcastQueries = false,
            guarantee = !terminal))
        if (terminal) {
          out = if (out == null) ranked else out.unionByName(ranked)
          done = true
        } else {
          val emit = ranked.filter(col("ok")).drop("ok")
          out = if (out == null) emit else out.unionByName(emit)
          done = frontier.advance(
            remaining.join(emit.select("qid"), Seq("qid"), "left_anti")) == 0L
          lv -= 1
        }
      }
      // the terminal round's top-k is not materialized until the caller
      // acts, and it reads the last frontier — release with the scope
      frontier.keep(scope)
      out
    }
  }

  /** Exact brute-force kNN under `metric`: broadcast the query set, score
    * every point, window top-k. Correct for any geometry; cost
    * O(|points|·|queries|).
    */
  def knnBruteForce(points: DataFrame, queries: DataFrame, k: Int,
                    metric: KnnMetric): DataFrame =
    knnTopK(points.join(broadcast(knnQueries(queries)), col("pid") =!= col("qid")), k, metric)
      .select(col("qid"), col("pid"), col("rank"), col(metric.distCol))

  private def knnQueries(queries: DataFrame): DataFrame =
    queries.select(col("pid").as("qid"), col("lon_fix").as("qx"), col("lat_fix").as("qy"))

  /** Scores (point, query) candidate rows and keeps each query's top k. */
  private def knnTopK(cand: DataFrame, k: Int, metric: KnnMetric): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col(metric.distCol), col("pid"))
    cand.withColumn(metric.distCol,
        metric.dist(col("lon_fix"), col("lat_fix"), col("qx"), col("qy")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** One cell-ring round at `level` for the (qid, qx, qy) query frame `q`:
    * the 3x3 neighborhood cells of every query (lat clamps, lon per the
    * metric), the candidate join (query cells broadcast or shuffled), the
    * top-k window and, with `guarantee`, the per-query `ok` flag.
    */
  private def knnRound(points: DataFrame, q: DataFrame, k: Int, metric: KnnMetric,
                       level: Int, broadcastQueries: Boolean,
                       guarantee: Boolean): DataFrame = {
    val n = 1L << level
    def cellOf(x: Column, y: Column): Column = Fns.cellIdFromXY(x, y, level)
    val offsets = for (dx <- -1 to 1; dy <- -1 to 1) yield (dx, dy)
    val qcells = q
      .withColumn("qcx", Fns.cellX(col("qx"), level))
      .withColumn("qcy", Fns.cellY(col("qy"), level))
      .withColumn("cell", explode(array(offsets.map { case (dx, dy) =>
        cellOf(metric.neighborX(col("qcx") + dx, n),
          least(greatest(col("qcy") + dy, lit(0L)), lit(n - 1)))
      }: _*)))
      .dropDuplicates("qid", "cell")
      .select("qid", "qx", "qy", "cell")
    val pts = points.withColumn("cell",
      cellOf(Fns.cellX(col("lon_fix"), level), Fns.cellY(col("lat_fix"), level)))
    val top = knnTopK(pts.join(if (broadcastQueries) broadcast(qcells) else qcells, "cell")
      .filter(col("pid") =!= col("qid")), k, metric)
    val out = Seq(col("qid"), col("pid"), col("rank"), col(metric.distCol))
    if (!guarantee) top.select(out: _*)
    else {
      // the guarantee is a second window over the SAME qid partitioning —
      // the rank window already established it, so this adds no exchange
      // and no sort, where a stats groupBy would cost an exchange, its own
      // persist and a join back
      val wq = Window.partitionBy(col("qid"))
      top.withColumn("ok", count(lit(1)).over(wq) === k &&
          max(col(metric.distCol)).over(wq) <= metric.bound(col("qy"), n))
        .select(out :+ col("ok"): _*)
    }
  }

  private val EarthR = 6372797.560856 // reference haversine.hpp:43
  private val DegToRad = 0.017453292519943295769236907684886

  /** round(haversine(p, q) * 1000) as an integer-millimetre Column (shared
    * with the streaming radius join's refinement).
    */
  private[graft] def geoDistE3(px: Column, py: Column, qx: Column, qy: Column): Column =
    round(Fns.haversineMeters(px / lit(1.0e7), py / lit(1.0e7),
      qx / lit(1.0e7), qy / lit(1.0e7)) * lit(1000.0), 0).cast("long")

  /** Per-query exactness bound in integer millimetres for a 3x3 cell
    * neighborhood at grid size n: anything outside the neighborhood is
    * separated from the query by >= one full cell in lat (distance >=
    * R * s_lat) or >= one full cell in lon while staying within +-2 cells
    * of the query's latitude (distance >= 2R asin(sqrt(cos(lat) *
    * cos(latcap)) * sin(s_lon/2)), latcap = min(|lat| + 2 s_lat, 90)).
    * One fix unit of margin absorbs integer cell-boundary jitter; -1 mm
    * makes the comparison strict under the output rounding.
    */
  private def geoBoundE3(qlatFix: Column, n: Long): Column = {
    val sLatRad = (1800000000.0 / n - 1) / 1.0e7 * DegToRad
    val sLonRad = (3600000000.0 / n - 1) / 1.0e7 * DegToRad
    val phi = abs(qlatFix) / lit(1.0e7) * lit(DegToRad)
    val phiCap = least(phi + lit(2 * sLatRad), lit(math.Pi / 2))
    val latBound = lit(EarthR * sLatRad)
    val lonBound = lit(2 * EarthR) *
      asin(sqrt(cos(phi) * greatest(cos(phiCap), lit(0.0))) * lit(math.sin(sLonRad / 2)))
    (floor(least(latBound, lonBound) * lit(1000.0)) - lit(1L)).cast("long")
  }

  /** Geodesic radius join: every (qid, pid) pair within `radiusMeters`
    * great-circle distance (boundary-inclusive on the rounded-millimetre
    * distance, so the DuckDB twin is an integer compare). The spatial
    * sibling of [[knn]] under [[KnnMetric.Geo]] for "everything near X"
    * workloads.
    *
    * Shape: the cell level derives from the radius (cell height ≈ the
    * radius' lat span, so a typical cover is ~3x3); each query explodes
    * its cover — y cells clamped over the lat band, x offsets wrapped
    * over ±k where k = ceil(Δλmax / cellWidth) from the exact per-query
    * bound sin(Δλmax/2) = sin(r/2R)/cos(φcap) (k saturates to the full
    * circle when the cap nears a pole — correct, and only polar queries
    * pay it); candidates ride a cell shuffle equi-join (no broadcast of
    * either side), refined by one haversine per candidate. Scales to
    * corpus-vs-corpus query sets like the shuffle kNN.
    */
  def withinRadiusGeo(points: DataFrame, queries: DataFrame,
                      radiusMeters: Double): DataFrame = {
    val (qcells, level) = radiusCover(queries, radiusMeters)
    val pts = points.withColumn("cell",
      Fns.cellId(col("lon_fix"), col("lat_fix"), level))
    pts.join(qcells, "cell") // shuffle equi-join — no broadcast hint
      .filter(col("pid") =!= col("qid"))
      .withColumn("dist_e3", geoDistE3(col("lon_fix"), col("lat_fix"), col("qx"), col("qy")))
      .filter(col("dist_e3") <= lit(math.round(radiusMeters * 1000.0)))
      .select(col("qid"), col("pid"), col("dist_e3"))
  }

  /** Geodesic grid-accelerated DBSCAN over the point corpus: a point with
    * ≥ minPts−1 neighbors within epsMeters (haversine, rounded-mm
    * predicate — self counts toward minPts) is CORE; maximal groups of
    * eps-reachable core points form clusters; a non-core point adjacent
    * to ≥1 core point is BORDER and joins the smallest-labelled adjacent
    * core's cluster (canonical DBSCAN leaves the border tie arbitrary —
    * taking the min makes it deterministic and engine-independent);
    * everything else is NOISE. Cluster label = smallest core pid in the
    * cluster.
    *
    * Scale posture: the eps-neighborhood graph comes from ONE pass of
    * [[withinRadiusGeo]]'s cell-cover shuffle equi-join (no broadcast of
    * either side, no all-pairs stage anywhere); core-core connectivity
    * resolves through [[GraphOps.connectedComponents]]' adaptive pointer
    * jumping, so even a continent-spanning percolated cluster converges
    * in O(log diameter) rounds; the remaining steps are one count
    * aggregation and two anti-joins. The pair frame is persisted across
    * its three uses and released with `scope`.
    *
    * Output: (pid, role ∈ core|border|noise, cluster; −1 for noise).
    */
  def dbscanGeo(points: DataFrame, epsMeters: Double, minPts: Int,
                scope: CacheScope = CacheScope.global): DataFrame = {
    val pts = scope.persist(points.select("pid", "lon_fix", "lat_fix"))
    val pairsRaw = scope.persist(withinRadiusGeo(pts, pts, epsMeters)
      .select(col("qid"), col("pid").as("nid")))
    // pairs feeds core counting, core-core edges, borders AND the cluster
    // loop: cut, so no downstream action re-analyzes the cover-tree plan
    val pairs = cut(pairsRaw)
    val cores = scope.persist(pairs.groupBy("qid")
      .agg(count(lit(1)).as("n_nbrs"))
      .filter(col("n_nbrs") >= minPts - 1).select(col("qid").as("pid")))
    val coreEdges = pairs
      .join(cores.select(col("pid").as("qid")), "qid")
      .join(cores.select(col("pid").as("nid")), "nid")
      .select(col("qid").as("src"), col("nid").as("dst"))
    val labels = GraphOps.connectedComponents(coreEdges, scope)
    // isolated cores (no core neighbor) are their own singleton cluster
    val coreLab = scope.persist(cores
      .join(labels.withColumnRenamed("node_id", "pid"), Seq("pid"), "left")
      .select(col("pid"), coalesce(col("component"), col("pid")).as("cluster"),
        lit("core").as("role")))
    // persisted (scope-released): borders feeds BOTH the output union and
    // the noise anti-join — uncached, the pairs⋈cores⋈coreLab chain runs
    // twice
    val borders = scope.persist(pairs
      .join(cores.select(col("pid").as("qid")), Seq("qid"), "left_anti")
      .join(coreLab.select(col("pid").as("nid"), col("cluster")), "nid")
      .groupBy(col("qid").as("pid")).agg(min("cluster").as("cluster"))
      .withColumn("role", lit("border")))
    val noise = pts.select("pid")
      .join(coreLab.select("pid"), Seq("pid"), "left_anti")
      .join(borders.select("pid"), Seq("pid"), "left_anti")
      .select(col("pid"), lit(-1L).as("cluster"), lit("noise").as("role"))
    coreLab.unionByName(borders.select("pid", "cluster", "role"))
      .unionByName(noise)
      .select(col("pid"), col("role"), col("cluster"))
  }

  /** The radius join's query-side cover — (qid, qx, qy, cell) rows plus
    * the radius-derived cell level — shared by the batch join above and
    * the stream-static twin ([[graft.streaming.StreamingOps]]).
    */
  private[graft] def radiusCover(queries: DataFrame,
                                 radiusMeters: Double): (DataFrame, Int) = {
    // cover from radius + 1mm: the emitted predicate is on the ROUNDED
    // millimetre distance, so a point a hair beyond R can still round in
    val rCover = radiusMeters + 0.001
    val latSpanDeg = rCover / (EarthR * DegToRad)
    val level = math.max(1, math.min(12,
      math.floor(math.log(180.0 / latSpanDeg) / math.log(2.0)).toInt))
    val n = 1L << level
    val latSpanFix = math.ceil(latSpanDeg * 1e7).toLong + 1 // +1 fix-unit margin
    val cellWDeg = 360.0 / n

    // per-query max lon offset (radians -> degrees): exact bound over the
    // query's lat band, saturating to the full circle near the poles
    val phiCap = least(
      (abs(col("qy")) + lit(latSpanFix)).cast("double") / lit(1.0e7) * lit(DegToRad),
      lit(math.Pi / 2))
    val sinHalf = lit(math.sin(rCover / (2.0 * EarthR))) /
      greatest(cos(phiCap), lit(1e-12))
    val dLamDeg = when(sinHalf >= 1.0, lit(180.0))
      .otherwise(asin(sinHalf) * lit(2.0 / DegToRad))
    val k = least(ceil(dLamDeg / lit(cellWDeg)).cast("long"), lit(n / 2))

    val q = queries.select(col("pid").as("qid"),
      col("lon_fix").as("qx"), col("lat_fix").as("qy"))
    val qcells = q
      .withColumn("qcx", Fns.cellX(col("qx"), level))
      .withColumn("__k", k)
      .withColumn("ylo", Fns.cellY(greatest(col("qy") - latSpanFix, lit(-900000000L)), level))
      .withColumn("yhi", Fns.cellY(least(col("qy") + latSpanFix, lit(900000000L)), level))
      .withColumn("cy", explode(sequence(col("ylo"), col("yhi"))))
      .withColumn("dx", explode(sequence(-col("__k"), col("__k"))))
      .withColumn("cell", Fns.cellIdFromXY(pmod(col("qcx") + col("dx"), lit(n)), col("cy"), level))
      .dropDuplicates("qid", "cell")
      .select("qid", "qx", "qy", "cell")
    (qcells, level)
  }

  /** Web-mercator z/x/y tile density (generalizes the reference's
    * equirectangular node-density raster, examples/nodedensity.cpp:47-61,
    * including its uint16 saturating counts).
    */
  def tileDensity(points: DataFrame, z: Int): DataFrame =
    points.select(
        Fns.tileX(z, Fns.fixToDeg(col("lon_fix"))).as("tx"),
        Fns.tileY(z, Fns.fixToDeg(col("lat_fix"))).as("ty"))
      .groupBy("tx", "ty")
      .agg(DensityCount)

  /** The density rasters' uint16-saturating cell count (nodedensity.cpp:50-57). */
  private[graft] val DensityCount: Column = least(count(lit(1)), lit(65535L)).as("cnt")

  /** Grid-edge policy of [[stamp]] on the 2^level grid: drop shifted cells
    * off the grid; wrap x (the antimeridian) and drop y; or keep every
    * cell (contour blocks at -1, stamps joined back to occupied cells).
    */
  private[graft] sealed trait StampEdge
  private[graft] object StampEdge {
    final case class Drop(level: Int) extends StampEdge
    final case class WrapX(level: Int) extends StampEdge
    case object Keep extends StampEdge
  }

  /** [[stamp]] offsets: the (2r+1)² Chebyshev ball, and the 4 neighbours. */
  private[graft] def square(r: Int): Seq[(Int, Int)] =
    for (dx <- -r to r; dy <- -r to r) yield (dx, dy)
  private[graft] val rook: Seq[(Int, Int)] = Seq((1, 0), (-1, 0), (0, 1), (0, -1))

  /** The raster stencils' cell stamp: each row once per (dx, dy) of
    * `offsets`, its `x`/`y` cells shifted by it and the offset carried as
    * int `dx`/`dy` columns, from which each stencil derives its payload;
    * other columns ride along. A literal array, so one narrow explode (a
    * single offset is a projection); `edge` drops or wraps off-grid cells.
    */
  private[graft] def stamp(df: DataFrame, x: String, y: String,
                           offsets: Seq[(Int, Int)], edge: StampEdge): DataFrame = {
    val (dx, dy, fanned) = offsets match {
      case Seq((ox, oy)) => (lit(ox), lit(oy), df)
      case _ => (col("o.dx"), col("o.dy"), df.select(df.columns.map(col) :+
        explode(array(offsets.map { case (ox, oy) =>
          struct(lit(ox).as("dx"), lit(oy).as("dy"))
        }: _*)).as("o"): _*))
    }
    val sx = edge match {
      case StampEdge.WrapX(level) => pmod(col(x) + dx, lit(1L << level))
      case _ => col(x) + dx
    }
    val shifted = fanned.select(df.columns.map {
        case `x` => sx.as(x)
        case `y` => (col(y) + dy).as(y)
        case c => col(c)
      } ++ Seq(dx.as("dx"), dy.as("dy")): _*)
    edge match {
      case StampEdge.Drop(level) =>
        val n = 1L << level
        shifted.filter(col(x) >= 0 && col(x) < n && col(y) >= 0 && col(y) < n)
      case StampEdge.WrapX(level) =>
        shifted.filter(col(y) >= 0 && col(y) < (1L << level))
      case StampEdge.Keep => shifted
    }
  }

  /** Sparse 3×3 integer convolution over a z/x/y tile raster — the
    * smoothing pass of a density heatmap (binomial kernel 1-2-1 ⊗ 1-2-1,
    * weights sum 16; the un-normalized weighted sum is returned so the
    * result stays exact-integer). The raster is SPARSE: each occupied
    * tile scatters its 9 weighted contributions (a narrow 9× explode, no
    * densification of the 4^z grid), one shuffle aggregates them — a
    * stencil as map-side fan-out + groupBy, the shape that survives any
    * raster size. x wraps around the antimeridian (mod 2^z), y clamps
    * (rows scattered past the pole are dropped). Output cells are every
    * tile with ≥1 contributing neighbor.
    */
  def rasterBlur(tiles: DataFrame, z: Int): DataFrame =
    stamp(tiles.select("tx", "ty", "cnt"), "tx", "ty", square(1), StampEdge.WrapX(z))
      .select(col("tx"), col("ty"), (col("cnt") *
        ((lit(2) - abs(col("dx"))) * (lit(2) - abs(col("dy"))))).as("c"))
      .groupBy("tx", "ty").agg(sum("c").as("blur16"))

  /** Bing-style quadkey density at zoom z: the web-mercator z/x/y tile
    * assignment of [[tileDensity]] re-keyed as the interleaved base-4
    * string used by tile pyramids (digit i from the MSB is
    * 2·bit_i(ty) + bit_i(tx), so a quadkey PREFIX is a parent tile —
    * prefix range scans give pyramid rollups for free). The expansion is
    * a fixed z-term concat of integer bit ops — codegen'd, and exact in
    * any engine given the same tx/ty.
    */
  def quadkeyDensity(points: DataFrame, z: Int): DataFrame = {
    val tx = Fns.tileX(z, Fns.fixToDeg(col("lon_fix")))
    val ty = Fns.tileY(z, Fns.fixToDeg(col("lat_fix")))
    val digits = ((z - 1) to 0 by -1).map { b =>
      (shiftright(col("ty"), b).bitwiseAND(lit(1L)) * lit(2L) +
        shiftright(col("tx"), b).bitwiseAND(lit(1L))).cast("string")
    }
    points.select(tx.as("tx"), ty.as("ty"))
      .select(concat(digits: _*).as("quadkey"))
      .groupBy("quadkey")
      .agg(DensityCount)
  }

  /** Standard geohash base32 alphabet (no a/i/l/o). */
  val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Geohash cell density at `precision` chars — the third industry cell
    * id next to [[quadkeyDensity]] (web-mercator base-4) and the sentinel
    * morton cells (equirect base-4): equirect binary subdivision with lon
    * taking the even bit positions from the MSB, 5 bits per base32 char.
    * Like quadkeys, a geohash PREFIX is the parent cell, so prefix scans
    * roll up the pyramid for free.
    *
    * Exactness: geohash's "bit = 1 iff v ≥ midpoint" recursion is
    * identical to one equirect floor bin at 2^bits resolution, so the
    * whole encode is [[Fns.cellX]]/[[Fns.cellY]] (exact int64) plus a
    * fixed precision-term concat of bit ops — codegen'd, no floats, and
    * the same expression is literal SQL in the oracle twin. Odd
    * precisions (lon gets the extra bit) are supported — verified against
    * the published 'ezs42' vector in the spec. Precision caps at 8
    * (~19 m cells): beyond that the bin numerator passes 2⁵³ and
    * [[Fns.idiv]]'s exact-division contract breaks.
    */
  def geohashDensity(points: DataFrame, precision: Int): DataFrame = {
    // group on the INTEGER bin pair and encode the string per GROUP:
    // the geohash is a bijection of (lonb, latb), so counts are
    // identical, the shuffle key is two longs instead of a string, and
    // the 5·p-term character build runs once per occupied cell instead
    // of once per point
    require(precision >= 1 && precision <= 8, "geohash precision 1..8")
    val bits = 5 * precision
    val lonBits = (bits + 1) / 2
    val latBits = bits / 2
    points.select(Fns.cellX(col("lon_fix"), lonBits).as("__gx"),
        Fns.cellY(col("lat_fix"), latBits).as("__gy"))
      .groupBy("__gx", "__gy").agg(count(lit(1)).as("cnt"))
      .select(geohashFromBins(col("__gx"), col("__gy"), precision)
        .as("geohash"), col("cnt"))
  }

  /** The geohash encode itself as one Column (also the SQL catalog's
    * `geohash(lon_fix, lat_fix, precision)`); bin columns bound once so
    * the 5·p bit terms don't re-evaluate the cell division.
    */
  def geohashCol(lonFix: Column, latFix: Column, precision: Int): Column = {
    require(precision >= 1 && precision <= 8, "geohash precision 1..8")
    val bits = 5 * precision
    val lonBits = (bits + 1) / 2
    val latBits = bits / 2
    Fns.bindOnce(Fns.cellX(lonFix, lonBits)) { lonb =>
      Fns.bindOnce(Fns.cellY(latFix, latBits)) { latb =>
        geohashFromBins(lonb, latb, precision)
      }
    }
  }

  /** Geohash characters from the already-binned (lonb, latb) pair —
    * lonb on (5p+1)/2 bits, latb on 5p/2 bits.
    */
  private def geohashFromBins(lonb: Column, latb: Column,
                              precision: Int): Column = {
    val bits = 5 * precision
    val lonBits = (bits + 1) / 2
    val latBits = bits / 2
    val alpha = array(GeohashAlphabet.map(c => lit(c.toString)): _*)
    val chars = (0 until precision).map { k =>
      val digit = (0 until 5).map { j =>
        val g = 5 * k + j // global bit index from the MSB; even = lon
        val src = if (g % 2 == 0) shiftright(lonb, lonBits - 1 - g / 2)
                  else shiftright(latb, latBits - 1 - (g - 1) / 2)
        src.bitwiseAND(lit(1L)) * lit(1L << (4 - j))
      }.reduce(_ + _)
      element_at(alpha, (digit + lit(1L)).cast("int"))
    }
    concat(chars: _*)
  }

  /** Equirect integer raster — exact int64 twin of nodedensity binning. */
  def equirectDensity(points: DataFrame, level: Int): DataFrame =
    points.select(
        Fns.cellX(col("lon_fix"), level).as("bx"),
        Fns.cellY(col("lat_fix"), level).as("by"))
      .groupBy("bx", "by")
      .agg(DensityCount)

  /** Incremental tile-histogram maintenance: apply a changeset to a
    * maintained per-cell count WITHOUT rescanning the corpus — the
    * difference between touching |changes| rows and touching 10^12 at
    * every refresh. `changes` is (op ∈ create/modify/delete, pid,
    * new_lon_fix, new_lat_fix — new coords null for delete); old
    * positions for modify/delete come from ONE pid-equi-join against the
    * base snapshot (at scale both sides live bucketed by pid —
    * LayoutOps.writeBucketed — so the probe is exchange-free). Delta rows
    * (−1 at the old cell, +1 at the new) aggregate to a sparse per-cell
    * delta, outer-merged with the maintained histogram; zero-count cells
    * drop out. Counts are UNCAPPED (additivity is the maintenance
    * invariant — a saturating density raster like [[equirectDensity]]
    * cannot be maintained incrementally). Output (bx, by, cnt) of the
    * updated histogram.
    */
  def applyTileDeltas(base: DataFrame, baseHist: DataFrame, changes: DataFrame,
                      level: Int): DataFrame = {
    val oldCells = changes.filter(col("op").isin("modify", "delete"))
      .select("pid").join(base, "pid")
      .select(Fns.cellX(col("lon_fix"), level).as("bx"),
        Fns.cellY(col("lat_fix"), level).as("by"), lit(-1L).as("d"))
    val newCells = changes.filter(col("op").isin("modify", "create"))
      .select(Fns.cellX(col("new_lon_fix"), level).as("bx"),
        Fns.cellY(col("new_lat_fix"), level).as("by"), lit(1L).as("d"))
    val delta = oldCells.unionByName(newCells)
      .groupBy("bx", "by").agg(sum("d").as("delta"))
    baseHist.join(delta, Seq("bx", "by"), "full_outer")
      .select(col("bx"), col("by"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("delta"), lit(0L))).as("cnt"))
      .filter(col("cnt") > 0)
  }

  /** Vector→raster: polygon rasterization onto the equirect grid — every
    * cell whose CENTER lies inside the polygon (boundary-inclusive ray
    * cast), the accurate counterpart of the bbox cell cover. Shape: the
    * candidate set is the distributed bbox cover (two chained explodes,
    * ring geometry riding the rows), refined by one exact integer PIP per
    * candidate cell — fully distributed, no driver pass, no broadcast.
    * Cell centers are exact integer arithmetic (floor((2c+1)·span/2n)),
    * so the DuckDB twin matches bit-for-bit. Output (poly_id, cell_x,
    * cell_y).
    */
  def rasterizePolygons(polys: DataFrame, level: Int): DataFrame = {
    val n = 1L << level
    val withCells = polys.select(col("poly_id"), col("xs"), col("ys"),
        Fns.cellY(array_min(col("ys")), level).as("cy0"),
        Fns.cellY(array_max(col("ys")), level).as("cy1"),
        explode(sequence(Fns.cellX(array_min(col("xs")), level),
          Fns.cellX(array_max(col("xs")), level))).as("cell_x"))
      .select(col("poly_id"), col("xs"), col("ys"), col("cell_x"),
        explode(sequence(col("cy0"), col("cy1"))).as("cell_y"))
    val px = Fns.idiv((col("cell_x") * 2 + 1) * lit(3600000000L), 2 * n) - lit(1800000000L)
    val py = Fns.idiv((col("cell_y") * 2 + 1) * lit(1800000000L), 2 * n) - lit(900000000L)
    withCells
      .filter(graft.plans.GeomExpressions.pointInRings(px, py, col("xs"), col("ys")))
      .select(col("poly_id"), col("cell_x"), col("cell_y"))
  }

  /** Deterministic point sampling inside polygons: for each polygon, up
    * to `k` points drawn by RNG-FREE rejection sampling — candidate j
    * scatters into the bbox via the mixId hash (so the sample is
    * re-shard-stable and oracle-exact, the house determinism rule), the
    * native ray-cast keeps the hits, and the FIRST k by candidate index
    * survive (a per-polygon window). The spatial data-augmentation
    * primitive (training points "somewhere in this admin area").
    *
    * Scale posture: one constant-fanout explode (m candidates per
    * polygon — compile-time constant), per-row codegen hash + PIP, one
    * per-POLYGON window (partitioned, no global sort). Thin polygons
    * may return fewer than k points (documented rejection semantics —
    * callers needing exactly k raise m). Output: (poly_id, j, px, py).
    */
  def samplePointsInPolygons(polys: DataFrame, m: Int, k: Int): DataFrame = {
    val minx = array_min(col("xs")); val maxx = array_max(col("xs"))
    val miny = array_min(col("ys")); val maxy = array_max(col("ys"))
    val j = col("j")
    val px = minx + Fns.mixId(col("poly_id") * (2L * m) + j * 2) %
      (maxx - minx + 1)
    val py = miny + Fns.mixId(col("poly_id") * (2L * m) + j * 2 + 1) %
      (maxy - miny + 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("poly_id").orderBy("j")
    polys
      .select(col("poly_id"), col("xs"), col("ys"),
        explode(sequence(lit(0L), lit(m - 1L))).as("j"))
      .select(col("poly_id"), j, px.as("px"), py.as("py"),
        col("xs"), col("ys"))
      .filter(graft.plans.GeomExpressions.pointInRings(
        col("px"), col("py"), col("xs"), col("ys")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("poly_id", "j", "px", "py")
  }

  /** Raster-footprint IoU join: for every polygon pair (one from each
    * corpus) with intersection-over-union of their rasterized cell
    * footprints ≥ thrPm/1000, the exact integer iou_pm =
    * |A∩B|·1000 div (|A|+|B|−|A∩B|) — the standard evaluation metric
    * for extracted/predicted regions against ground truth (geo-entity
    * extraction QA at corpus scale). Exact and engine-portable because
    * the footprint is [[rasterizePolygons]]' integer-center cell set.
    *
    * Scale posture: candidates come from the cell INVERTED INDEX (one
    * equi-join of the two distributed covers on the cell — never a
    * polygon×polygon product); per-cell bucket size is the local overlap
    * density. Three hash shuffles (two footprint sizes, one pair count).
    * Output: (pa, pb, iou_pm).
    */
  def rasterFootprintIou(polysA: DataFrame, polysB: DataFrame, level: Int,
                         thrPm: Long): DataFrame = {
    val ca = rasterizePolygons(polysA, level).withColumnRenamed("poly_id", "pa")
    val cb = rasterizePolygons(polysB, level).withColumnRenamed("poly_id", "pb")
    val na = ca.groupBy("pa").agg(count(lit(1)).as("na"))
    val nb = cb.groupBy("pb").agg(count(lit(1)).as("nb"))
    ca.join(cb.hint("shuffle_hash"), Seq("cell_x", "cell_y"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("inter"))
      .join(na, "pa").join(nb, "pb")
      .filter(col("inter") * 1000 >=
        lit(thrPm) * (col("na") + col("nb") - col("inter")))
      .selectExpr("pa", "pb", "(inter * 1000) div (na + nb - inter) AS iou_pm")
  }

  /** Marching-squares segment table: for each 2×2 sample mask
    * (bit 1 = bottom-left, 2 = bottom-right, 4 = top-right,
    * 8 = top-left), the contour segments as edge-midpoint pairs in
    * DOUBLED block coordinates (scaling by 2 keeps midpoints integral:
    * B = (2gx+1, 2gy), R = (2gx+2, 2gy+1), T = (2gx+1, 2gy+2),
    * L = (2gx, 2gy+1)). Ambiguous saddles (5, 10) use the fixed
    * convention below (no asymptotic decider) — the documented contract,
    * mirrored in the oracle.
    */
  private val MsEdges = Map(
    "B" -> ("2 * gx + 1", "2 * gy"), "R" -> ("2 * gx + 2", "2 * gy + 1"),
    "T" -> ("2 * gx + 1", "2 * gy + 2"), "L" -> ("2 * gx", "2 * gy + 1"))
  private val MsCases: Map[Int, Seq[(String, String)]] = Map(
    1 -> Seq("L" -> "B"), 2 -> Seq("B" -> "R"), 3 -> Seq("L" -> "R"),
    4 -> Seq("T" -> "R"), 5 -> Seq("L" -> "T", "B" -> "R"),
    6 -> Seq("B" -> "T"), 7 -> Seq("L" -> "T"), 8 -> Seq("L" -> "T"),
    9 -> Seq("B" -> "T"), 10 -> Seq("L" -> "B", "T" -> "R"),
    11 -> Seq("T" -> "R"), 12 -> Seq("L" -> "R"), 13 -> Seq("B" -> "R"),
    14 -> Seq("L" -> "B"))

  /** The mask→segments lookup as a SQL CASE over `mask`, returning a
    * list of 4-element [x1,y1,x2,y2] lists — rendered for either engine
    * (Spark `array(...)`, DuckDB `[...]`). Shared by [[marchingSquares]]
    * and the q_contours oracle so the table exists exactly once.
    */
  def msCaseSql(duck: Boolean): String = {
    def arr(items: Seq[String]): String =
      if (duck) items.mkString("[", ", ", "]")
      else items.mkString("array(", ", ", ")")
    val whens = MsCases.toSeq.sortBy(_._1).map { case (m, ss) =>
      val segs = ss.map { case (a, b) =>
        val (x1, y1) = MsEdges(a); val (x2, y2) = MsEdges(b)
        arr(Seq(x1, y1, x2, y2))
      }
      s"WHEN $m THEN ${arr(segs)}"
    }
    s"CASE mask ${whens.mkString(" ")} END"
  }

  /** Marching-squares contour extraction: the iso-line of an occupancy
    * mask (cells of the [[equirectDensity]] grid meeting a threshold) as
    * exact integer segments — raster→vector ISOLINES, complementing
    * [[vectorizeRaster]]'s component bboxes (components say WHAT is
    * connected; contours say WHERE the boundary runs, ready for a
    * vector-tile render). Samples are the occupied cells; every 2×2
    * sample block gets a 4-bit mask via the constant-fanout [[stamp]]
    * (each occupied sample adds its bit to the ≤ 4
    * blocks cornered on it — distinct input cells, so the bit sum IS the
    * bitmask), then the [[MsCases]] lookup emits 0–2 segments per block.
    * Blocks just outside the grid edge form naturally (their missing
    * samples are simply unoccupied), so every contour is closed.
    *
    * Scale posture: one constant-fanout explode + ONE aggregation
    * shuffle + a per-row CASE/explode — no join anywhere. Output:
    * (gx, gy, x1, y1, x2, y2) in doubled block coordinates.
    */
  def marchingSquares(cells: DataFrame): DataFrame = {
    // bit of the block's lower-left, lower-right, upper-right, upper-left sample
    val bit = when(col("dy") === 0, when(col("dx") === 0, 1L).otherwise(2L))
      .otherwise(when(col("dx") === 0, 8L).otherwise(4L))
    stamp(cells.select("bx", "by"), "bx", "by",
        Seq((0, 0), (-1, 0), (-1, -1), (0, -1)), StampEdge.Keep)
      .select(col("bx").as("gx"), col("by").as("gy"), bit.as("bit"))
      .groupBy("gx", "gy").agg(sum(col("bit")).as("mask"))
      .filter(col("mask") =!= 0 && col("mask") =!= 15)
      .select(col("gx"), col("gy"),
        explode(expr(msCaseSql(duck = false))).as("seg"))
      .selectExpr("gx", "gy",
        "element_at(seg, 1) AS x1", "element_at(seg, 2) AS y1",
        "element_at(seg, 3) AS x2", "element_at(seg, 4) AS y2")
  }

  /** Chaikin corner-cutting smoothing of open polylines, exact integer:
    * each round replaces every edge (a, b) with the two cut points
    * Q = ⌊(3a+b)/4⌋ and R = ⌊(a+3b)/4⌋, keeping the endpoints — the
    * map-generalization SMOOTHER (the dual of [[simplifyWays]]'
    * Douglas-Peucker point REMOVAL: DP drops vertices, Chaikin rounds
    * corners for rendering). Floor division is emulated portably by
    * offsetting coordinates non-negative first (truncating and flooring
    * division agree on non-negatives, and ⌊(3a+b+4c)/4⌋−c = ⌊(3a+b)/4⌋
    * exactly), so the DuckDB twin matches bit-for-bit on negative
    * coordinates too.
    *
    * Scale posture: a pure per-row array transform — no shuffle, no
    * join; the native [[graft.plans.RingKernel.chaikin]] kernel runs the
    * round loop once per row (the earlier nested-`transform` SQL
    * formulation re-substituted the previous round's tree ~6× per round,
    * a 6^rounds plan blowup that dominated wall time). Output length per
    * way is bounded by 2^rounds·len. Input (way_id, xs, ys); arrays
    * shorter than 2 pass through unchanged. Output: (way_id, idx, x, y)
    * exploded in order.
    */
  def chaikinSmooth(tracks: DataFrame, rounds: Int): DataFrame = {
    import graft.plans.GeomExpressions.chaikinAxis
    tracks
      .select(col("way_id"),
        chaikinAxis(col("xs"), rounds).as("sx"),
        chaikinAxis(col("ys"), rounds).as("sy"))
      .select(col("way_id"),
        posexplode(expr("arrays_zip(sx, sy)")).as(Seq("idx", "p")))
      .select(col("way_id"), col("idx").cast("long").as("idx"),
        col("p.sx").as("x"), col("p.sy").as("y"))
  }

  /** Morphological dilation of an occupied-cell raster by Chebyshev
    * radius `radius` — the grid-space buffer operator (coverage halos,
    * safety margins, "near data" masks) on the same equirect grid as
    * [[equirectDensity]]. Each occupied cell [[stamp]]s its
    * (2·radius+1)² neighborhood (a LITERAL offset array — the explode
    * factor is a compile-time constant, not data-dependent); cells
    * falling off the grid are dropped (the world grid has no wraparound
    * here — consistent with [[equirectDensity]]'s edge clamping, which
    * never emits out-of-range cells to begin with). `core` marks cells
    * that were occupied in the input (dilated \ core = the halo).
    *
    * Scale posture: one narrow explode (constant fan-out (2r+1)²) and
    * ONE aggregation shuffle (groupBy cell, max(core)) — dilation is
    * embarrassingly parallel; no join, no window. Output:
    * (cell_x, cell_y, core).
    */
  def dilateRaster(cells: DataFrame, radius: Int, level: Int): DataFrame =
    stamp(cells.select("bx", "by"), "bx", "by", square(radius), StampEdge.Drop(level))
      .select(col("bx").as("cell_x"), col("by").as("cell_y"),
        (col("dx") === 0 && col("dy") === 0).as("c"))
      .groupBy("cell_x", "cell_y").agg(max(col("c")).as("core"))

  /** Morphological erosion of an occupied-cell raster by Chebyshev
    * radius `radius`: a cell survives iff its ENTIRE (2·radius+1)²
    * neighborhood is occupied — the interior-core operator (dilation's
    * adjoint; together they compose opening/closing for speckle removal
    * on coverage masks). Implemented WITHOUT a self-join: every occupied
    * cell stamps the neighborhood it *supports* (the constant-fanout
    * [[stamp]]), and a cell survives when its
    * support count reaches the full (2r+1)² — one aggregation shuffle
    * total. Cells near the grid edge can never collect full support, so
    * the border is eroded by construction (the documented contract).
    *
    * Output: (cell_x, cell_y) — the surviving core cells.
    */
  def erodeRaster(cells: DataFrame, radius: Int, level: Int): DataFrame =
    stamp(cells.select("bx", "by"), "bx", "by", square(radius), StampEdge.Drop(level))
      .select(col("bx").as("cell_x"), col("by").as("cell_y"))
      .groupBy("cell_x", "cell_y").agg(count(lit(1)).as("__sup"))
      .filter(col("__sup") === square(radius).size.toLong)
      .select("cell_x", "cell_y")

  /** Zonal statistics: per-polygon rollup of the point-density raster —
    * the raster↔vector capstone (rasterize the zones, grid the points,
    * join on the cell). For every polygon: how many occupied cells it
    * covers, the total (per-cell-saturating, [[equirectDensity]]'s
    * documented cap) point count, and the hottest cell's count. The
    * standard GIS "zonal stats" primitive, here as three hash-partitioned
    * stages: the distributed polygon cover of [[rasterizePolygons]]
    * (never broadcasting the polygon corpus), ONE density aggregation
    * over the points (map-side combinable), and an equi-join on
    * (cell_x, cell_y) + per-polygon rollup. No point-in-polygon test per
    * POINT ever runs — points reduce to cells first, so the join side is
    * the (bounded) occupied-cell set, not the corpus.
    *
    * Output: (poly_id, n_cells, total, max_cnt) — polygons covering no
    * occupied cell are absent (the join is inner; zero-stats rows carry
    * no information at corpus scale).
    */
  def zonalStats(polys: DataFrame, points: DataFrame, level: Int): DataFrame =
    rasterizePolygons(polys, level)
      .join(equirectDensity(points, level)
          .withColumnRenamed("bx", "cell_x").withColumnRenamed("by", "cell_y"),
        Seq("cell_x", "cell_y"))
      .groupBy("poly_id")
      .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("total"),
        max(col("cnt")).as("max_cnt"))

  /** Cells crossed by each way SEGMENT — polyline rasterization onto the
    * equirect grid, the operator that assigns ways (not just points) to
    * tiles for a vector-tile cut. Candidates are the segment's bbox cell
    * range (two chained explodes, like every distributed cover here);
    * bbox overlap then holds by construction, so the exact refinement is
    * the remaining SAT axis: the segment crosses the cell iff its
    * supporting line does not leave all four cell corners strictly on one
    * side (inclusive — touching counts; a degenerate zero-length segment
    * keeps exactly its own cell). All arithmetic is int64, exact under
    * the span contract below, so the DuckDB twin matches bit-for-bit.
    *
    * Span contract: segments whose bbox exceeds `maxSpanFix` on either
    * axis are dropped — the locally-dense-way contract (an OSM way
    * segment spans metres to km, not continents; pipelines split longer
    * hops upstream). The bound keeps every cross product far inside
    * int64 (|d| · (span + cell) ≲ 2^54 at the defaults) AND bounds the
    * candidate set per segment: the bbox over-generation for a diagonal
    * is (span/cell)² candidates — constant under the contract, and the
    * bounded explode keeps whole-stage codegen where a supercover walk
    * would need an iterative kernel.
    *
    * Input (way_id, seq, x0, y0, x1, y1) fix coords; output (way_id,
    * seq, cell_x, cell_y), one row per crossed cell.
    */
  def segmentCellCover(segs: DataFrame, level: Int, maxSpanFix: Long,
                       keepCoords: Boolean = false): DataFrame = {
    val local = segs.filter(
      abs(col("x1") - col("x0")) <= maxSpanFix &&
      abs(col("y1") - col("y0")) <= maxSpanFix)
    val cand = local
      .withColumn("cy0", Fns.cellY(least(col("y0"), col("y1")), level))
      .withColumn("cy1", Fns.cellY(greatest(col("y0"), col("y1")), level))
      .withColumn("cell_x", explode(sequence(
        Fns.cellX(least(col("x0"), col("x1")), level),
        Fns.cellX(greatest(col("x0"), col("x1")), level))))
      .withColumn("cell_y", explode(sequence(col("cy0"), col("cy1"))))
    val (rx0, ry0, rx1, ry1) = cellRect(level)
    val dx = col("x1") - col("x0")
    val dy = col("y1") - col("y0")
    def side(cx: Column, cy: Column) = dx * (cy - col("y0")) - dy * (cx - col("x0"))
    val sides = Seq(side(rx0, ry0), side(rx1, ry0), side(rx0, ry1), side(rx1, ry1))
    val out = Seq("way_id", "seq", "cell_x", "cell_y") ++
      (if (keepCoords) Seq("x0", "y0", "x1", "y1") else Nil)
    cand
      .filter(least(sides: _*) <= 0 && greatest(sides: _*) >= 0)
      .select(out.map(col): _*)
  }

  /** Exact inclusive fix-coordinate bounds (x0, y0, x1, y1) of the cell
    * (cell_x, cell_y) at `level`: lo(c) = ceil(c·S/n), the smallest fix
    * coordinate binning into c, and hi(c) = lo(c+1) - 1. The LAST cell
    * absorbs the clamped domain edge (cellX/cellY bin x = +half into cell
    * n-1), so its hi bound is the domain max — otherwise a segment lying
    * exactly on the edge binned into cell n-1 would sit one fix unit
    * beyond every candidate rect and the side test would emit nothing.
    */
  private def cellRect(level: Int): (Column, Column, Column, Column) = {
    val n = 1L << level
    def lo(c: Column, span: Long, half: Long) =
      Fns.idiv(c * lit(span) + lit(n - 1), n) - lit(half)
    (lo(col("cell_x"), 3600000000L, 1800000000L),
      lo(col("cell_y"), 1800000000L, 900000000L),
      when(col("cell_x") === (n - 1), lit(1800000000L))
        .otherwise(lo(col("cell_x") + 1, 3600000000L, 1800000000L) - 1),
      when(col("cell_y") === (n - 1), lit(900000000L))
        .otherwise(lo(col("cell_y") + 1, 1800000000L, 900000000L) - 1))
  }

  /** Vector-tile geometry cut: each way segment, clipped to every grid
    * cell it crosses — [[segmentCellCover]] for the (segment, cell) pairs,
    * then the exact Liang-Barsky kernel ([[graft.plans.ClipKernel]])
    * produces the within-cell sub-segment with floor-quantized endpoints.
    * Pure map stage after the cover explode (the clip rides the cover
    * row's own coordinates — no join back to geometry), which is the plan
    * a tile-cut of a 10^12-segment corpus needs: explode + codegen kernel,
    * shuffle only at the consumer's per-tile grouping. Adjacent tiles
    * reconstruct the original polyline exactly at shared boundaries
    * because both floor-quantize the same rational boundary point.
    * Output: (way_id, seq, cell_x, cell_y, cx0, cy0, cx1, cy1).
    */
  def clipSegmentsToCells(segs: DataFrame, level: Int,
                          maxSpanFix: Long): DataFrame = {
    val (rx0, ry0, rx1, ry1) = cellRect(level)
    val c = graft.plans.GeomExpressions.clipSegRect(
      array(col("x0"), col("y0"), col("x1"), col("y1")),
      array(rx0, ry0, rx1, ry1))
    segmentCellCover(segs, level, maxSpanFix, keepCoords = true)
      .select(col("way_id"), col("seq"), col("cell_x"), col("cell_y"),
        element_at(c, 1).as("cx0"), element_at(c, 2).as("cy0"),
        element_at(c, 3).as("cx1"), element_at(c, 4).as("cy1"))
  }

  /** Segment-intersection (ways-cross) join: for each pair of ways with at
    * least one pair of intersecting segments, the number of DISTINCT
    * crossing segment pairs — the line×line analogue of the PIP/bbox
    * joins (route conflation, junction detection, crossing-feature QA).
    *
    * Shape: the same distributed cell cover as every spatial join here —
    * [[segmentCellCover]] on both sides, equi-join on the cell, exact
    * refinement, so nothing is broadcast and nothing is all-pairs; the
    * candidate volume is bounded by per-cell co-occupancy (callers derive
    * `level` from the segment count so density per cell stays constant as
    * data grows). The refinement is the CLRS straddle test on four int64
    * cross products — exact under the span contract (|dir| ≤ span and
    * same-cell separation ≤ 2·span + cell keep every product ≲ 2^51),
    * endpoint-inclusive; the all-collinear case (all four zero) falls
    * back to bbox overlap so disjoint collinear segments don't count. A
    * crossing pair found in several shared cells is deduplicated by key,
    * not geometry, so no tie-break cell is needed.
    *
    * `selfJoin = true` treats A and B as the same way set and keeps each
    * unordered pair once (way_a < way_b); self-intersections of a single
    * way are the assembler's job, not this operator's. Output: (way_a,
    * way_b, n_crossings).
    */
  def waysCrossJoin(segsA: DataFrame, segsB: DataFrame, level: Int,
                    maxSpanFix: Long, selfJoin: Boolean = false,
                    scope: CacheScope = CacheScope.global): DataFrame = {
    val cand = segPairCandidates(segsA, segsB, level, maxSpanFix, selfJoin, scope)
    val (straddle, allZero) = straddleTest
    val bboxOverlap =
      least(col("ax0"), col("ax1")) <= greatest(col("bx0"), col("bx1")) &&
      greatest(col("ax0"), col("ax1")) >= least(col("bx0"), col("bx1")) &&
      least(col("ay0"), col("ay1")) <= greatest(col("by0"), col("by1")) &&
      greatest(col("ay0"), col("ay1")) >= least(col("by0"), col("by1"))
    cand.filter(straddle && (!allZero || bboxOverlap))
      .select(col("way_a"), col("way_b"), col("seq_a"), col("seq_b"))
      .distinct()
      .groupBy("way_a", "way_b")
      .agg(count(lit(1)).as("n_crossings"))
  }

  /** The segment pairs that share a [[segmentCellCover]] cell — the
    * candidates [[waysCrossJoin]] and [[planarize]] refine: both covers
    * keep their coordinates, aliased to (way_a, seq_a, ax0 .. ay1) and
    * (way_b, seq_b, bx0 .. by1), then one equi-join on the cell and the
    * pair filter (way_a < way_b for a self join, way_a != way_b
    * otherwise). A self join's two sides read ONE cover, persisted in
    * `scope`, instead of recomputing the explode per side (ReuseExchange
    * does not fire across the per-side aliasing).
    */
  private def segPairCandidates(segsA: DataFrame, segsB: DataFrame,
      level: Int, maxSpanFix: Long, selfJoin: Boolean,
      scope: CacheScope): DataFrame = {
    def ali(cov: DataFrame, p: String) =
      cov.select(col("way_id").as(s"way_$p"), col("seq").as(s"seq_$p"),
        col("cell_x"), col("cell_y"),
        col("x0").as(s"${p}x0"), col("y0").as(s"${p}y0"),
        col("x1").as(s"${p}x1"), col("y1").as(s"${p}y1"))
    def cover(segs: DataFrame) =
      segmentCellCover(segs, level, maxSpanFix, keepCoords = true)
    val (a, b) = if (selfJoin) {
      val cov = scope.persist(cover(segsA))
      (ali(cov, "a"), ali(cov, "b"))
    } else (ali(cover(segsA), "a"), ali(cover(segsB), "b"))
    val pairFilter =
      if (selfJoin) col("way_a") < col("way_b")
      else col("way_a") =!= col("way_b")
    a.join(b, Seq("cell_x", "cell_y")).filter(pairFilter)
  }

  /** The CLRS four-cross-product straddle test on the joined (a, b)
    * segment coordinate columns — exact int64 under the span contract
    * (|dir| ≤ span, same-cell separation ≤ 2·span + cell keep every
    * product ≲ 2^51), endpoint-inclusive. Returns (straddle, allZero):
    * callers combine with the bbox-overlap fallback for the
    * all-collinear case. Shared by [[waysCrossJoin]] (the count) and
    * [[planarize]] (as the cheap codegen PREFILTER so the BigInt
    * rational kernel only runs on true crossings).
    */
  private def straddleTest: (Column, Column) = {
    val d1 = (col("bx1") - col("bx0")) * (col("ay0") - col("by0")) -
      (col("by1") - col("by0")) * (col("ax0") - col("bx0"))
    val d2 = (col("bx1") - col("bx0")) * (col("ay1") - col("by0")) -
      (col("by1") - col("by0")) * (col("ax1") - col("bx0"))
    val d3 = (col("ax1") - col("ax0")) * (col("by0") - col("ay0")) -
      (col("ay1") - col("ay0")) * (col("bx0") - col("ax0"))
    val d4 = (col("ax1") - col("ax0")) * (col("by1") - col("ay0")) -
      (col("ay1") - col("ay0")) * (col("bx1") - col("ax0"))
    (signum(d1) * signum(d2) <= 0 && signum(d3) * signum(d4) <= 0,
      d1 === 0 && d2 === 0 && d3 === 0 && d4 === 0)
  }

  /** Planarize: the exact crossing POINTS of a way network — for every
    * properly-crossing segment pair, the floor fix coords of the rational
    * intersection (the noding step that turns a line soup into a planar
    * graph; GEOS reaches it via noding, the reference via GEOS when
    * assembled areas touch). Collinear-overlap pairs have no unique
    * point and are excluded (that is [[waysCrossJoin]]'s all-zero branch,
    * not a node).
    *
    * Same distributed candidate shape as [[waysCrossJoin]]: segments
    * cover the cells they cross, one equi-join on the cell, then the
    * int64 [[straddleTest]] prefilter kills the non-crossing candidates
    * in pure codegen BEFORE the allocating BigInt kernel
    * ([[graft.plans.RingKernel.segIntersectionFix]], rationals + floor
    * division) runs on the survivors — candidates outnumber true crossings by
    * orders of magnitude, so the kernel cost follows the OUTPUT size,
    * not the candidate size. A pair sharing several cover cells yields
    * byte-identical rows — the distinct on the output key dedups them.
    * Output: (way_a, seq_a, way_b, seq_b, px, py).
    */
  def planarize(segsA: DataFrame, segsB: DataFrame, level: Int,
                maxSpanFix: Long, selfJoin: Boolean = false,
                scope: CacheScope = CacheScope.global): DataFrame = {
    // straddle is NECESSARY for any intersection (collinear overlap has
    // all four products zero, so it passes too) — a strict superset of
    // the kernel's size-2 rows, evaluated entirely in int64 codegen.
    val (straddle, _) = straddleTest
    segPairCandidates(segsA, segsB, level, maxSpanFix, selfJoin, scope)
      .filter(straddle)
      .select(col("way_a"), col("seq_a"), col("way_b"), col("seq_b"),
        graft.plans.GeomExpressions.segIntersectionFix(
          array(col("ax0"), col("ay0"), col("ax1"), col("ay1")),
          array(col("bx0"), col("by0"), col("bx1"), col("by1"))).as("__p"))
      .filter(size(col("__p")) === 2)
      .select(col("way_a"), col("seq_a"), col("way_b"), col("seq_b"),
        col("__p")(0).as("px"), col("__p")(1).as("py"))
      .distinct()
  }

  /** Point-to-way snapping join: for each point, the ways with at least
    * one segment within `radiusFix` (planar point-to-segment distance) —
    * the map-matching primitive (GPS trace → road candidates, POI → way
    * conflation). Output: (pid, way_id, n_segs) with n_segs the number of
    * DISTINCT segments of that way within range.
    *
    * Shape: segments cover the cells of their radius-EXPANDED bbox (two
    * chained explodes — expansion, not line rasterization, because the
    * match region is a stadium around the segment, not the segment
    * itself); points map to their single cell; one equi-join on the cell.
    * Exact refinement: squared point-to-segment distance compared as
    * integers — the projection parameter t = dot/len2 picks endpoint vs
    * interior case, and the interior case cross-multiplies to
    * cross² ≤ r²·len2 (decimal(38) — cross ≲ 2^51 fits int64 under the
    * span contract, its square does not). Endpoint-inclusive throughout,
    * zero-length segments degrade to point distance via the dot ≤ 0
    * branch. Same candidate-density story as waysCrossJoin: callers
    * derive `level` from the segment count.
    */
  def snapToWays(points: DataFrame, segs: DataFrame, radiusFix: Long,
                 level: Int, maxSpanFix: Long): DataFrame =
    snapCandidates(points,
      snapSegCover(segs, radiusFix, level, maxSpanFix), radiusFix, level)
      // no distinct: a point maps to exactly ONE cell, so each (pid, seq)
      // candidate is tested exactly once — straight to the group-by
      .groupBy("pid", "way_id")
      .agg(count(lit(1)).as("n_segs"))

  /** The radius-expanded-bbox cell cover of a segment set (the static,
    * reusable half of the snap join — streaming callers persist it for
    * the life of the stream).
    */
  def snapSegCover(segs: DataFrame, radiusFix: Long, level: Int,
                   maxSpanFix: Long): DataFrame = {
    val r = lit(radiusFix)
    val local = segs.filter(
      abs(col("x1") - col("x0")) <= maxSpanFix &&
      abs(col("y1") - col("y0")) <= maxSpanFix)
    local
      .withColumn("cy0", Fns.cellY(least(col("y0"), col("y1")) - r, level))
      .withColumn("cy1", Fns.cellY(greatest(col("y0"), col("y1")) + r, level))
      .withColumn("cell_x", explode(sequence(
        Fns.cellX(least(col("x0"), col("x1")) - r, level),
        Fns.cellX(greatest(col("x0"), col("x1")) + r, level))))
      .withColumn("cell_y", explode(sequence(col("cy0"), col("cy1"))))
      .select(col("way_id"), col("seq"), col("cell_x"), col("cell_y"),
        col("x0"), col("y0"), col("x1"), col("y1"))
  }

  /** Per-segment snap hits (pid, way_id, seq): the cell equi-join plus the
    * exact distance refinement, against a prebuilt [[snapSegCover]].
    */
  def snapCandidates(points: DataFrame, segCells: DataFrame,
                     radiusFix: Long, level: Int): DataFrame = {
    val ptCells = points.select(col("pid"), col("x").as("px"), col("y").as("py"),
      Fns.cellX(col("x"), level).as("cell_x"), Fns.cellY(col("y"), level).as("cell_y"))
    val dx = col("x1") - col("x0")
    val dy = col("y1") - col("y0")
    val dt = (col("px") - col("x0")) * dx + (col("py") - col("y0")) * dy
    val len2 = dx * dx + dy * dy
    val r2 = lit(radiusFix * radiusFix)
    def dist2(x: Column, y: Column) =
      (col("px") - x) * (col("px") - x) + (col("py") - y) * (col("py") - y)
    val cross = dx * (col("py") - col("y0")) - dy * (col("px") - col("x0"))
    val dec = "decimal(38,0)"
    val within = when(dt <= 0, dist2(col("x0"), col("y0")) <= r2)
      .when(dt >= len2, dist2(col("x1"), col("y1")) <= r2)
      .otherwise(cross.cast(dec) * cross.cast(dec) <=
        r2.cast(dec) * len2.cast(dec))
    ptCells.join(segCells, Seq("cell_x", "cell_y"))
      .filter(within)
      .select(col("pid"), col("way_id"), col("seq"))
  }

  /** Raster→vector: connected components of occupied raster cells
    * (4-adjacency) emitted as per-component bboxes — the vectorization
    * direction of the north rule's raster↔vector tiling.
    *
    * Run compression: cells first collapse into maximal horizontal RUNS
    * (gaps-and-islands per row — `bx - row_number()` is constant along a
    * consecutive strip), keyed by the run's smallest cell key. Horizontal
    * adjacency is then within-run by construction, so the component graph
    * that feeds the components operator
    * ([[GraphOps.connectedComponents]]: adaptive pointer jumping,
    * O(3+log d) rounds) has ONE node per run, not per cell: a filled
    * w-cell row is a single node, blob diameters — and with them the
    * pointer-jump round count, the cost floor of the loop — shrink by the
    * mean run length, and every round's joins shuffle runs, not cells.
    * Vertical adjacency is one shifted self-equi-join on cell keys mapped
    * to run keys (deduplicated: overlapping runs touch along their whole
    * width). The per-row window partitions by `by` — bounded fan-in, a
    * row holds at most 2^level cells. Isolated runs become their own
    * components. Input (bx, by); output (component_id = smallest cell key
    * in the component, min/max bbox, n_cells) — run keys are min cell
    * keys, so component labels are identical to cell-graph labels.
    */
  def vectorizeRaster(cells: DataFrame,
                      scope: CacheScope = CacheScope.global): DataFrame = {
    // linear key (injective for any level <= 21): bx * 2^22 + by
    val rowW = Window.partitionBy("by").orderBy("bx")
    val c = scope.persist(cells
      .select(col("bx"), col("by"), (col("bx") * lit(4194304L) + col("by")).as("k"))
      .withColumn("grp", col("bx") - row_number().over(rowW))
      .withColumn("rk", min("k").over(Window.partitionBy("by", "grp")))
      .drop("grp"))
    // run keys embed `by` in the low bits, so runs in adjacent rows never
    // share a key — no self-edges to filter
    val edges = c.join(
        stamp(c.select(col("bx"), col("by"), col("rk").as("nrk")), "bx", "by",
          Seq((0, -1)), StampEdge.Keep),
        Seq("bx", "by"))
      .select(col("rk").as("src"), col("nrk").as("dst"))
      .distinct()
    val labels = GraphOps.connectedComponents(edges, scope)
    c.join(labels.withColumnRenamed("node_id", "rk"), Seq("rk"), "left")
      .withColumn("comp", coalesce(col("component"), col("rk")))
      .groupBy("comp")
      .agg(min("bx").as("min_bx"), min("by").as("min_by"),
        max("bx").as("max_bx"), max("by").as("max_by"),
        count(lit(1)).as("n_cells"))
      .select(col("comp").as("component_id"), col("min_bx"), col("min_by"),
        col("max_bx"), col("max_by"), col("n_cells"))
  }

  /** Z-order data layout: range-partition and locally sort by the
    * sentinel-bit Morton cell key, so spatially close rows land in the
    * same output files and row groups. This is the WRITE-side half of the
    * engine's locality story: cell-cover joins and per-cell aggregations
    * then read mostly-contiguous key ranges, and parquet min/max stats on
    * `zkey` prune whole files for bbox predicates (zkey range containment
    * is a plain integer interval per cell at any level — CellId's parent
    * is `>> 2`). repartitionByRange samples key quantiles, so the layout
    * stays balanced under arbitrary spatial skew — the hot-cell problem
    * moves from one reducer to one key RANGE split across writers.
    * Returns the laid-out frame (callers `.write.parquet(...)` it); the
    * partition contract (disjoint sorted zkey ranges) is spec-asserted.
    */
  def zorderLayout(points: DataFrame, level: Int, partitions: Int): DataFrame =
    points
      .withColumn("zkey", Fns.cellId(col("lon_fix"), col("lat_fix"), level))
      .repartitionByRange(partitions, col("zkey"))
      .sortWithinPartitions("zkey")

  /** Equirect density rendered to a grayscale PNG (the full nodedensity
    * pipeline, examples/nodedensity.cpp:16-86): distributed saturating
    * aggregation, then the raster-sized result renders on the driver.
    * y is flipped (the reference bins (90 - lat)); min/max clamp to gray
    * per the reference's formula.
    */
  def densityPng(points: DataFrame, level: Int,
                 min: Int = 0, max: Int = 99999): Array[Byte] = {
    val n = 1 << level
    val cells = equirectDensity(points, level).collect().iterator.map { r =>
      (r.getLong(0).toInt, n - 1 - r.getLong(1).toInt, r.getLong(2))
    }
    graft.core.Raster.grayPng(n, n, cells, min, max)
  }

  /** FindBbox (reference/include/osmium/handler/find_bbox.hpp:32-57). */
  def bbox(points: DataFrame): DataFrame =
    points.agg(
      min("lon_fix").as("min_lon"), min("lat_fix").as("min_lat"),
      max("lon_fix").as("max_lon"), max("lat_fix").as("max_lat"))

  /** Geofence transition detection: given an entity position track and
    * its polygon-membership rows, emit the enter/exit EVENTS — the
    * change-points of each (entity, polygon) membership timeline. This
    * is the alerting face of a PIP join (fleet/asset monitoring): the
    * membership snapshot says where everything is, the transitions say
    * what changed.
    *
    * Inputs: `track` (entity, ts, ...) one row per observed position;
    * `hits` (entity, ts, poly_id) the positions inside each polygon
    * (e.g. from [[pip]]). Output: (entity, ts, poly_id, kind)
    * with kind ∈ {enter, exit} at every membership flip (first
    * observation emits nothing — no prior state to compare).
    *
    * Scale posture: transitions are computed from the SPARSE hits alone
    * — the dense positions × touched-polys membership timeline is never
    * materialized. Observations get a per-entity rank; each (entity,
    * polygon)'s inside-ranks split into maximal runs by the classic
    * rank-minus-row_number grouping, and a run boundary IS a transition:
    * enter at the run's first rank (if a prior observation exists), exit
    * at the observation after its last (if one exists). Every stage is
    * linear in |track| + |hits| — rank window on entity, hits join on
    * (entity, ts), run window/agg on (entity, poly_id), event join back
    * on (entity, rank) — with no fanout term at all, so a surveillance
    * polygon corpus with high per-entity locality costs |hits|, not
    * positions × polys. `hits` rows must be distinct (a PIP join emits
    * each containment once).
    */
  /** Stay-point extraction: segment each entity's ordered trace (entity,
    * ts, x, y) into maximal runs where every consecutive STEP stays
    * within `radiusFix` (planar), and keep runs of at least `minPts`
    * observations — the dwell/visit detector of mobility mining (where
    * did the entity stop, for how long). Spatial-gap sessionization: the
    * same gaps-and-islands shape as time-gap sessions, with an exact
    * integer step predicate (dist² > r² breaks the run) instead of a
    * time threshold. One window partitioning (entity, ordered by ts)
    * carries both the lag and the running break-count — a single
    * shuffle+sort — then one group-by on (entity, run). Output: (entity,
    * start_ts, end_ts, n_pings, min_x, max_x, min_y, max_y).
    */
  def stayPoints(track: DataFrame, radiusFix: Long, minPts: Int): DataFrame = {
    val w = Window.partitionBy("entity").orderBy("ts")
    val px = lag(col("x"), 1).over(w)
    val py = lag(col("y"), 1).over(w)
    val move2 = (col("x") - px) * (col("x") - px) +
      (col("y") - py) * (col("y") - py)
    val brk = when(px.isNull || move2 > lit(radiusFix) * lit(radiusFix), 1L)
      .otherwise(0L)
    track
      .withColumn("brk", brk)
      .withColumn("run", sum(col("brk")).over(w))
      .groupBy(col("entity"), col("run"))
      .agg(min("ts").as("start_ts"), max("ts").as("end_ts"),
        count(lit(1)).as("n_pings"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .filter(col("n_pings") >= minPts)
      .select(col("entity"), col("start_ts"), col("end_ts"), col("n_pings"),
        col("min_x"), col("max_x"), col("min_y"), col("max_y"))
  }

  /** Origin–destination flow matrix over stay-points: consecutive stays
    * of an entity (ordered by start_ts) form one directed trip from the
    * earlier stay's grid cell to the later one's — the mobility-mining
    * rollup downstream of [[stayPoints]] (commute matrices, inter-region
    * flow maps). A stay's representative point is its bounding-box
    * center (floor halving — exact integer), assigned to a
    * `cellFix`-sized grid cell by floor division, so the matrix is
    * engine-exact. Output: (from_cx, from_cy, to_cx, to_cy, n_trips,
    * transit_sum) with transit_sum the total inter-stay gap
    * (to.start_ts − from.end_ts).
    *
    * Scale posture: the input is the already-aggregated stay table
    * (orders of magnitude smaller than the ping trace); one window
    * shuffle on entity pairs the stays, one map-combined groupBy builds
    * the matrix. Nothing re-touches the raw trace, and the matrix keyed
    * by cell pair is bounded by the grid, not the fleet.
    */
  def odMatrix(stays: DataFrame, cellFix: Long): DataFrame = {
    val w = Window.partitionBy("entity").orderBy("start_ts")
    val cx = Fns.idiv(Fns.idiv(col("min_x") + col("max_x"), 2L), cellFix)
    val cy = Fns.idiv(Fns.idiv(col("min_y") + col("max_y"), 2L), cellFix)
    stays
      .select(col("entity"), col("start_ts"), col("end_ts"),
        cx.as("cx"), cy.as("cy"))
      .select(col("entity"), col("start_ts"),
        lag(col("cx"), 1).over(w).as("from_cx"),
        lag(col("cy"), 1).over(w).as("from_cy"),
        lag(col("end_ts"), 1).over(w).as("from_end"),
        col("cx").as("to_cx"), col("cy").as("to_cy"))
      .filter(col("from_cx").isNotNull)
      .groupBy("from_cx", "from_cy", "to_cx", "to_cy")
      .agg(count(lit(1)).as("n_trips"),
        sum(col("start_ts") - col("from_end")).as("transit_sum"))
  }

  def geofenceTransitions(track: DataFrame, hits: DataFrame,
                          scope: CacheScope = CacheScope.global): DataFrame = {
    val wTr = Window.partitionBy("entity").orderBy("ts")
    // persisted (scope-released): the numbered track feeds the run join
    // AND the final timestamp join-back — uncached, the full-track window
    // shuffle runs twice
    val tr = scope.persist(track.select(col("entity"), col("ts"))
      .withColumn("rn", row_number().over(wTr))
      .withColumn("maxrn", count(lit(1)).over(Window.partitionBy("entity"))))
    val wRun = Window.partitionBy("entity", "poly_id").orderBy("rn")
    val runs = hits.join(tr, Seq("entity", "ts"))
      .withColumn("grp", col("rn") - row_number().over(wRun))
      .groupBy("entity", "poly_id", "grp", "maxrn")
      .agg(min("rn").as("srn"), max("rn").as("ern"))
    val enters = runs.filter(col("srn") > 1)
      .select(col("entity"), col("poly_id"), col("srn").as("rn"),
        lit("enter").as("kind"))
    val exits = runs.filter(col("ern") < col("maxrn"))
      .select(col("entity"), col("poly_id"), (col("ern") + 1).as("rn"),
        lit("exit").as("kind"))
    enters.unionByName(exits)
      .join(tr.select(col("entity"), col("ts"), col("rn")), Seq("entity", "rn"))
      .select(col("entity"), col("ts"), col("poly_id"), col("kind"))
  }

  /** Douglas-Peucker polyline simplification over a way-point table
    * (way_id, seq, x, y) — the generalization step of a vector-tile cut:
    * each way keeps the minimal point subset whose shape stays within
    * `tolFix` of the original (exact integer predicate — see
    * [[graft.plans.PolylineKernel.simplify]] for the split rule shared
    * with the oracle).
    *
    * Scale posture: ONE shuffle (groupBy way_id) builds each way's
    * ordered point array, then the recursive kernel runs inside
    * whole-stage codegen on the grouped row — per-way state never
    * crosses the wire twice and no iterative driver loop exists (DP
    * depth is per-way, bounded by the way's node count, which the OSM
    * data model caps at 2000). Output is the exploded kept points.
    */
  def simplifyWays(pts: DataFrame, tolFix: Long): DataFrame =
    pts.groupBy("way_id")
      .agg(sort_array(collect_list(struct(col("seq"), col("x"), col("y"))))
        .as("pts"))
      .select(col("way_id"),
        explode(graft.plans.GeomExpressions.simplifyPolyline(col("pts"), tolFix))
          .as("p"))
      .select(col("way_id"), col("p.seq").cast(pts.schema("seq").dataType).as("seq"),
        col("p.x").as("x"), col("p.y").as("y"))

  /** Flat-top hexagonal binning on fix coordinates (axial q/r cells,
    * circumradius `sizeFix`) — the H3-style hex aggregation surface of
    * the north rule. Hexes are the density-map cell of choice because
    * every neighbor shares an edge at the SAME center distance (a square
    * grid's diagonal neighbors are √2 farther), so smoothing and
    * hot-cell detection aren't axis-biased. The assignment is the
    * standard axial-projection + cube-rounding kernel (public algorithm;
    * see PAPERS.md hex-grid references): project to fractional axial
    * coords, round the three cube coordinates, and repair the one with
    * the largest rounding error so q+r+s stays 0.
    *
    * Exactness contract: the projection divides int64 fix coords by
    * `3·sizeFix`-scale doubles with a FIXED operation order replicated
    * literally in the SQL twin, so both engines compute identical IEEE754
    * doubles end-to-end (house pattern — same determinism class as the
    * mercator ln/tan tile math). Unlike the quad [[graft.core.CellId]],
    * hex cells do NOT nest across levels (aperture subdivision is
    * approximate in every hex system) — pyramid rollups stay on the quad
    * index; hexes are a leaf-level aggregation geometry.
    *
    * Scale posture: one map-side-combined hash aggregation on the
    * integer (hq, hr) key — the same single-shuffle shape as
    * [[tileDensity]]; skew on hot hexes falls to [[SkewOps]] salting
    * like any other integer-keyed count. Output (hq, hr, cnt).
    */
  def hexBin(points: DataFrame, sizeFix: Long): DataFrame = {
    val (hq, hr) = hexCell(col("lon_fix"), col("lat_fix"), sizeFix)
    points.select(hq.as("hq"), hr.as("hr"))
      .groupBy("hq", "hr")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Axial hex cell of one fix-coordinate point (see [[hexBin]]). The
    * operation ORDER here is the determinism contract with the SQL twin
    * — change both or neither.
    */
  private[graft] def hexCell(xFix: Column, yFix: Column,
                             sizeFix: Long): (Column, Column) = {
    val x = xFix.cast("double")
    val y = yFix.cast("double")
    val s = lit(sizeFix.toDouble)
    // sqrt(3)/3 as the exact double literal shared with the oracle
    val qf = x * lit(2.0) / lit(3.0) / s
    val rf = (x * lit(-1.0) / lit(3.0) + y * lit(0.5773502691896258)) / s
    val sf = -qf - rf
    val rx = round(qf)
    val ry = round(sf)
    val rz = round(rf)
    val dx = abs(rx - qf)
    val dy = abs(ry - sf)
    val dz = abs(rz - rf)
    val fixQ = dx > dy && dx > dz
    val hq = when(fixQ, -ry - rz).otherwise(rx).cast("long")
    val hr = when(!fixQ && dz > dy, -rx - ry).otherwise(rz).cast("long")
    (hq, hr)
  }

  /** Tile density normalized by TRUE spherical tile area — the
    * mercator-distortion correction a tile heatmap needs before
    * comparing counts across latitudes (a z7 tile at 60°N covers ~1/4
    * the ground area of an equatorial one, so raw per-tile counts
    * overstate high-latitude density 4×).
    *
    * The area is EXACT on the sphere (reference earth radius,
    * haversine.hpp:43-57): a web-mercator tile is a lon-lat rectangle,
    * and the area between parallels is R²·Δλ·(sin φ_top − sin φ_bot)
    * with sin φ(ty) = tanh(π·(1 − 2·ty/2^z)) — the gudermannian
    * collapses to one tanh, written as its exp form in BOTH engines so
    * no libm tanh variance enters. area_m2 is rounded to integer m²
    * FIRST and the density ratio divides the already-integer area, so
    * the only cross-engine float surface is exp() on 2^z distinct
    * values (house determinism class: the mercator ln/tan tile math).
    *
    * Scale posture: [[tileDensity]]'s single shuffle plus a per-row
    * closed-form area expression — the area is a function of (z, ty),
    * no join, no lookup table to broadcast. Output
    * (tx, ty, cnt, area_m2, per_km2_e3 = round(cnt·10^9 / area_m2)).
    */
  def tileGeodesicDensity(points: DataFrame, z: Int): DataFrame = {
    val n = (1L << z).toDouble
    val r = 6372797.560856
    // sin(lat(ty)) = tanh(pi * (1 - 2*ty/n)) via exp, fixed op order
    def sinLat(ty: Column): Column = {
      val t = (lit(1.0) - ty.cast("double") * lit(2.0) / lit(n)) * lit(math.Pi)
      val e = exp(t * lit(2.0))
      (e - lit(1.0)) / (e + lit(1.0))
    }
    val bandScale = lit(r * r * 2.0 * math.Pi / n)
    tileDensity(points, z)
      .withColumn("area_m2",
        round(bandScale * (sinLat(col("ty")) - sinLat(col("ty") + lit(1))))
          .cast("long"))
      .withColumn("per_km2_e3",
        round(col("cnt").cast("double") * lit(1.0e9) /
          col("area_m2").cast("double")).cast("long"))
  }

  /** Fixed-round Lloyd k-means over fix coordinates — the grid-free
    * clustering companion to [[dbscanGeo]] (k-means finds K compact
    * centers; DBSCAN finds density shapes): `rounds` iterations of
    * assign-to-nearest (squared distance in double — see the in-code
    * note — with ties to the smallest centroid id) and centroid update
    * to the FLOOR mean. Clusters that go empty keep their previous
    * centroid (both engines).
    *
    * Exactness: coordinates are SHIFTED to the nonnegative fix domain
    * before summing, so every per-cluster sum stays below 2⁵³ for up to
    * ~2.5M points per cluster and the floor mean is one exact integer
    * division — deterministic rounds, no float centroids (the classic
    * k-means nondeterminism is gone because nothing depends on row
    * order). At 10¹²-row scale the update sums need decimal(38,0) —
    * documented contract, same switch as moranI's combination step.
    *
    * Scale posture — the MLlib shape: the K centroids live on the
    * DRIVER between rounds (K rows per round collected — a documented
    * eager probe, like the quantizer builds), so assignment is a pure
    * map stage over a K-term literal argmin expression — the corpus is
    * NEVER shuffled; the only exchange per round is the K-group
    * partial-aggregated groupBy(cid). `rounds` is a FIXED hyperparameter
    * (the oracle unrolls the same rounds as CTE stages), so the driver
    * loop is bounded, not convergence-dependent.
    *
    * Input points (pid, lon_fix, lat_fix); cents0 (cid, x, y) in the
    * SHIFTED domain. Output (cid, cx, cy, n) in lon/lat fix units.
    */
  def kmeans(points: DataFrame, cents0: DataFrame, rounds: Int,
             scope: CacheScope = CacheScope.global): DataFrame = {
    val sess = points.sparkSession
    import sess.implicits._
    def fdiv(a: Column, b: Column): Column = ((a - pmod(a, b)) / b).cast("long")
    // persisted: every Lloyd round re-scans the shifted point set — an
    // unpersisted upstream (scan + distinct) would re-execute per round
    val pts = scope.persist(points.select(
      (col("lon_fix") + lit(1800000000L)).as("sx"),
      (col("lat_fix") + lit(900000000L)).as("sy")))
    var cents: Seq[(Long, Long, Long)] = cents0
      .select(col("cid").cast("long"), col("x").cast("long"), col("y").cast("long"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    var counts: Map[Long, Long] = Map.empty
    for (_ <- 1 to rounds) {
      // argmin metric in DOUBLE: full-domain deltas square past int64
      // (3.6e9² > 2⁶³); doubles of exact ≤2^53 deltas multiply/add
      // correctly-rounded IDENTICALLY in both engines, and the (d2, cid)
      // tie-break absorbs any equal-rounded pair deterministically
      val terms = cents.map { case (cid, x, y) =>
        val dx = (col("sx") - lit(x)).cast("double")
        val dy = (col("sy") - lit(y)).cast("double")
        struct((dx * dx + dy * dy).as("d2"), lit(cid).as("cid"))
      }
      val upd = pts
        .select(col("sx"), col("sy"), least(terms: _*).getField("cid").as("cid"))
        .groupBy("cid")
        .agg(fdiv(sum("sx"), count(lit(1))).as("nx"),
          fdiv(sum("sy"), count(lit(1))).as("ny"),
          count(lit(1)).as("n"))
        .as[(Long, Long, Long, Long)].collect()
        .map { case (cid, nx, ny, n) => cid -> (nx, ny, n) }.toMap
      counts = upd.map { case (cid, v) => cid -> v._3 }
      cents = cents.map { case (cid, x, y) =>
        upd.get(cid).map(u => (cid, u._1, u._2)).getOrElse((cid, x, y))
      }
    }
    cents.map { case (cid, x, y) =>
      (cid, x - 1800000000L, y - 900000000L, counts.getOrElse(cid, 0L))
    }.toDF("cid", "cx", "cy", "n")
  }

  /** TRUE spherical polygon area (the lon-sum spherical-excess form,
    * areaₛ = |Σᵢ (λᵢ₊₁ − λᵢ)·(2 + sin φᵢ + sin φᵢ₊₁)|·R²/2) of a closed
    * fix-coordinate ring given as vertex arrays — the geodesic companion
    * of the exact planar shoelace (plans.GeomExpressions.ringArea2):
    * planar fix² areas compare shapes, but "how many km² does this
    * polygon actually cover" needs the sphere (a fixed fix² area is ~37%
    * smaller in ground km² at 60° latitude than at the equator).
    *
    * Determinism: the n-term sum is built in FIXED vertex order by a
    * left-assoc reduce and the SQL twin writes the same n terms in the
    * same order, so both engines evaluate an identical double expression
    * tree (house class: the mercator ln/tan precedent); the result
    * rounds to integer m². Per-row closed form — no join, no shuffle,
    * whole-stage codegen.
    */
  def sphericalRingArea(xs: Column, ys: Column, n: Int): Column = {
    val degToRad = lit(0.017453292519943295769236907684886)
    val r = 6372797.560856
    def lam(i: Int) = element_at(xs, i % n + 1).cast("double") / lit(1.0e7) * degToRad
    def sinPhi(i: Int) =
      sin(element_at(ys, i % n + 1).cast("double") / lit(1.0e7) * degToRad)
    val terms = (0 until n).map(i =>
      (lam(i + 1) - lam(i)) * (lit(2.0) + sinPhi(i) + sinPhi(i + 1)))
    round(abs(terms.reduceLeft(_ + _)) * lit(r * r / 2.0)).cast("long")
  }

  /** HMM map matching (Viterbi) — "which road was this noisy GPS track
    * on": per track, the minimum-cost assignment of one candidate road
    * node per observation, where cost = Σ emission (squared obs→candidate
    * distance) + Σ transition (squared jump between consecutive
    * candidates, plus `switchPenalty` whenever the way changes). This is
    * the Newson-Krakauer HMM shape with closest-node states and
    * euclidean transitions (route-distance transitions need a router —
    * out of scope by contract).
    *
    * Input `cands`: (entity, tidx, cx, cy, way, emis) — the PRE-JOINED
    * candidate set (callers bound it: radius cell-join + top-K per
    * observation, so |states| per step is O(K)). Observations with no
    * candidate are simply absent and the DP runs over the tidx levels
    * that exist, in order.
    *
    * Exactness: every cost is exact int64 (squared fix distances +
    * integer penalties) — the DuckDB twin brute-force-ENUMERATES all
    * candidate paths with a recursive CTE and takes the min, so oracle
    * agreement proves the DP against an exponential-formulation oracle,
    * not against itself.
    *
    * Scale posture: ONE shuffle (groupByKey on entity); per track the DP
    * is Σ_t |C_t|·|C_{t−1}| — linear in track length with K-bounded
    * candidate sets, the textbook Viterbi bound. This is the
    * flatMapGroups tier of the operator hierarchy (inherently procedural
    * per group, like ring assembly) — state never crosses the wire and
    * no driver loop exists. Output (entity, n_obs, best_cost).
    */
  def hmmMapMatch(cands: DataFrame, switchPenalty: Long): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands
      .select(col("entity").cast("long"), col("tidx").cast("int"),
        col("cx").cast("long"), col("cy").cast("long"),
        col("way").cast("long"), col("emis").cast("long"))
      .as[(Long, Int, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (e, it) =>
        val levels = it.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
          .map(_._2.toIndexedSeq)
        var cur = levels.head.map(c => (c, c._6))
        for (lvl <- levels.tail) {
          val prev = cur
          cur = lvl.map { c =>
            val best = prev.iterator.map { case (p, pc) =>
              val dx = c._3 - p._3; val dy = c._4 - p._4
              pc + dx * dx + dy * dy +
                (if (c._5 == p._5) 0L else switchPenalty)
            }.min
            (c, best + c._6)
          }
        }
        Iterator.single((e, levels.size.toLong, cur.map(_._2).min))
      }
      .toDF("entity", "n_obs", "best_cost")
  }

  /** Per-way sinuosity and net bearing — the route-shape descriptors of
    * road/track quality analysis: sinuosity = path length over
    * straight-line (great-circle) distance between endpoints (1.0 =
    * straight, ≫1 = winding), bearing = initial great-circle azimuth
    * from first to last vertex.
    *
    * Exactness: each haversine segment rounds to integer MILLIMETERS
    * before the per-way sum, so the sum is exact-integer (no
    * accumulation-order float drift — stricter than rounding the sum)
    * and sinuosity_e3 is one integer floor division. The bearing is a
    * single per-row atan2 expression in (−180°, 180°], rounded to
    * micro-degrees.
    *
    * Scale posture: one window pass (hash shuffle on way_id + sort — the
    * same single exchange every ordered-way op here shares) feeding one
    * map-side-combined aggregation. Input (way_id, seq, lon, lat) degree
    * coords; output (way_id, len_mm, straight_mm, sinuosity_e3,
    * bearing_e6, n_segs); ways whose endpoints coincide
    * (straight_mm = 0) are dropped — sinuosity is undefined for loops,
    * which [[graft.operators.AssemblyOps]] handles as rings instead.
    */
  def waySinuosity(pts: DataFrame): DataFrame = {
    val w = Window.partitionBy("way_id").orderBy("seq")
    val segMm = round(Fns.haversineMeters(col("lon"), col("lat"),
      lag(col("lon"), 1).over(w), lag(col("lat"), 1).over(w)) * lit(1000.0))
      .cast("long")
    val agg = pts
      .select(col("way_id"), col("seq"), col("lon"), col("lat"),
        segMm.as("seg_mm"))
      .groupBy("way_id")
      .agg(sum("seg_mm").as("len_mm"), count(col("seg_mm")).as("n_segs"),
        min(struct(col("seq"), col("lon"), col("lat"))).as("a"),
        max(struct(col("seq"), col("lon"), col("lat"))).as("b"))
      .filter(col("n_segs") >= 1)
    val degToRad = lit(0.017453292519943295769236907684886)
    val (lon1, lat1) = (col("a.lon") * degToRad, col("a.lat") * degToRad)
    val (lon2, lat2) = (col("b.lon") * degToRad, col("b.lat") * degToRad)
    val theta = atan2(
      sin(lon2 - lon1) * cos(lat2),
      cos(lat1) * sin(lat2) - sin(lat1) * cos(lat2) * cos(lon2 - lon1))
    val straightMm = round(Fns.haversineMeters(col("a.lon"), col("a.lat"),
      col("b.lon"), col("b.lat")) * lit(1000.0)).cast("long")
    agg
      .withColumn("straight_mm", straightMm)
      .filter(col("straight_mm") > 0)
      .select(col("way_id"), col("len_mm"), col("straight_mm"),
        ((col("len_mm") * lit(1000L) -
          pmod(col("len_mm") * lit(1000L), col("straight_mm"))) /
          col("straight_mm")).cast("long").as("sinuosity_e3"),
        round(degrees(theta) * lit(1.0e6)).cast("long").as("bearing_e6"),
        col("n_segs"))
  }

  /** Inverse-distance-weighted (IDW, power 2) interpolation of a scattered
    * integer observation field onto the occupied-cell grid — the
    * scatter-to-raster estimation step ("what's the expected value HERE")
    * between pure binning ([[equirectDensity]]) and kNN regression.
    * Each occupied cell's center is estimated from the observations in
    * its 3×3 cell neighborhood: est = Σ v·w / Σ w with w = 1/d².
    *
    * Exactness: weights are INTEGER quotients w = ⌊10¹⁵/(d² + 10¹²)⌋ of
    * exact int64 squared fix distances (the +10¹² softening — 0.1° —
    * caps w at 1000, which keeps every partial sum below 2⁵³ so even the
    * floor divisions are exact in both engines), and the estimate is one
    * integer division est_e3 = ⌊1000·Σvw / Σw⌋ — no float accumulation
    * anywhere, so engine results are bit-equal regardless of aggregation
    * order (the house rule that keeps every oracle hash-comparable).
    *
    * Scale posture: a 9× scatter explode of the observations feeding
    * ONE map-side-combined groupBy — the target cell's center is a pure
    * function of its (bx, by), so the per-contribution weight computes
    * INLINE and the partial aggregation collapses the 9× fanout to
    * ~|occupied cells| rows BEFORE the only wide shuffle; the occupancy
    * gate (estimates exist only where an observation actually lies) is
    * then a cell-set-sized semi-join, never a row-scale join. The
    * scatter is the bounded-fanout [[stamp]]; per-cell work is
    * the 3×3 neighborhood's observation count, kept O(1) by deriving
    * `level` from the corpus size (callers use the q_vectorize scheme).
    * Input (x, y, v) fix-coord observations; output
    * (bx, by, n_obs, est_e3).
    */
  def idwGrid(obs: DataFrame, level: Int): DataFrame = {
    val g = 1L << level
    val cellW = 3600000000L / g
    val cellH = 1800000000L / g
    val binned = obs.select(Fns.cellX(col("x"), level).as("bx"),
      Fns.cellY(col("y"), level).as("by"), col("x"), col("y"), col("v"))
    val occupied = binned.select("bx", "by").distinct()
    val scattered = stamp(binned, "bx", "by", square(1), StampEdge.Keep)
    // exact floor division of nonnegative int64 columns (pmod keeps the
    // quotient an exact multiple, so the final double division is exact)
    def fdiv(a: Column, b: Column): Column = ((a - pmod(a, b)) / b).cast("long")
    // target-cell center fix coords, inline (floor midpoint — integer,
    // twin-exact; identical to the former cell-frame derivation)
    val qx = col("bx") * lit(cellW) - lit(1800000000L) + lit(cellW / 2)
    val qy = col("by") * lit(cellH) - lit(900000000L) + lit(cellH / 2)
    val d2 = (qx - col("x")) * (qx - col("x")) +
      (qy - col("y")) * (qy - col("y"))
    val w = fdiv(lit(1000000000000000L), d2 + lit(1000000000000L))
    scattered
      .select(col("bx"), col("by"), w.as("w"), (col("v") * w).as("vw"))
      .groupBy("bx", "by")
      .agg(count(lit(1)).as("n_obs"), sum("w").as("sw"), sum("vw").as("svw"))
      .join(occupied, Seq("bx", "by"), "left_semi")
      .select(col("bx"), col("by"), col("n_obs"),
        fdiv(col("svw") * lit(1000L), col("sw")).as("est_e3"))
  }

  /** Symmetric Hausdorff distance between candidate way pairs — the
    * polyline-similarity join of map conflation ("is this track the same
    * road?"): H(A,B) = max(h(A→B), h(B→A)) with h the directed
    * max-over-a of min-over-b point distance. Distances are int64
    * SQUARED fix-unit euclid — exact integers end-to-end, so the oracle
    * compares bit-for-bit (the flat metric is the documented contract at
    * candidate ranges ≪ 1°; geodesic callers go through
    * [[SpatialOps.KnnMetric.Geo]] instead).
    *
    * Candidate generation is the scale story: ways equi-join on the
    * `level` grid cell of their anchor point (the min-seq vertex — a
    * deterministic representative), so only co-located ways ever pair,
    * and a per-cell cap (`maxCellWays`, the MaxBandBucket pattern from
    * [[DedupOps.minHashLshPairs]]) bounds the worst cell: a degenerate
    * pile-up of s anchors emits 0 pairs past the cap, never s²/2. Per
    * pair the kernel is |A|·|B| point products — bounded by the data
    * model's way-length cap, not the corpus. One shuffle builds anchor
    * cells, one equi-join pairs them, one join lands the exploded
    * points; no broadcast of either way side.
    *
    * Input: (way_id, seq, x, y). Output (way_a, way_b, haus_sq) for
    * pairs with H² ≤ maxSqDist.
    */
  def hausdorffPairs(pts: DataFrame, level: Int, maxSqDist: Long,
                     maxCellWays: Int = 64): DataFrame = {
    val anchors = pts.groupBy("way_id")
      .agg(min(struct(col("seq"), col("x"), col("y"))).as("a"))
      .select(col("way_id"),
        Fns.cellX(col("a.x"), level).as("cx"),
        Fns.cellY(col("a.y"), level).as("cy"))
    val capped = anchors
      .withColumn("n_cell", count(lit(1)).over(Window.partitionBy("cx", "cy")))
      .filter(col("n_cell") <= maxCellWays)
      .drop("n_cell")
    val pairs = capped.select(col("way_id").as("way_a"), col("cx"), col("cy"))
      .join(capped.select(col("way_id").as("way_b"), col("cx"), col("cy")),
        Seq("cx", "cy"))
      .filter(col("way_a") < col("way_b"))
      .select("way_a", "way_b")
    val pa = pts.select(col("way_id").as("way_a"), col("seq").as("sa"),
      col("x").as("xa"), col("y").as("ya"))
    val pb = pts.select(col("way_id").as("way_b"), col("seq").as("sb"),
      col("x").as("xb"), col("y").as("yb"))
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    val cross = pairs.join(pa, "way_a").join(pb, "way_b")
      .select(col("way_a"), col("way_b"), col("sa"), col("sb"), d2.as("d2"))
    // directed h(A->B): per (pair, a-point) min over b, then max; the
    // symmetric H is the max of both directions. BOTH directions ride ONE
    // aggregation chain: each cross row is tagged with its a-side point
    // (even code 2·sa) and its b-side point (odd code 2·sb+1), so the
    // per-(pair, tagged-point) min yields every directed per-point min in
    // one pass and the outer max over the codes is H². The former
    // two-branch union re-executed the |pairs|·|A|·|B| join per branch.
    cross.select(col("way_a"), col("way_b"), col("d2"),
        explode(array(col("sa") * 2, col("sb") * 2 + 1)).as("ds"))
      .groupBy("way_a", "way_b", "ds").agg(min("d2").as("mind"))
      .groupBy("way_a", "way_b").agg(max("mind").as("haus_sq"))
      .filter(col("haus_sq") <= maxSqDist)
  }

  /** Hilbert-curve cell density at `order` (2^order x 2^order equirect
    * grid): the locality-preserving layout key next to the z-order/morton
    * family (LayoutOps z-order, quadkey, geohash). `bucket` is the top
    * (2*order - bucketShift) bits of the index — a contiguous RANGE of the
    * curve, i.e. a compact spatial blob, which is exactly what a
    * range-partitioned file layout assigns to one output file. The encode
    * is the native codegen'd core.CellId.hilbert over exact integer grid bins —
    * a zero-shuffle map stage; the density groupBy is the only exchange.
    */
  def hilbertDensity(points: DataFrame, order: Int, bucketShift: Int): DataFrame = {
    require(order >= 1 && order <= 16 && bucketShift >= 0 && bucketShift < 2 * order)
    points.select(shiftright(
        graft.plans.GeomExpressions.hilbertIndex(
          Fns.cellX(col("lon_fix"), order), Fns.cellY(col("lat_fix"), order),
          order), bucketShift).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Adaptive quadtree tiling: subdivide the world until every tile
    * holds ≤ `cap` points (or bottoms out at `maxLevel`) and emit the
    * LEAF tiles with their counts — variable-resolution binning (dense
    * cities get fine tiles, oceans one coarse tile), the adaptive
    * alternative to the fixed-level density rasters. Leaf rule: a tile
    * is a leaf iff its parent exceeds the cap (subdivision happened)
    * while it either fits the cap or cannot subdivide further
    * (maxLevel); the root is a leaf iff the whole set fits.
    *
    * Scale posture: ONE ancestor-explode groupBy gives every level's
    * counts in a single map-combined shuffle (bin nesting:
    * cellX(·, lv) div 2 = cellX(·, lv−1), clamp included, so the
    * per-level rollup chain and direct binning agree bit-for-bit), and
    * the leaf gate is one child-vs-parent self-join of that combined
    * pyramid — two shuffles total instead of `maxLevel` rollup rounds
    * plus per-level gate joins. The exploded frame is (maxLevel+1)·n
    * rows BEFORE partial aggregation and ≤ Σ 4^lv AFTER; the pyramid is
    * persisted for its two uses and scope-released.
    * Output: (lv, bx, by, cnt).
    */
  def quadtreeLeaves(points: DataFrame, maxLevel: Int, cap: Long,
                     scope: CacheScope = CacheScope.global): DataFrame = {
    val pc = scope.persist(points.select(
        Fns.cellX(col("lon_fix"), maxLevel).as("fx"),
        Fns.cellY(col("lat_fix"), maxLevel).as("fy"))
      .select(explode(expr(
        s"transform(sequence(0, $maxLevel), l -> struct(" +
          s"CAST(l AS BIGINT) AS lv, shiftright(fx, $maxLevel - l) AS bx, " +
          s"shiftright(fy, $maxLevel - l) AS by))")).as("c"))
      .groupBy(col("c.lv").as("lv"), col("c.bx").as("bx"),
        col("c.by").as("by"))
      .agg(count(lit(1)).as("cnt")))
    val upper = pc
      .filter(col("lv") >= 1 &&
        (col("lv") === maxLevel || col("cnt") <= cap))
      .select(col("lv"), col("bx"), col("by"), col("cnt"),
        (col("lv") - 1L).as("plv"), expr("bx div 2").as("pbx"),
        expr("by div 2").as("pby"))
      .join(pc.select(col("lv").as("plv"), col("bx").as("pbx"),
          col("by").as("pby"), col("cnt").as("pcnt")).filter(col("pcnt") > cap),
        Seq("plv", "pbx", "pby"))
      .select(col("lv"), col("bx"), col("by"), col("cnt"))
    val root = pc.filter(col("lv") === 0 && col("cnt") <= cap)
      .select(col("lv"), col("bx"), col("by"), col("cnt"))
    upper.unionByName(root)
  }

  /** Polygon contact matrix from rasterized footprints: for every
    * UNORDERED polygon pair, `n_border` = 4-adjacent cell pairs with one
    * cell from each (shared-border length in cell-edges) and `n_shared`
    * = cells both footprints cover (overlap contact) — the neighbor
    * graph of an admin-area layer. Each geometric cell edge is examined
    * once (right + down shifted joins); shared cells once (pa < pb).
    *
    * Scale posture: three equi-joins of the cell table against itself
    * (shuffle on cell keys) and one pair groupBy — Θ(cells · per-cell
    * occupancy), never polygons².
    */
  def polygonAdjacency(cells: DataFrame,
                       scope: CacheScope = CacheScope.global): DataFrame = {
    // persisted (scope-released): both sides of the edge-key join read
    // this frame — uncached, the upstream rasterize (explode + ray-cast
    // per cell) runs once per side
    val c = scope.persist(
      cells.select(col("poly_id"), col("cell_x"), col("cell_y")))
    // ONE equi-join carries all three contact types through a composite
    // edge key (t, kx, ky): t=0 keys the VERTICAL edge between (x,y) and
    // (x+1,y) — the left cell emits it verbatim, the right cell shifted
    // — t=1 the horizontal edge likewise, t=2 the cell itself for shared
    // coverage. The former three self-joins (six exchanges of the cell
    // table) collapse into two exchanges + one pair groupBy; per-key
    // bucket size is still per-cell occupancy, never polygons².
    def side(name: String, dx: Int, dy: Int) = c.select(explode(array(
        struct(lit(0L).as("t"), (col("cell_x") + dx).as("kx"),
          col("cell_y").as("ky")),
        struct(lit(1L).as("t"), col("cell_x").as("kx"),
          (col("cell_y") + dy).as("ky")),
        struct(lit(2L).as("t"), col("cell_x").as("kx"),
          col("cell_y").as("ky")))).as("k"),
      col("poly_id").as(name))
      .select(col("k.t").as("t"), col("k.kx").as("kx"),
        col("k.ky").as("ky"), col(name))
    side("pa", 0, 0).join(side("pb", -1, -1), Seq("t", "kx", "ky"))
      .filter((col("t") === 2 && col("pa") < col("pb")) ||
        (col("t") =!= 2 && col("pa") =!= col("pb")))
      .select(least(col("pa"), col("pb")).as("poly_a"),
        greatest(col("pa"), col("pb")).as("poly_b"),
        when(col("t") === 2, 0L).otherwise(1L).as("is_border"))
      .groupBy("poly_a", "poly_b")
      .agg(sum(col("is_border")).as("n_border"),
        sum(lit(1L) - col("is_border")).as("n_shared"))
  }

  /** Isochrone rings over the occupancy grid: minimum number of
    * 4-adjacent steps THROUGH OCCUPIED CELLS from any seed cell, capped
    * at `maxHops` — the reachability analog of [[distanceTransform]]
    * (which measures straight-line cell distance and ignores
    * connectivity: an unoccupied gap blocks an isochrone but not the
    * transform). The drive-time-ring shape of road-network analysis,
    * on the raster approximation.
    *
    * Scale posture: delegates to [[GraphOps.hopDistance]]'s frontier BFS
    * over the occupied-cell adjacency list (one 4-neighbor [[stamp]] and
    * one equi-join — Θ(occupied cells), bounded rounds). Output:
    * (bx, by, hops).
    */
  def isochrone(occ: DataFrame, seeds: DataFrame, level: Int,
                maxHops: Int,
                scope: CacheScope = CacheScope.global): DataFrame = {
    val g = 1L << level
    // persisted: the cell frame feeds both sides of the adjacency join
    // plus the seed gate — uncached, the upstream density raster would
    // re-execute per consumer
    val cells = scope.persist(occ.select(col("bx"), col("by"),
      (col("bx") * g + col("by")).as("cid")))
    // all four 4-neighbor shifts through ONE stamp + ONE equi-join
    // (same edge set as four per-shift joins, one shuffle instead of four)
    val edges = stamp(cells.select(col("bx"), col("by"), col("cid").as("dst")),
        "bx", "by", rook, StampEdge.Keep)
      .join(cells.select(col("bx"), col("by"), col("cid").as("src")),
        Seq("bx", "by"))
      .select(col("src"), col("dst"))
    val seedIds = seeds.select((col("bx") * g + col("by")).as("cid"))
      .join(cells.select("cid"), "cid") // seeds must be occupied
      .select(col("cid").as("node_id"))
    GraphOps.hopDistance(edges, seedIds, maxHops)
      .select(expr(s"node_id div ${g}L").as("bx"),
        pmod(col("node_id"), lit(g)).as("by"), col("hops"))
  }

  /** Pole of inaccessibility per polygon footprint (label placement):
    * the footprint cell maximally far (Chebyshev) from the footprint's
    * BOUNDARY cells — where a renderer drops the polygon's name, the
    * raster analog of polylabel. Boundary = footprint cells missing at
    * least one 4-neighbor (counted by stamping each cell's neighbors and
    * aggregating — no per-cell neighborhood probe join); interior
    * distances by a per-polygon cells×boundary pairwise min (bounded by
    * the footprint size, which is a few hundred cells for admin-scale
    * polygons at the label-resolution raster — never corpus-wide).
    * Ties: smallest (cell_x, cell_y), via one struct-max with negated
    * tiebreak components. Output: (poly_id, lx, ly, dist).
    */
  def poleOfInaccessibility(cells: DataFrame): DataFrame = {
    val c = cells.select(col("poly_id"), col("cell_x"), col("cell_y"))
    val stamps = stamp(c, "cell_x", "cell_y", rook, StampEdge.Keep)
      .groupBy("poly_id", "cell_x", "cell_y").agg(count(lit(1)).as("nn"))
    val boundary = c.join(stamps, Seq("poly_id", "cell_x", "cell_y"), "left")
      .filter(coalesce(col("nn"), lit(0L)) < 4)
      .select(col("poly_id"), col("cell_x").as("bxx"), col("cell_y").as("byy"))
    c.join(boundary, "poly_id")
      .select(col("poly_id"), col("cell_x"), col("cell_y"),
        greatest(abs(col("cell_x") - col("bxx")),
          abs(col("cell_y") - col("byy"))).as("d"))
      .groupBy("poly_id", "cell_x", "cell_y").agg(min(col("d")).as("dist"))
      .groupBy("poly_id")
      .agg(max(struct(col("dist"), (-col("cell_x")).as("nx"),
        (-col("cell_y")).as("ny"), col("cell_x").as("x"),
        col("cell_y").as("y"))).as("m"))
      .select(col("poly_id"), col("m.x").as("lx"), col("m.y").as("ly"),
        col("m.dist").as("dist"))
  }

  /** Chebyshev distance transform of an occupancy raster, capped at `k`
    * (the proximity-to-data field: "how far is every cell from the
    * nearest populated cell" — coverage-gap maps, edge-feathered
    * renders). Each occupied cell stamps its (2k+1)² halo with the
    * Chebyshev distance of the offset; a min-aggregation per target cell
    * yields the transform. Exact integers end-to-end; cells farther than
    * k are absent (the cap bounds the fanout).
    *
    * Scale posture: one constant-fanout [[stamp]] per occupied cell into
    * ONE map-side-combinable min groupBy — no
    * joins, no iteration; cost is Θ(occupied · (2k+1)²).
    */
  def distanceTransform(occ: DataFrame, level: Int, k: Int): DataFrame =
    stamp(occ.select("bx", "by"), "bx", "by", square(k), StampEdge.Drop(level))
      .select(col("bx").as("gx"), col("by").as("gy"),
        greatest(abs(col("dx")), abs(col("dy"))).cast("long").as("d"))
      .groupBy("gx", "gy").agg(min(col("d")).as("dist"))

  /** Raster region labeling: 4-connected components of an occupancy mask
    * with per-region size and bbox — the raster-space dissolve (which
    * rasterized polygons merge into contiguous blobs; which land-cover
    * patches touch). Component label = the smallest cell id (bx·2^level
    * + by) reachable through occupied 4-neighbors.
    *
    * Scale posture: neighbor edges come from ONE equi-join of the mask
    * against its left + down [[stamp]] (a 2× fan-out, one candidate pair
    * per adjacent pair); labels via
    * [[GraphOps.connectedComponents]]'s adaptive pointer-jumping loop
    * (O(log d) rounds); isolated cells self-label through the left join.
    * One final rollup shuffle.
    */
  def regionLabels(occ: DataFrame, level: Int): DataFrame = {
    val g = 1L << level
    val cells = occ.select(col("bx"), col("by"),
      (col("bx") * g + col("by")).as("cid"))
    val edges = stamp(cells.select(col("bx"), col("by"), col("cid").as("dst")),
        "bx", "by", Seq((-1, 0), (0, -1)), StampEdge.Keep)
      .join(cells, Seq("bx", "by"))
      .select(col("cid").as("src"), col("dst"))
    val comp = GraphOps.connectedComponents(edges)
    cells.join(comp, cells("cid") === comp("node_id"), "left")
      .select(col("bx"), col("by"),
        coalesce(col("component"), col("cid")).as("region"))
      .groupBy("region")
      .agg(count(lit(1)).as("n_cells"),
        min("bx").as("minx"), max("bx").as("maxx"),
        min("by").as("miny"), max("by").as("maxy"))
  }

  /** File-skipping effectiveness audit of a Hilbert-clustered layout —
    * the "did my clustering actually buy scan pruning" diagnostic run
    * before committing a 100 TB rewrite: points get their Hilbert key,
    * are cut into `files` EQUAL-COUNT files in curve order (exact
    * rank-based cuts via the distributed renumber — the same layout a
    * curve-ordered writer produces), each file records its (gx, gy)
    * min/max footer stats, and every probe rectangle reports how many
    * files its bbox predicate would touch (`files_read`) vs the rows it
    * actually matches (`rows_matched`). Locality quality = few files
    * read per probe despite equal file sizes.
    *
    * Input probes: (probe_id, x0, x1, y0, y1) in grid coordinates.
    * Output: (probe_id, files_read, rows_matched).
    *
    * Scale posture: the Hilbert encode is a zero-shuffle codegen map;
    * ranking is renumber's parallel range-sort; footer stats are one
    * 64-row agg; both probe joins broadcast the tiny probe list against
    * stats (64 rows) and the point scan (one linear pass) — exactly the
    * shape a real footer-pruning audit runs at.
    */
  def clusterSkipStats(points: DataFrame, order: Int, files: Int,
                       probes: DataFrame,
                       scope: CacheScope = CacheScope.global): DataFrame = {
    // persisted (scope-released): pts feeds the file-cut count probe AND
    // the Hilbert keying; the renumbered file table feeds the footer
    // stats AND the row-match join — uncached, the scan runs twice and
    // the range-sort + zipWithIndex chain re-executes per consumer
    val pts = scope.persist(points.select("pid", "lon_fix", "lat_fix"))
    val n = pts.count()
    val keyed = pts.select(col("pid"),
        Fns.cellX(col("lon_fix"), order).as("gx"),
        Fns.cellY(col("lat_fix"), order).as("gy"))
      .withColumn("hk", graft.plans.GeomExpressions.hilbertIndex(
        col("gx"), col("gy"), order))
    val withFile = scope.persist(IdOps.renumber(keyed, "hk", "pid")
      .withColumn("fid", expr(s"(new_id - 1) * $files div ${n}L")))
    val stats = withFile.groupBy("fid").agg(
      min("gx").as("minx"), max("gx").as("maxx"),
      min("gy").as("miny"), max("gy").as("maxy"))
    val fr = probes.join(stats,
        col("minx") <= col("x1") && col("maxx") >= col("x0") &&
          col("miny") <= col("y1") && col("maxy") >= col("y0"), "left")
      .groupBy("probe_id").agg(count(col("fid")).as("files_read"))
    val rm = probes.join(withFile,
        col("gx") >= col("x0") && col("gx") <= col("x1") &&
          col("gy") >= col("y0") && col("gy") <= col("y1"), "left")
      .groupBy("probe_id").agg(count(col("pid")).as("rows_matched"))
    fr.join(rm, "probe_id")
  }

  /** GPS-trace implausible-speed filter (teleport QC): flag every step of
    * an (entity, ts, x, y) fix-coordinate track whose great-circle speed
    * exceeds `vmaxMmPerS`. One window shuffle on entity (the sessionize
    * partitioning); the haversine is per-row codegen and the flag compare
    * is exact integer (mm vs mm/s * s) after the one documented per-row
    * rounding, so the DuckDB twin matches bit-for-bit. Emits the flagged
    * steps themselves (entity, ts, dt_s, dist_mm) — the downstream QC
    * consumer joins them back or anti-joins to drop them.
    */
  def speedFilter(track: DataFrame, vmaxMmPerS: Long): DataFrame = {
    val w = Window.partitionBy("entity").orderBy("ts")
    val deg = (c: Column) => c.cast("double") / lit(1e7)
    track
      .withColumn("px", lag("x", 1).over(w))
      .withColumn("py", lag("y", 1).over(w))
      .withColumn("pts", lag("ts", 1).over(w))
      .filter(col("px").isNotNull)
      .select(col("entity"), col("ts"),
        (col("ts") - col("pts")).as("dt_s"),
        round(Fns.haversineMeters(deg(col("px")), deg(col("py")),
          deg(col("x")), deg(col("y"))) * lit(1000.0)).cast("long").as("dist_mm"))
      .filter(col("dist_mm") > lit(vmaxMmPerS) * col("dt_s"))
  }

  /** Space-time co-location (contact) join: unordered pairs of DISTINCT
    * entities with observations within `radiusFix` planar distance AND
    * within `tau` time units of each other, rolled up per entity pair —
    * the proximity-event primitive (contact tracing, convoy detection,
    * co-visit mining). Line: the spatiotemporal row of the join matrix
    * next to PIP (point x polygon), bbox, kNN and the trajectory joins.
    *
    * Plan shape: candidates come from ONE equi-join on the composite
    * (cell_x, cell_y, time_bucket) key with the 3x3x3 neighborhood
    * expansion SPLIT across the sides — the left side explodes its 3 x
    * offsets, the right side its 3x3 (y, bucket) offsets — so the total
    * blow-up is 3+9 rows (not 1+27), and the offset triple is uniquely
    * determined per pair, so every qualifying pair joins EXACTLY once (no
    * distinct pass). Requires cell width >= radiusFix and bucket width
    * >= tau on both axes (asserted): then |Δcell| <= 1 and |Δbucket| <= 1
    * for every qualifying pair, so the expansion is a complete cover.
    * Exact int64 refinement (dx²+dy² <= r², Δts <= tau) rides the join's
    * codegen stage; the final rollup is one hash shuffle on the entity
    * pair. Per-cell observation density bounds candidate volume, so the
    * plan is linear in observations at fixed locality — no all-pairs
    * stage anywhere.
    *
    * Input: obs (entity, ts, x, y) with (ts, entity) unique. Output:
    * (ent_a, ent_b, n_contacts, min_d2), ent_a < ent_b.
    */
  def colocationJoin(obs: DataFrame, radiusFix: Long, tau: Long,
                     level: Int): DataFrame = {
    require((1800000000L >> level) >= radiusFix,
      s"cell width at level $level < radius $radiusFix: 3x3 cover incomplete")
    val off = sequence(lit(-1), lit(1))
    val left = obs.select(col("entity").as("ea"), col("ts").as("ta"),
        col("x").as("xa"), col("y").as("ya"),
        Fns.cellX(col("x"), level).as("cxa"),
        Fns.cellY(col("y"), level).as("cya"),
        Fns.idiv(col("ts") + lit(1000000000000L), tau).as("tba"))
      .select(col("ea"), col("ta"), col("xa"), col("ya"), col("cya"), col("tba"),
        col("cxa"), explode(off).as("__dx"))
      .select(col("ea"), col("ta"), col("xa"), col("ya"), col("cya"), col("tba"),
        (col("cxa") + col("__dx")).as("jx"))
    val right = obs.select(col("entity").as("eb"), col("ts").as("tb"),
        col("x").as("xb"), col("y").as("yb"),
        Fns.cellX(col("x"), level).as("jxb"),
        Fns.cellY(col("y"), level).as("cyb"),
        Fns.idiv(col("ts") + lit(1000000000000L), tau).as("tbb"))
      .select(col("eb"), col("tb"), col("xb"), col("yb"), col("jxb"), col("cyb"),
        col("tbb"), explode(off).as("__dy"))
      .select(col("eb"), col("tb"), col("xb"), col("yb"), col("jxb"), col("tbb"),
        (col("cyb") + col("__dy")).as("jy"), explode(off).as("__dt"))
      .select(col("eb"), col("tb"), col("xb"), col("yb"), col("jxb"), col("jy"),
        (col("tbb") + col("__dt")).as("jt"))
    val dx = col("xa") - col("xb"); val dy = col("ya") - col("yb")
    left.join(right.hint("shuffle_hash"),
        col("cya") === col("jy") && col("tba") === col("jt") &&
          col("jx") === col("jxb"))
      .filter(col("ta") < col("tb") || (col("ta") === col("tb") && col("ea") < col("eb")))
      .filter(col("ea") =!= col("eb"))
      .filter(col("tb") - col("ta") <= tau && col("ta") - col("tb") <= tau)
      .filter(dx * dx + dy * dy <= lit(radiusFix) * lit(radiusFix))
      .select(least(col("ea"), col("eb")).as("ent_a"),
        greatest(col("ea"), col("eb")).as("ent_b"),
        (dx * dx + dy * dy).as("d2"))
      .groupBy("ent_a", "ent_b")
      .agg(count(lit(1)).as("n_contacts"), min(col("d2")).as("min_d2"))
  }

  /** Metric buffer rasterization around way geometries: every grid cell
    * whose CENTER lies within `radiusFix` of ANY way segment (true
    * point-to-segment distance — not the Chebyshev cell halo of the
    * morphological dilate), with the count of segments covering it.
    * The road-corridor / riverbank mask of a vector buffer, computed
    * exactly: cell centers land on half-integer fix coords, so all
    * arithmetic runs in DOUBLED coordinates (centers become exact
    * integers), endpoint-distance branches stay in int64, and the
    * perpendicular branch compares cross² ≤ (2R)²·len2 in 38-digit
    * decimal (≤ 10^32 here — int64 would overflow at 10^30).
    *
    * Scale posture: candidates are enumerated per segment from its
    * R-expanded bbox — the segment corpus is locally dense (spans
    * bounded by the jitter contract), so the fanout is a small constant
    * (~24 cells at level 9 / R=0.2°); one map-side-combinable groupBy
    * aggregates the mask. No joins at all.
    */
  def bufferCells(wayPts: DataFrame, radiusFix: Long, level: Int): DataFrame = {
    val pitchX = 3600000000L / (1L << level)
    val pitchY = 1800000000L / (1L << level)
    val gmax = (1L << level) - 1
    val w = Window.partitionBy("way_id").orderBy("seq")
    val segs = wayPts.select(col("way_id"),
        col("x").as("x2c"), col("y").as("y2c"),
        lag(col("x"), 1).over(w).as("x1c"), lag(col("y"), 1).over(w).as("y1c"))
      .filter(col("x1c").isNotNull)
    val lox = least(col("x1c"), col("x2c")) - radiusFix
    val hix = greatest(col("x1c"), col("x2c")) + radiusFix
    val loy = least(col("y1c"), col("y2c")) - radiusFix
    val hiy = greatest(col("y1c"), col("y2c")) + radiusFix
    val cand = segs
      .withColumn("bxlo", greatest(Fns.idiv(lox + 1800000000L, pitchX), lit(0L)))
      .withColumn("bxhi", least(Fns.idiv(hix + 1800000000L, pitchX), lit(gmax)))
      .withColumn("bylo", greatest(Fns.idiv(loy + 900000000L, pitchY), lit(0L)))
      .withColumn("byhi", least(Fns.idiv(hiy + 900000000L, pitchY), lit(gmax)))
      .select(col("x1c"), col("y1c"), col("x2c"), col("y2c"),
        explode(sequence(col("bxlo"), col("bxhi"))).as("bx"),
        col("bylo"), col("byhi"))
      .select(col("x1c"), col("y1c"), col("x2c"), col("y2c"), col("bx"),
        explode(sequence(col("bylo"), col("byhi"))).as("by"))
    val cx2 = col("bx") * (2L * pitchX) + pitchX - 3600000000L
    val cy2 = col("by") * (2L * pitchY) + pitchY - 1800000000L
    val vx = (col("x2c") - col("x1c")) * 2L
    val vy = (col("y2c") - col("y1c")) * 2L
    val wx = cx2 - col("x1c") * 2L
    val wy = cy2 - col("y1c") * 2L
    val ux = cx2 - col("x2c") * 2L
    val uy = cy2 - col("y2c") * 2L
    val dot = vx * wx + vy * wy
    val len2 = vx * vx + vy * vy
    val r2d = lit(4L * radiusFix * radiusFix)
    val cross = vx * wy - vy * wx
    val dec = "decimal(38,0)"
    val inBuf = when(dot <= 0, wx * wx + wy * wy <= r2d)
      .when(dot >= len2, ux * ux + uy * uy <= r2d)
      .otherwise(cross.cast(dec) * cross.cast(dec) <=
        r2d.cast(dec) * len2.cast(dec))
    cand.filter(inBuf).groupBy("bx", "by").agg(count(lit(1)).as("n_segs"))
  }

  /** Sort-Tile-Recursive (STR) bulk-load spatial partitioner: carve the
    * point set into an s×s grid of EQUAL-COUNT spatial partitions — the
    * classic R-tree packing recipe, and the partitioner you'd bulk-load
    * a 10^12-row point table with before bucketed spatial joins (each
    * partition is a balanced, spatially-coherent file). Points are
    * ranked by x (exact total order, pid tiebreak), cut into s vertical
    * slabs of ⌈n/s⌉ points, then ranked by y WITHIN each slab and cut
    * into s cells — rank-based cuts, so balance is exact by construction
    * (no sampling variance, unlike repartitionByRange). Output per
    * partition: (part_id, n_pts, min_x, max_x, min_y, max_y) — the
    * partition directory a downstream join would prune against.
    *
    * Scale posture: the x rank is [[IdOps.renumber]]'s range-sort +
    * zipWithIndex scheme (every stage parallel — no 1-partition window);
    * the y rank is a window partitioned by slab, s-way parallel with
    * n/s rows each — s is the parallelism knob (hundreds-to-thousands in
    * production, so slab windows stay executor-sized).
    */
  def strPartition(points: DataFrame, s: Int,
                   scope: CacheScope = CacheScope.global): DataFrame = {
    // persisted (scope-released): the slab-count probe and the renumber
    // both read the point set — uncached, the upstream scan runs twice
    val pts = scope.persist(points.select("pid", "lon_fix", "lat_fix"))
    val n = pts.count()
    val xr = IdOps.renumber(pts, "lon_fix", "pid")
    val slabbed = xr.withColumn("slab", expr(s"(new_id - 1) * $s div ${n}L"))
    val w = Window.partitionBy("slab").orderBy("lat_fix", "pid")
    val cells = slabbed
      .withColumn("yr", row_number().over(w))
      .withColumn("m", count(lit(1)).over(Window.partitionBy("slab")))
      .withColumn("cellk", expr(s"(CAST(yr AS BIGINT) - 1) * $s div m"))
    cells.groupBy(col("slab"), col("cellk"))
      .agg(count(lit(1)).as("n_pts"),
        min("lon_fix").as("min_x"), max("lon_fix").as("max_x"),
        min("lat_fix").as("min_y"), max("lat_fix").as("max_y"))
      .select((col("slab") * s + col("cellk")).as("part_id"), col("n_pts"),
        col("min_x"), col("max_x"), col("min_y"), col("max_y"))
  }

  /** Reverse geocoding with containment-then-nearest fallback (the
    * "which admin area is this page's coordinate in" join every
    * geo-enriched crawl needs): stage 1 assigns each point the smallest
    * poly_id of the polygons CONTAINING it (the exact distributed PIP
    * join of [[pipJoinPolygons]] — no polygon broadcast); stage 2 takes
    * the leftovers and assigns the NEAREST polygon center within
    * `radiusFix` (coastline/border tolerance), exact int64 squared
    * distance, ties to the smallest poly_id via one struct-min agg.
    * Output: (pid, poly_id, method∈{'in','near'}); points matching
    * neither are dropped.
    *
    * Scale posture: stage 2 is a cell equi-join — centers explode to
    * their 3×3 cell neighborhood at a level whose cell width ≥ radius
    * (completeness precondition, the q_colocate cover argument), points
    * carry ONE cell key; candidates are Θ(points in radius-dense areas),
    * never points × polygons. Both stages shuffle on cell keys only.
    */
  def reverseGeocode(points: DataFrame, polys: DataFrame, radiusFix: Long,
                     level: Int = 7,
                     scope: CacheScope = CacheScope.global): DataFrame = {
    // persisted (scope-released): the point set feeds the PIP join AND
    // the left-anti "rest" side; the inside frame feeds the output union
    // AND that anti-join — uncached, the upstream scan and the whole PIP
    // each run twice
    val pts = scope.persist(points)
    val inside = scope.persist(pipJoinPolygons(pts, polys)
      .groupBy("pid").agg(min(col("poly_id")).as("poly_id"))
      .withColumn("method", lit("in")))
    // hexCorpus vertex layout: xs = [cx+r, cx+h, cx-h, cx-r, ...], ys(0)=cy
    // — the center is recovered exactly (the sum is even by construction)
    val centers = polys.select(col("poly_id"),
      Fns.idiv(element_at(col("xs"), 1) + element_at(col("xs"), 4), 2L).as("cx"),
      element_at(col("ys"), 1).as("cy"))
    val rest = pts.join(inside.select("pid"), Seq("pid"), "left_anti")
    val offCol = array(Seq(-1L, 0L, 1L).map(lit): _*)
    val cCells = centers
      .withColumn("bx0", Fns.cellX(col("cx"), level))
      .withColumn("by0", Fns.cellY(col("cy"), level))
      .select(col("poly_id"), col("cx"), col("cy"), col("bx0"), col("by0"),
        explode(offCol).as("ox"))
      .select(col("poly_id"), col("cx"), col("cy"),
        (col("bx0") + col("ox")).as("bx"), col("by0"), explode(offCol).as("oy"))
      .select(col("poly_id"), col("cx"), col("cy"), col("bx"),
        (col("by0") + col("oy")).as("by"))
    val pc = rest.select(col("pid"), col("lon_fix"), col("lat_fix"),
      Fns.cellX(col("lon_fix"), level).as("bx"),
      Fns.cellY(col("lat_fix"), level).as("by"))
    val dx = col("lon_fix") - col("cx"); val dy = col("lat_fix") - col("cy")
    val near = pc.join(cCells.hint("shuffle_hash"), Seq("bx", "by"))
      .filter(dx * dx + dy * dy <= lit(radiusFix) * lit(radiusFix))
      .select(col("pid"), col("poly_id"), (dx * dx + dy * dy).as("d2"))
      .groupBy("pid")
      .agg(min(struct(col("d2"), col("poly_id"))).as("m"))
      .select(col("pid"), col("m.poly_id").as("poly_id"),
        lit("near").as("method"))
    inside.unionByName(near)
  }

  /** First-order Markov cell-transition matrix over a ping trace
    * (next-cell mobility model — the aggregate form of the per-entity
    * trajectory analytics the stay/OD operators feed): positions are
    * snapped to a `cellFix`-pitch grid, consecutive same-cell pings are
    * collapsed into visit runs (a dwell is ONE state visit, so self-loops
    * measure genuine re-entry, not sampling rate), and the transition
    * counts between consecutive visits become per-source-cell
    * probabilities in exact permille. Only the `topK` most likely
    * destinations per source cell are kept (rank by count desc, then
    * (tx, ty) asc — fully deterministic).
    *
    * Input: (entity, ts, x, y). Output: (fx, fy, tx, ty, n, p_pm).
    *
    * Scale posture: two window passes partitioned by entity (bounded by
    * per-entity trace length — the natural key of the data), one
    * map-side-combinable groupBy on cell pairs (bounded by the grid, not
    * the fleet), and a per-source top-k that Spark plans as
    * WindowGroupLimit (rank pushdown — no full sort of the matrix).
    */
  def markovTransitions(track: DataFrame, cellFix: Long, topK: Int): DataFrame = {
    val w = Window.partitionBy("entity").orderBy("ts")
    val off = 2000000000L // makes coords non-negative for exact idiv
    val cells = track.select(col("entity"), col("ts"),
      Fns.idiv(col("x") + lit(off), cellFix).as("cx"),
      Fns.idiv(col("y") + lit(off), cellFix).as("cy"))
    val runs = cells
      .withColumn("pcx", lag(col("cx"), 1).over(w))
      .withColumn("pcy", lag(col("cy"), 1).over(w))
      .filter(col("pcx").isNull ||
        col("cx") =!= col("pcx") || col("cy") =!= col("pcy"))
    val trans = runs
      .withColumn("fx", lag(col("cx"), 1).over(w))
      .withColumn("fy", lag(col("cy"), 1).over(w))
      .filter(col("fx").isNotNull)
      .groupBy(col("fx"), col("fy"), col("cx").as("tx"), col("cy").as("ty"))
      .agg(count(lit(1)).as("n"))
    val fw = Window.partitionBy("fx", "fy")
    val rw = Window.partitionBy("fx", "fy")
      .orderBy(col("n").desc, col("tx"), col("ty"))
    trans.withColumn("tot", sum(col("n")).over(fw))
      .withColumn("rk", row_number().over(rw))
      .filter(col("rk") <= topK)
      .select(col("fx"), col("fy"), col("tx"), col("ty"), col("n"),
        expr("n * 1000 div tot").as("p_pm"))
  }

  /** Street-grid orientation entropy per coarse cell (the "how griddy is
    * this city" analysis over way geometries — reference ways carry the
    * street network, reference/include/osmium/osm/way.hpp): each
    * consecutive-vertex segment is classified into one of 8 orientation
    * sectors of 22.5° over [0°, 180°) (undirected — the segment is first
    * normalized to the upper half-plane), then per cell the sector
    * distribution's Shannon entropy is computed as an exact integer:
    * Σ c·lnE6(n/c) div n, every term e6-quantized BEFORE the sum so
    * shuffle order cannot perturb the result.
    *
    * Sector boundaries are exact cross-multiplied tangent compares
    * (tan 22.5° ≈ 414214/10^6, tan 67.5° ≈ 2414214/10^6) — pure int64,
    * bit-identical in any engine; boundary angles fall into the upper
    * sector by the shared strict-< convention. The cell key is the
    * segment's FIRST vertex (no midpoint rounding to twin).
    *
    * Input: (way_id, seq, x, y) fix-coord way vertices. Output per
    * occupied cell: (bx, by, n_segs, ent_e6, top_bin) — top_bin the
    * modal sector, ties to the LARGEST bin id via struct-max (the
    * q_mosaic convention).
    *
    * Scale posture: one window shuffle on way_id (segments), one
    * map-side-combinable groupBy on (cell, bin) — 8 rows per occupied
    * cell — then a window partitioned by cell over those 8-row groups
    * and a final 8→1 agg. Nothing global, nothing quadratic; the
    * lnE6 term is a codegen'd native expression.
    */
  def orientationEntropy(wayPts: DataFrame, level: Int): DataFrame = {
    val w = Window.partitionBy("way_id").orderBy("seq")
    val raw = wayPts.select(col("way_id"), col("x"), col("y"),
        lag(col("x"), 1).over(w).as("px"), lag(col("y"), 1).over(w).as("py"))
      .filter(col("px").isNotNull &&
        (col("x") =!= col("px") || col("y") =!= col("py")))
    val dx0 = col("x") - col("px"); val dy0 = col("y") - col("py")
    val flip = dy0 < 0 || (dy0 === 0 && dx0 < 0)
    val segs = raw.select(col("px"), col("py"),
      when(flip, -dx0).otherwise(dx0).as("dx"),
      when(flip, -dy0).otherwise(dy0).as("dy"))
    val dxc = col("dx"); val dyc = col("dy")
    val bin =
      when(dxc > 0 && dyc * 1000000L < dxc * 414214L, 0L)
        .when(dxc > 0 && dyc < dxc, 1L)
        .when(dxc > 0 && dyc * 1000000L < dxc * 2414214L, 2L)
        .when(dxc > 0, 3L)
        .when(dxc === 0, 4L)
        .when(dyc * 1000000L > (-dxc) * 2414214L, 4L)
        .when(dyc > (-dxc), 5L)
        .when(dyc * 1000000L > (-dxc) * 414214L, 6L)
        .otherwise(7L)
    val perBin = segs
      .select(Fns.cellX(col("px"), level).as("bx"),
        Fns.cellY(col("py"), level).as("by"), bin.as("bin"))
      .groupBy("bx", "by", "bin").agg(count(lit(1)).as("c"))
    val cw = Window.partitionBy("bx", "by")
    perBin
      .withColumn("n", sum(col("c")).over(cw))
      .withColumn("t", col("c") *
        graft.plans.HllExpressions.lnE6(
          col("n").cast("double") / col("c").cast("double")))
      .groupBy("bx", "by")
      .agg(max(col("n")).as("n_segs"),
        expr("sum(t) div max(n)").as("ent_e6"),
        max(struct(col("c"), col("bin"))).as("m"))
      .select(col("bx"), col("by"), col("n_segs"), col("ent_e6"),
        col("m.bin").as("top_bin"))
  }

  /** H3/S2-style cell-set COMPACTION: replace every complete 2×2 sibling
    * group with its parent cell, recursively, until no group is complete —
    * the minimal multi-level cover of an occupied fine-cell set. This is
    * the hierarchical-index maintenance primitive of the north rule: a
    * compacted cover is what a 10^12-row corpus hands to the PIP / tile /
    * extract joins instead of billions of uniform fine cells (same role as
    * `compactCells` in the H3 library; osmium's analogue is the multi-level
    * TileIndex family, SURVEY §2.4).
    *
    * Scale posture: exactly `level` rounds — grid-depth-bounded, NOT
    * data-dependent — each ONE parent-key shuffle (groupBy, count == 4 of a
    * DISTINCT set) plus an anti-join of the round's cells against the full
    * parents; the cell set shrinks by ≥4× per promoted level, so round
    * cost is geometrically decreasing. Output (lv, keys…, bx, by):
    * disjoint cells (lv in 0..level, coords at that level) whose union is
    * exactly the input set and in which no 2×2 sibling group survives
    * complete. `keys` compacts per group (e.g. per polygon footprint) —
    * the keys simply ride every shuffle key, same plan shape.
    */
  /** PIP join probed THROUGH a per-polygon COMPACTED cover — the
    * north-rule index composition: instead of joining points against the
    * dense fine-level footprint raster, each polygon ships its
    * [[compactCells]] cover (4-70× fewer rows here, and the gap widens
    * with polygon size), and every point probes it with its level-ℓ
    * ANCESTOR cells — level+1 equi-join keys per point, one shuffle-hash
    * join, no polygon broadcast. Candidates are unique per (point,
    * polygon) because a compacted cover is disjoint across levels; the
    * exact ray-cast then refines against the (broadcast, dimension-sized)
    * ring geometry. Contract: candidate cells are the CENTER-rasterized
    * footprint of [[rasterizePolygons]], so a hit means "inside the
    * polygon AND inside its center-raster" — boundary points in
    * uncovered edge cells drop identically in both engines.
    * Output: (poly_id, n_points).
    */
  def pipJoinCompact(points: DataFrame, polys: DataFrame, level: Int,
                     scope: CacheScope = CacheScope.global): DataFrame =
    pipJoinCompact(points, polys, level,
      compactCells(
        rasterizePolygons(polys, level).select(col("poly_id"),
          col("cell_x").as("bx"), col("cell_y").as("by")),
        level, keys = Seq("poly_id"), scope), scope)

  /** Production overload: probe a PRECOMPUTED per-polygon compacted
    * cover (the [[compactCells]] output shape `(lv, poly_id, bx, by)` —
    * exactly what the q_poly_compact path materializes). At 10^12 rows
    * the cover is an ARTIFACT built once per polygon corpus and reused
    * across every probe batch; with it supplied, the probe plan is ONE
    * shuffle-hash join on the ancestor keys plus the broadcast ray-cast
    * refine — no rasterize, no compaction rounds (plan-asserted in
    * CompactCoverSpec). The convenience overload above keeps the
    * build-in-query path for one-shot use. The cover's persist is
    * registered in `scope` (global here, the caller's in the overload
    * below), so releasing that scope unpersists it.
    */
  def pipJoinCompact(points: DataFrame, polys: DataFrame, level: Int,
                     cover: DataFrame): DataFrame =
    pipJoinCompact(points, polys, level, cover, CacheScope.global)

  def pipJoinCompact(points: DataFrame, polys: DataFrame, level: Int,
                     cover: DataFrame, scope: CacheScope): DataFrame = {
    // ONE tiny probe over the (artifact-sized) cover picks the join
    // dispatch and trims the ancestor ladder to the level range actually
    // present: compacted covers never reach the coarse root levels, so
    // sequence(0, level) was exploding probe rows whose lv can never
    // match a cover row — at level 10 that was 11 rows per point where
    // the cover spans ~5 levels.
    val covC = scope.persist(cover)
    val st = covC.agg(count(lit(1)).as("n"),
      min(col("lv")).cast("long").as("lo"),
      max(col("lv")).cast("long").as("hi")).head()
    val (nCover, lvLo, lvHi) =
      if (st.isNullAt(1)) (0L, 0L, level.toLong)
      else (st.getLong(0), st.getLong(1), st.getLong(2))
    pipJoinCompactProbe(points, polys, level, covC, lvLo, lvHi,
      broadcastCover = nCover <= PipCompactBroadcastCells)
  }

  /** The probe plan behind [[pipJoinCompact]], spec-reachable with an
    * explicit dispatch so BOTH join strategies stay parity-tested
    * without building a 2M-cell cover: `broadcastCover = true` is the
    * under-budget map-side hash probe, `false` the production
    * no-broadcast shuffle-hash path.
    */
  private[graft] def pipJoinCompactProbe(points: DataFrame, polys: DataFrame,
      level: Int, covC: DataFrame, lvLo: Long, lvHi: Long,
      broadcastCover: Boolean): DataFrame = {
    val probes = points
      .select(col("pid"), col("lon_fix"), col("lat_fix"),
        Fns.cellX(col("lon_fix"), level).as("fx"),
        Fns.cellY(col("lat_fix"), level).as("fy"))
      .select(col("pid"), col("lon_fix"), col("lat_fix"),
        explode(expr(s"transform(sequence(${lvLo}L, ${lvHi}L), l -> struct(" +
          s"l AS lv, shiftright(fx, $level - int(l)) AS bx, " +
          s"shiftright(fy, $level - int(l)) AS by))")).as("c"))
      .select(col("pid"), col("lon_fix"), col("lat_fix"),
        col("c.lv").as("lv"), col("c.bx").as("bx"), col("c.by").as("by"))
    // size dispatch (the house twin rule): a cover under the budget is
    // BROADCAST, so the exploded probe rows never shuffle — the join is
    // a map-side hash probe and only matches flow to the refine. Above
    // the budget the no-broadcast shuffle-hash path runs verbatim (a
    // 10^12-row corpus' continental cover cannot ship to every task).
    val cj = if (broadcastCover)
        probes.join(broadcast(covC), Seq("lv", "bx", "by"))
      else probes.join(covC.hint("shuffle_hash"), Seq("lv", "bx", "by"))
    cj.join(broadcast(polys.select(col("poly_id"), col("xs"), col("ys"))),
        Seq("poly_id"))
      .filter(graft.plans.GeomExpressions.pointInRings(
        col("lon_fix"), col("lat_fix"), col("xs"), col("ys")))
      .groupBy(col("poly_id")).agg(count(lit(1)).as("n_points"))
  }

  /** Cover-size budget under which [[pipJoinCompact]] broadcasts the
    * compacted cover to the probe side. 2M cells ≈ ~100 MB as a built
    * hash relation — the same order as the engine's other local-path
    * budgets, small against executor memory, and a compacted cover this
    * size already describes a continent at level 10.
    */
  val PipCompactBroadcastCells = 2000000L

  /** ANTIMERIDIAN normalization: segments whose endpoints are closer the
    * wrapped way around (|x2 − x1| > half the lon span) cross ±180° and
    * break every planar operator downstream (bbox covers, tile
    * assignment, length sums); this splits each crossing segment into
    * two pieces meeting at the boundary. The crossing segment is first
    * ORIENTED eastward (positive wrapped delta), then the boundary
    * latitude is y1 + (y2 − y1)·(E − x1) div dxw with E = +180°·1e7 and
    * dxw = wrapped delta > 0 — numerator and divisor are exact int64 and
    * the division TRUNCATES toward zero in both engines (Spark `div` and
    * DuckDB `//` agree on that; only FLOOR semantics diverge), so the
    * split point is bit-identical. Non-crossing segments pass through as
    * piece 0.
    *
    * Scale posture: one narrow map — a when/otherwise over each row plus
    * a 2-element explode for crossers; no shuffle, no join, codegen'd
    * end to end. Input: (seg_id, x1, y1, x2, y2) fix-coords with lon in
    * (−1.8e9, 1.8e9). Output: (seg_id, piece, x1, y1, x2, y2).
    */
  def splitAntimeridian(segs: DataFrame): DataFrame = {
    val E = 1800000000L
    val crossing = abs(col("x2") - col("x1")) > E
    // orient crossers eastward: travel from the positive-lon endpoint
    // over +180 to the negative-lon endpoint
    val o = segs.select(col("seg_id"), crossing.as("cr"),
      when(crossing && col("x1") < col("x2"), col("x2")).otherwise(col("x1")).as("ax"),
      when(crossing && col("x1") < col("x2"), col("y2")).otherwise(col("y1")).as("ay"),
      when(crossing && col("x1") < col("x2"), col("x1")).otherwise(col("x2")).as("bx"),
      when(crossing && col("x1") < col("x2"), col("y1")).otherwise(col("y2")).as("by"))
    // wrapped eastward delta (bx + 360° − ax) is always > 0 after orienting
    val ys = (col("ay") +
      expr(s"((by - ay) * (${E}L - ax)) div ((bx + ${2 * E}L) - ax)")).as("ys")
    o.select(col("seg_id"), col("cr"), col("ax"), col("ay"), col("bx"),
        col("by"), ys)
      .select(col("seg_id"), explode(when(col("cr"),
          array(
            struct(lit(1L).as("piece"), col("ax").as("x1"), col("ay").as("y1"),
              lit(E).as("x2"), col("ys").as("y2")),
            struct(lit(2L).as("piece"), lit(-E).as("x1"), col("ys").as("y1"),
              col("bx").as("x2"), col("by").as("y2"))))
        .otherwise(array(
          struct(lit(0L).as("piece"), col("ax").as("x1"), col("ay").as("y1"),
            col("bx").as("x2"), col("by").as("y2"))))).as("p"))
      .select(col("seg_id"), col("p.piece").as("piece"),
        col("p.x1").as("x1"), col("p.y1").as("y1"),
        col("p.x2").as("x2"), col("p.y2").as("y2"))
  }

  /** Grid LINE-OF-SIGHT: for each (observer, target) cell pair, walk the
    * rounding-DDA line between them and count occupied intermediate
    * cells — visible iff none blocks. The line cell at step t of n
    * (n = Chebyshev span) is ⌊(2·n·x0 + 2·dx·t + n) / (2·n)⌋ — x0 folded
    * INTO the numerator so it stays non-negative even on westward/
    * southward lines, where floor and truncating integer division agree
    * (DuckDB `//` truncates toward zero on negatives; Spark div too) —
    * so both engines enumerate bit-identical cells. Endpoints never
    * block.
    *
    * Scale posture: the pair set is a query-sized dimension and each
    * line has ≤ grid-width probe cells, so the exploded probe frame is
    * tiny — it BROADCASTS into one hash join against the (corpus-sized)
    * occupancy mask, then one map-side-combined count per pair; the mask
    * is never moved or sorted. Input: occ (bx, by) distinct occupied
    * cells; pairs (pair_id, x0, y0, x1, y1). Output (pair_id,
    * n_blockers, visible 0/1) for EVERY pair.
    */
  def lineOfSight(occ: DataFrame, pairs: DataFrame): DataFrame = {
    val n = greatest(abs(col("x1") - col("x0")), abs(col("y1") - col("y0")))
    val probes = pairs.select(col("pair_id"), col("x0"), col("y0"),
        col("x1"), col("y1"), n.as("n"))
      .select(col("pair_id"), col("x0"), col("y0"), col("x1"), col("y1"),
        col("n"), explode(when(col("n") >= 2,
          sequence(lit(1L), col("n") - 1))).as("t"))
      .select(col("pair_id"),
        Fns.idiv2(col("n") * 2 * col("x0") +
          (col("x1") - col("x0")) * 2 * col("t") + col("n"),
          col("n") * 2).as("bx"),
        Fns.idiv2(col("n") * 2 * col("y0") +
          (col("y1") - col("y0")) * 2 * col("t") + col("n"),
          col("n") * 2).as("by"))
    val hits = broadcast(probes).join(occ.select(col("bx"), col("by")),
        Seq("bx", "by"))
      .groupBy("pair_id").agg(count(lit(1)).as("nb"))
    pairs.join(hits, Seq("pair_id"), "left")
      .select(col("pair_id"), coalesce(col("nb"), lit(0L)).as("n_blockers"),
        when(coalesce(col("nb"), lit(0L)) === 0, 1L).otherwise(0L)
          .as("visible"))
  }

  def compactCells(cells: DataFrame, level: Int,
                   keys: Seq[String] = Nil,
                   scope: CacheScope = CacheScope.global): DataFrame = {
    val kc = keys.map(col)
    val dedup = scope.persist(
      cells.select(kc :+ col("bx") :+ col("by"): _*).distinct())
    val cellsIntegral = LocalGraph.integralId(
      dedup.schema("bx").dataType, dedup.schema("by").dataType)
    // the grouped path packs cells as (bx<<32)|by into a non-nullable
    // Long tuple encoder, so it additionally requires level <= 31
    // (bins < 2^32) and a key column with no NULL groups — the rounds
    // path handles both fine, so either condition just falls back
    val grouped =
      if (!cellsIntegral || level > 31) false
      else if (keys.isEmpty) dedup.count() <= CompactGroupCells
      else if (keys.size == 1 &&
          LocalGraph.integralId(dedup.schema(keys.head).dataType)) {
        val st = dedup.groupBy(col(keys.head)).agg(count(lit(1)).as("__c"))
          .agg(max(col("__c")).as("__mx"),
            max(when(col(keys.head).isNull, 1L).otherwise(0L)).as("__n"))
          .head()
        !st.isNullAt(0) && st.getLong(1) == 0L &&
          st.getLong(0) <= CompactGroupCells
      } else false
    if (grouped) compactCellsGrouped(dedup, level, keys.headOption)
    else compactCellsRounds(dedup, level, keys, scope)
  }

  /** Per-GROUP footprint budget for [[compactCells]]'s one-shuffle
    * path: the promotion fixpoint of one group runs inside one task over
    * a packed-long hash set, so the bound is per-group memory (2M cells
    * ≈ 32 MB), NOT total corpus size — a 10^12-cell corpus with bounded
    * per-polygon footprints still takes this path, every group an
    * independent task. Groups above the budget (continental footprints
    * at fine levels) take the level-bounded distributed rounds.
    */
  val CompactGroupCells: Long = 1L << 21

  /** The distributed promotion rounds of [[compactCells]]
    * (spec-reachable directly): exactly `level` rounds, each one
    * parent-key shuffle + anti-join; `dedup` must be the deduplicated
    * (keys…, bx, by) frame.
    */
  private[graft] def compactCellsRounds(dedup: DataFrame, level: Int,
      keys: Seq[String] = Nil,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val kc = keys.map(col)
    var cur = dedup
    val leaves = (level to 1 by -1).map { lv =>
      val withPar = cur.select(kc ++ Seq(col("bx"), col("by"),
        expr("bx div 2").as("pbx"), expr("by div 2").as("pby")): _*)
      val fullPar = withPar.groupBy(kc :+ col("pbx") :+ col("pby"): _*)
        .agg(count(lit(1)).as("c")).filter(col("c") === 4)
        .select(kc :+ col("pbx") :+ col("pby"): _*)
      val out = withPar
        .join(fullPar, keys ++ Seq("pbx", "pby"), "left_anti")
        .select(lit(lv.toLong).as("lv") +: kc :+ col("bx") :+ col("by"): _*)
      cur = scope.persist(fullPar.select(
        kc :+ col("pbx").as("bx") :+ col("pby").as("by"): _*))
      out
    }
    (leaves :+ cur.select(lit(0L).as("lv") +: kc :+ col("bx") :+ col("by"): _*))
      .reduce(_ unionByName _)
  }

  /** One-shuffle twin of [[compactCells]] under [[CompactGroupCells]]:
    * the compacted cover is the UNIQUE fixpoint of "promote every
    * complete 2×2 sibling group", so running the whole promotion ladder
    * per group inside one task (packed (bx << 32) | by longs, one
    * parent-count map per level) emits exactly the rounds' rows — one
    * groupBy shuffle total instead of `level` shuffle+anti-join rounds.
    * keyOpt None = the whole set is one group (single task, count
    * pre-checked against the budget). Parity spec'd against the rounds.
    */
  private[graft] def compactCellsGrouped(dedup: DataFrame, level: Int,
                                         keyOpt: Option[String]): DataFrame = {
    val sess = dedup.sparkSession
    import sess.implicits._
    val bxType = dedup.schema("bx").dataType
    def compactSet(cells0: java.util.HashSet[Long], k: Long):
        Iterator[(Long, Long, Long, Long)] = {
      val out = new scala.collection.mutable.ArrayBuffer[
        (Long, Long, Long, Long)]()
      var cells = cells0
      var lv = level
      while (lv >= 1 && !cells.isEmpty) {
        val parCnt = new java.util.HashMap[Long, Int]()
        val i1 = cells.iterator()
        while (i1.hasNext) {
          val c = i1.next()
          val p = (((c >>> 32) >> 1) << 32) | ((c & 0xffffffffL) >> 1)
          parCnt.merge(p, 1, (a, b) => a + b)
        }
        val next = new java.util.HashSet[Long]()
        val i2 = cells.iterator()
        while (i2.hasNext) {
          val c = i2.next()
          val p = (((c >>> 32) >> 1) << 32) | ((c & 0xffffffffL) >> 1)
          if (parCnt.get(p) == 4) next.add(p)
          else out += ((lv.toLong, k, c >>> 32, c & 0xffffffffL))
        }
        cells = next
        lv -= 1
      }
      val i3 = cells.iterator()
      while (i3.hasNext) {
        val c = i3.next()
        out += ((0L, k, c >>> 32, c & 0xffffffffL))
      }
      out.iterator
    }
    keyOpt match {
      case Some(key) =>
        val keyType = dedup.schema(key).dataType
        dedup.select(col(key).cast("long").as("k"),
            col("bx").cast("long"), col("by").cast("long"))
          .as[(Long, Long, Long)]
          .groupByKey(_._1)
          .flatMapGroups { (k, it) =>
            val cells = new java.util.HashSet[Long]()
            it.foreach { case (_, bx, by) => cells.add((bx << 32) | by) }
            compactSet(cells, k)
          }.toDF("lv", "k", "bx", "by")
          .select(col("lv"), col("k").cast(keyType).as(key),
            col("bx").cast(bxType).as("bx"), col("by").cast(bxType).as("by"))
      case None =>
        dedup.select(col("bx").cast("long"), col("by").cast("long"))
          .as[(Long, Long)].coalesce(1).mapPartitions { it =>
            val cells = new java.util.HashSet[Long]()
            it.foreach { case (bx, by) => cells.add((bx << 32) | by) }
            compactSet(cells, 0L)
          }.toDF("lv", "k", "bx", "by")
          .select(col("lv"), col("bx").cast(bxType).as("bx"),
            col("by").cast(bxType).as("by"))
    }
  }
}
