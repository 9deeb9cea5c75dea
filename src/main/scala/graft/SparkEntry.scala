package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.functions.Fns
import graft.operators._
import graft.operators.SpatialOps.{KnnMetric, KnnStrategy}
import graft.operators.SimilarityOps.{VecCandidates, VecScore}
import graft.sources.{OsmSynth, Synth}

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), each with a DuckDB-oracle SQL twin in `oracleSql`.
  *
  * Oracle-parity rules used throughout: outputs are integers/strings (or
  * doubles rounded per-row BEFORE aggregation), spatial math is exact int64
  * on fixed-point coords, and every nondeterministic ordering is resolved
  * by an explicit deterministic tie-break.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Epoch micros of a (possibly TIMESTAMP_NTZ) column; the session is
    * pinned to UTC so NTZ values equal DuckDB's naive epoch_us.
    */
  private def us(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Locally-dense synthetic ways from lineitem: per-way base scatter over
    * the world + per-vertex jitter ≤ 1e7 fix (the q_way_tiles/q_simplify
    * derivation, shared). DISTINCT because (l_orderkey, l_linenumber) is
    * not unique in the synthetic data.
    */
  private[graft] def wayPoints(li: DataFrame, dedup: Boolean = true): DataFrame = {
    val key = col("l_orderkey") * lit(10L) + col("l_linenumber")
    val x = (col("l_orderkey") * lit(2654435761L)) % lit(3400000000L) - lit(1700000000L) +
      ((key * lit(1103515245L)) % lit(20000000L) - lit(10000000L))
    val y = (col("l_orderkey") * lit(2246822519L)) % lit(1600000000L) - lit(800000000L) +
      ((key * lit(69069L)) % lit(20000000L) - lit(10000000L))
    val raw = li.select(col("l_orderkey").as("way_id"),
      col("l_linenumber").as("seq"), x.as("x"), y.as("y"))
    if (dedup) raw.distinct() else raw
  }

  /** The q_way_cross/q_way_poly/q_planarize segment corpus: mixId bases
    * (not the lattice scatter of [[wayPoints]]: a linear base in way_id
    * never brings two ways within jitter range of each other, so the
    * lattice corpus has literally zero crossings), span-bounded lag
    * segments, plus the level derivation (smallest level in [6,10] with
    * 4^level >= n — integer while-loop == the oracle's CASE).
    */
  /** The kNN entries' cell level: [[SpatialOps.knnLevel]] of the RAW
    * lineitem row count (a metadata-speed count — no distinct exchange)
    * instead of the distinct point count the operator would probe by
    * default, which removes one sequential scan+distinct job from each
    * kNN entry's critical path. The raw count exceeds the distinct one
    * by the ~1.3x dup factor, a log4 shift of ~0.19. At the committed
    * scale factors both counts round to the same level (3, 5 and 7 at
    * sf0.001, sf0.01 and sf0.1), but that is a measurement, not a
    * structural property: at some other scale the level can differ by
    * one. The rows cannot change (the per-query guarantee + brute-force
    * fallback make every level exact, and the oracles are level-free
    * brute force); only the cost profile moves.
    */
  private def knnDensityLevel(s: SparkSession, d: String): Int =
    SpatialOps.knnLevel(t(s, d, "lineitem").count())

  /** The smallest grid level in [lo, hi] with at least `n` cells (4^level
    * >= n), so per-cell occupancy stays bounded as the data grows.
    */
  private def densityLevel(n: Long, lo: Int, hi: Int): Int = {
    var level = lo
    while (level < hi && n > (1L << (2 * level))) level += 1
    level
  }

  /** One row per way of [[wayPoints]]: its points ordered by seq as
    * `xs`/`ys` coordinate arrays.
    */
  private def wayTracks(li: DataFrame): DataFrame =
    wayPoints(li).groupBy("way_id").agg(
        array_sort(collect_list(struct(col("seq"), col("x"), col("y")))).as("p"))
      .select(col("way_id"),
        expr("transform(p, q -> q.x)").as("xs"),
        expr("transform(p, q -> q.y)").as("ys"))

  private[graft] def crossWaySegs(s: SparkSession, d: String): (DataFrame, Int) = {
    val key = col("way_id") * lit(10L) + col("seq")
    val x = functions.Fns.mixId(col("way_id") * lit(2L)) - lit(1073741824L) +
      ((key * lit(1103515245L)) % lit(20000000L) - lit(10000000L))
    val y = functions.Fns.mixId(col("way_id") * lit(2L) + lit(1L)) % lit(1600000000L) -
      lit(800000000L) + ((key * lit(69069L)) % lit(20000000L) - lit(10000000L))
    val pts = t(s, d, "lineitem")
      .select(col("l_orderkey").as("way_id"), col("l_linenumber").as("seq"))
      .distinct()
      .select(col("way_id"), col("seq"), x.as("x"), y.as("y"))
    val w = Window.partitionBy("way_id").orderBy("seq")
    // persisted (global scope, released per query by Verify/Bench): the
    // level probe below plus BOTH cover sides of the self-join consumers
    // read it — without the cache the lineitem window stage runs 3x
    val segs = graft.core.CacheScope.global.persist(
      pts.select(col("way_id"), col("seq"),
          lag(col("x"), 1).over(w).as("x0"), lag(col("y"), 1).over(w).as("y0"),
          col("x").as("x1"), col("y").as("y1"))
        .filter(col("x0").isNotNull &&
          abs(col("x1") - col("x0")) <= WayCrossSpan &&
          abs(col("y1") - col("y0")) <= WayCrossSpan))
    val n = segs.count()
    // span-matched floor: the smallest level whose cells are no wider
    // than the span bound — cell ≈ segment length keeps the cover
    // fan-out O(1) per segment, which empirically beats the pure
    // density rule 2x at sf0.1 (level 8 vs 10 on 310k segs: 3.7s vs
    // 7.0s planarize). The density term still takes over (shifted two
    // levels: candidates per cell shrink 4x per level while cover rows
    // only double) so per-cell occupancy stays bounded as data grows.
    var spanLevel = 0
    while ((3600000000L >> spanLevel) > WayCrossSpan && spanLevel < 12)
      spanLevel += 1
    (segs, math.max(spanLevel, densityLevel(n, 6, 12) - 2))
  }

  /** The q_tile_clip/q_way_len_tile input: jittered way segments clipped
    * to every level-8 cell they cross (shared derivation with
    * q_way_tiles — NO distinct, duplicates flow through identically on
    * both engines).
    */
  private def clippedWaySegs(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val key = col("l_orderkey") * lit(10L) + col("l_linenumber")
    val x = (col("l_orderkey") * lit(2654435761L)) % lit(3400000000L) - lit(1700000000L) +
      ((key * lit(1103515245L)) % lit(20000000L) - lit(10000000L))
    val y = (col("l_orderkey") * lit(2246822519L)) % lit(1600000000L) - lit(800000000L) +
      ((key * lit(69069L)) % lit(20000000L) - lit(10000000L))
    val pts = li.select(col("l_orderkey").as("way_id"),
      col("l_linenumber").as("seq"), x.as("x"), y.as("y"))
    val w = Window.partitionBy("way_id").orderBy("seq")
    val segs = pts.select(col("way_id"), col("seq"),
        lag(col("x"), 1).over(w).as("x0"), lag(col("y"), 1).over(w).as("y0"),
        col("x").as("x1"), col("y").as("y1"))
      .filter(col("x0").isNotNull)
    SpatialOps.clipSegmentsToCells(segs, 8, 20000000L)
  }

  /** SQL twin of [[wayPoints]] (a CTE body selecting way_id, seq, x, y). */
  private val WayPtsSql: String =
    """SELECT DISTINCT l_orderkey AS way_id, l_linenumber AS seq,
      |    ((l_orderkey * 2654435761) % 3400000000 - 1700000000)
      |      + (((l_orderkey*10 + l_linenumber) * 1103515245) % 20000000 - 10000000) AS x,
      |    ((l_orderkey * 2246822519) % 1600000000 - 800000000)
      |      + (((l_orderkey*10 + l_linenumber) * 69069) % 20000000 - 10000000) AS y
      |  FROM lineitem""".stripMargin

  /** Flagship: pages → derived points → PIP join against the polygon set →
    * web-mercator tiles, the full north-rule slice. Driver smoke-checks
    * rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val pts = Synth.points(spark, dir)
    SpatialOps.pip(spark, pts).select(
      col("pid"), col("poly_id"),
      Fns.tileX(8, Fns.fixToDeg(col("lon_fix"))).as("tx"),
      Fns.tileY(8, Fns.fixToDeg(col("lat_fix"))).as("ty"))
  }

  // ---------------------------------------------------------------------
  // Spark-side queries
  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational core (built-in op mapping) ---
    "q1_agg" -> ((s, d) => {
      t(s, d, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000, 0)
          .cast("long")).as("rev_e4"),
        count(lit(1)).as("n"))
    }),

    "q3_topk" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val cut = 883612800000000L // 1998-01-01 UTC in micros
      val rev = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(us(col("o_orderdate")) < cut && us(col("l_shipdate")) >= cut)
        .groupBy(col("o_orderkey"))
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000, 0)
          .cast("long")).as("rev_e4"))
      // Top-k via orderBy+limit so Spark plans TakeOrderedAndProject
      // (per-partition partial top-k + tiny merge) instead of funnelling the
      // full aggregate through a single-partition global window. Rank over
      // the k survivors is then window-free: rank = #rows ahead-or-equal in
      // the sort order, via a broadcast self-join on the k-row result.
      val top = graft.core.CacheScope.global.persist(
        rev.orderBy(col("rev_e4").desc, col("o_orderkey")).limit(10))
      val ahead = broadcast(top.select(col("rev_e4").as("r2"), col("o_orderkey").as("k2")))
      top.join(ahead, col("r2") > col("rev_e4") ||
          (col("r2") === col("rev_e4") && col("k2") <= col("o_orderkey")))
        .groupBy(col("o_orderkey"), col("rev_e4"))
        .agg(count(lit(1)).as("rank"))
    }),

    "q5_join" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val su = t(s, d, "supplier")
      val n = t(s, d, "nation"); val r = t(s, d, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000, 0)
          .cast("long")).as("rev_e4"))
    }),

    "q_anti_join" -> ((s, d) => {
      t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    "q_semi_join" -> ((s, d) => {
      val cut = 978307200000000L // 2001-01-01 UTC micros
      t(s, d, "supplier").join(
          t(s, d, "lineitem").filter(us(col("l_shipdate")) >= cut),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    }),

    // --- windows / history (EndTime, RangeFromHistory, ApplyHandler) ---
    "q_endtime" -> ((s, d) => {
      val ev = t(s, d, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev.select(col("event_id"), col("user_id"), us(col("ts")).as("ts_us"),
        us(lead(col("ts"), 1).over(w)).as("end_us"))
    }),

    // --- interval-sweep concurrency (max concurrent open versions) ---
    "q_concurrency" -> ((s, d) => {
      val h = HistoryOps.endTime(t(s, d, "events"),
          "user_id", "ts", "ts", "event_id")
        .select(us(col("ts")).as("s_us"), us(col("endtime")).as("e_us"))
      HistoryOps.concurrencyProfile(h, "s_us", "e_us", ConcBucketUs)
    }),

    "q_history_range" -> ((s, d) => {
      val ev = HistoryOps.endTime(t(s, d, "events"), "user_id", "ts", "ts", "event_id")
      val from = 1704672000000000L // 2024-01-08
      val to = 1705276800000000L   // 2024-01-15
      ev.filter(us(col("ts")) <= to &&
          (col("endtime").isNull || us(col("endtime")) >= from))
        .select(col("event_id"), col("user_id"))
    }),

    "q_merge_upsert" -> ((s, d) => {
      val ev = t(s, d, "events")
      val base = ev.select(col("event_id"), lit(1L).as("version"), col("value"))
      val changes = ev.filter(col("event_id") % 10 === 0)
        .select(col("event_id"), lit(2L).as("version"), (col("value") + 1.0).as("value"))
      HistoryOps.mergeUpsert(base, changes, "event_id", "version")
        .select(col("event_id"), col("version"),
          round(col("value") * 100, 0).cast("long").as("value_cents"))
    }),

    "q_props_hist" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(regexp_extract(col("props"), "\"k\": (\\d+)", 1).as("k"))
        .agg(count(lit(1)).as("n"))
    }),

    // --- spatial (north rule) ---
    "q_bbox" -> ((s, d) => SpatialOps.bbox(Synth.points(s, d))),

    "q_density" -> ((s, d) => SpatialOps.equirectDensity(Synth.points(s, d), 7)),

    "q_tiles" -> ((s, d) => SpatialOps.tileDensity(Synth.points(s, d), 7)),

    // heatmap smoothing: sparse 3x3 binomial blur over the z7 tile raster
    "q_raster_blur" -> ((s, d) =>
      SpatialOps.rasterBlur(SpatialOps.tileDensity(Synth.points(s, d), 7), 7)),

    // z/x/y tiles re-keyed as Bing quadkeys (prefix = parent tile)
    "q_quadkey" -> ((s, d) => SpatialOps.quadkeyDensity(Synth.points(s, d), 7)),

    // geohash density at precision 5 (odd — exercises the lon-extra-bit
    // path; 25 bits ≈ 4.9 km cells)
    "q_geohash" -> ((s, d) => SpatialOps.geohashDensity(Synth.points(s, d), 5)),

    // H3-style flat-top hex binning (axial q/r, cube-rounded)
    "q_hexbin" -> ((s, d) => SpatialOps.hexBin(Synth.points(s, d), HexSizeFix)),

    // true spherical polygon areas (geodesic companion of q_poly_area)
    "q_geo_area" -> ((s, d) =>
      Synth.hexCorpus(s, 1000).select(col("poly_id"),
        SpatialOps.sphericalRingArea(col("xs"), col("ys"), 6).as("sph_m2"))),

    // z7 tile counts normalized by TRUE spherical tile area (the
    // mercator-distortion correction; exact closed-form area per row)
    "q_tile_area" -> ((s, d) =>
      SpatialOps.tileGeodesicDensity(Synth.points(s, d), 7)),

    // global Moran's I spatial autocorrelation of the density grid —
    // exact-integer aggregates, grid level derived from the point count
    // (same scheme as q_vectorize so per-cell density is scale-stable)
    "q_moran" -> ((s, d) => {
      val pts = Synth.points(s, d)
      val n = pts.count()
      val level = densityLevel(n, 6, 12)
      StatsOps.moranI(SpatialOps.equirectDensity(pts, level)
        .select(col("bx"), col("by"), col("cnt").as("v")))
    }),

    // fixed-round Lloyd k-means (K=16 lattice seeds, 4 rounds, exact
    // integer floor-mean centroids) — grid-free clustering next to DBSCAN
    "q_kmeans" -> ((s, d) => {
      val sess = s; import sess.implicits._
      val cents0 = (0 until 16).map(i => (i.toLong,
        (i % 4).toLong * 900000000L + 450000000L,
        (i / 4).toLong * 450000000L + 225000000L))
      SpatialOps.kmeans(Synth.points(s, d), cents0.toDF("cid", "x", "y"), 4)
    }),

    // Getis-Ord Gi* hot-spot z-scores per density cell (local companion
    // to q_moran; same derived grid level)
    "q_gi" -> ((s, d) => {
      val pts = Synth.points(s, d)
      val n = pts.count()
      val level = densityLevel(n, 6, 12)
      StatsOps.getisOrd(SpatialOps.equirectDensity(pts, level)
        .select(col("bx"), col("by"), col("cnt").as("v")))
    }),

    // IDW scatter-to-grid interpolation (integer weights; level floor 8
    // keeps own-cell weights nonzero — see SpatialOps.idwGrid contract)
    "q_idw" -> ((s, d) => {
      // persist before the level-probe count: the point set is a scan +
      // DISTINCT shuffle, and it feeds the count plus BOTH idwGrid scans
      // (cell set + 9x scatter) — uncached it would run three times
      val pts = graft.core.CacheScope.global.persist(Synth.points(s, d))
      val n = pts.count()
      val level = densityLevel(n, 8, 12)
      SpatialOps.idwGrid(pts.select(col("lon_fix").as("x"),
        col("lat_fix").as("y"), (col("pid") % 1000 + 1).as("v")), level)
    }),

    // symmetric Hausdorff polyline-similarity join over anchor-cell
    // candidate pairs (exact int64 squared distances)
    "q_hausdorff" -> ((s, d) => {
      val pts = wayPoints(t(s, d, "lineitem"))
      val n = pts.select("way_id").distinct().count()
      val level = densityLevel(n, 6, 10)
      SpatialOps.hausdorffPairs(pts, level, HausdorffMaxSq)
    }),

    // discrete-Fréchet trajectory-similarity join (map conflation):
    // bbox cover candidates (A side expanded by thr), anchor-cell pair
    // dedup, native O(m·n) rolling-DP kernel on the joined row
    "q_frechet" -> ((s, d) => {
      // persist: the threshold-pick count() and both join sides read it
      val tracks = graft.core.CacheScope.global.persist(wayTracks(t(s, d, "lineitem")))
      val thr = if (tracks.count() <= FrechetSmallN) FrechetThrSmall
        else FrechetThr
      SpatialOps.frechetJoin(tracks, tracks, thr,
        coverLevel = TrackCoverLevel, selfJoin = true)
    }),

    // trajectory clustering: Fréchet-threshold pair graph → connected
    // components (route-variant grouping)
    "q_traj_cluster" -> ((s, d) => {
      // persist BOTH the track build (the threshold-pick count() would
      // otherwise throw it away and frechetJoin would recompute the full
      // wayPoints→groupBy chain) and the pair graph (connectedComponents'
      // O(log d) pointer-jumping rounds each re-read their input — an
      // unpersisted pair frame re-runs the whole cover+DP join per round)
      val tracks = graft.core.CacheScope.global.persist(wayTracks(t(s, d, "lineitem")))
      val thr = if (tracks.count() <= FrechetSmallN) FrechetThrSmall
        else FrechetThr
      val pairs = graft.core.CacheScope.global.persist(
        SpatialOps.frechetJoin(tracks, tracks, thr,
          coverLevel = TrackCoverLevel, selfJoin = true)
          .select(col("way_a").as("src"), col("way_b").as("dst")))
      GraphOps.connectedComponents(pairs)
        .groupBy(col("component").as("cluster_id")).agg(count(lit(1)).as("n_tracks"))
    }),

    // DTW trajectory-similarity join: the cumulative-cost sibling of
    // q_frechet (Σ d² over the best monotone coupling, not the max)
    "q_dtw" -> ((s, d) => {
      // persist: the threshold-pick count() and both join sides read it
      val tracks = graft.core.CacheScope.global.persist(wayTracks(t(s, d, "lineitem")))
      val thr = if (tracks.count() <= FrechetSmallN) FrechetThrSmall
        else FrechetThr
      SpatialOps.dtwJoin(tracks, tracks, 2L * thr * thr,
        coverLevel = TrackCoverLevel, selfJoin = true)
    }),

    // way stitching: segments between consecutive lattice nodes, with a
    // missing way every 97 (chain break) and a junction spur every 13
    // (degree-3 node splits the chain on both sides)
    "q_stitch" -> ((s, d) => {
      val ids = t(s, d, "documents").select(col("doc_id").as("i"))
      def px(i: Column) = functions.Fns.mixId(i * lit(2L)) - lit(1073741824L)
      def py(i: Column) =
        functions.Fns.mixId(i * lit(2L) + lit(1L)) % lit(1600000000L) - lit(800000000L)
      val base = ids.filter((col("i") + 1) % 97 =!= 0)
        .select(col("i").as("way_id"),
          px(col("i")).as("x0"), py(col("i")).as("y0"),
          px(col("i") + 1).as("x1"), py(col("i") + 1).as("y1"))
      val spurs = ids.filter(col("i") % 13 === 0)
        .select((col("i") + 10000000L).as("way_id"),
          px(col("i")).as("x0"), py(col("i")).as("y0"),
          (px(col("i")) + lit(1234567L)).as("x1"),
          (py(col("i")) + lit(7654321L)).as("y1"))
      AssemblyOps.stitchChains(base.unionByName(spurs))
    }),

    "q_cells" -> ((s, d) => {
      Synth.points(s, d)
        .select(Fns.cellId(col("lon_fix"), col("lat_fix"), 12).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n"))
    }),

    // --- the north-star ingest slice: geo microdata OUT OF RAW HTML ---
    // decode binary html -> regex-extract the geo.fix meta tag -> fix
    // ints -> cell index -> density. Pages without the tag must drop out.
    "q_geo_extract" -> ((s, d) => {
      val html = decode(col("html"), "UTF-8")
      Synth.pagesGeo(s, d)
        .select(
          regexp_extract(html, "geo\\.fix\" content=\"(-?\\d+);", 1).as("lo"),
          regexp_extract(html, "content=\"-?\\d+;(-?\\d+)\"", 1).as("la"))
        .filter(length(col("lo")) > 0) // ANSI-safe: cast only real matches
        .select(Fns.cellId(col("lo").cast("long"), col("la").cast("long"), 12)
          .as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n"))
    }),

    // tile-pyramid rollup: z9 tile counts summed into their z7 parents by
    // pure integer arithmetic (tx >> 2). Floor alignment across zooms
    // (fl(x*128) = fl(x*512)/4 exactly — power-of-2 scaling commutes with
    // rounding) makes the rollup EXACTLY the direct z7 histogram, which
    // is what the oracle computes — a different formulation pinning the
    // pyramid-consistency invariant
    "q_pyramid" -> ((s, d) => {
      val pts = Synth.points(s, d)
      pts.select(
          Fns.tileX(9, Fns.fixToDeg(col("lon_fix"))).as("tx9"),
          Fns.tileY(9, Fns.fixToDeg(col("lat_fix"))).as("ty9"))
        .groupBy("tx9", "ty9").agg(count(lit(1)).as("n"))
        .groupBy(shiftright(col("tx9"), 2).as("tx"), shiftright(col("ty9"), 2).as("ty"))
        .agg(sum("n").as("cnt"))
    }),

    "q_haversine_way" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val key = col("l_orderkey") * lit(10L) + col("l_linenumber")
      val pts = li.select(col("l_orderkey").as("way_id"), col("l_linenumber").as("seq"),
        Fns.fixToDeg(Fns.lonFixOf(key)).as("lon"), Fns.fixToDeg(Fns.latFixOf(key)).as("lat"))
      val w = Window.partitionBy(col("way_id")).orderBy(col("seq"))
      pts.select(col("way_id"),
          Fns.haversineMeters(col("lon"), col("lat"),
            lag(col("lon"), 1).over(w), lag(col("lat"), 1).over(w)).as("seg"))
        .groupBy(col("way_id"))
        .agg(round(sum(col("seg")), 0).cast("long").as("len_m"),
          count(col("seg")).as("n_segs"))
        .filter(col("n_segs") >= 1)
    }),

    // HMM (Viterbi) map matching: noisy tracks synthesized by jittering a
    // 1-in-97 sample of ways; candidates = way points within MmRadiusFix
    // (3x3 cell join at level 11), top-3 per observation; the DP is
    // linear per track while the oracle ENUMERATES all paths recursively
    "q_map_match" -> ((s, d) => {
      val wp = wayPoints(t(s, d, "lineitem"))
      val key = col("way_id") * lit(10L) + col("seq")
      val obs = wp.filter(col("way_id") % MmSample === 0)
        .select(col("way_id").as("entity"), col("seq").as("tidx"),
          (col("x") + Fns.mixId(key * 2) % lit(800001L) - lit(400000L)).as("ox"),
          (col("y") + Fns.mixId(key * 2 + 1) % lit(800001L) - lit(400000L)).as("oy"))
      val probes = SpatialOps.stamp(
        obs.select(col("entity"), col("tidx"), col("ox"), col("oy"),
          Fns.cellX(col("ox"), MmLevel).as("jx"),
          Fns.cellY(col("oy"), MmLevel).as("jy")),
        "jx", "jy", SpatialOps.square(1), SpatialOps.StampEdge.Keep)
      val nodes = wp.select(col("way_id").as("way"), col("seq").as("wseq"),
        col("x").as("cx"), col("y").as("cy"),
        Fns.cellX(col("x"), MmLevel).as("jx"), Fns.cellY(col("y"), MmLevel).as("jy"))
      val d2 = (col("ox") - col("cx")) * (col("ox") - col("cx")) +
        (col("oy") - col("cy")) * (col("oy") - col("cy"))
      val w = Window.partitionBy("entity", "tidx")
        .orderBy(col("emis"), col("way"), col("wseq"))
      val cands = probes.join(nodes, Seq("jx", "jy"))
        .select(col("entity"), col("tidx"), col("cx"), col("cy"), col("way"),
          col("wseq"), d2.as("emis"))
        .filter(col("emis") <= MmRadiusSq)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      SpatialOps.hmmMapMatch(cands, MmSwitchPenalty)
    }),

    // route-shape descriptors: per-way sinuosity + initial net bearing
    // (exact-integer mm sums; see SpatialOps.waySinuosity)
    "q_sinuosity" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val key = col("l_orderkey") * lit(10L) + col("l_linenumber")
      SpatialOps.waySinuosity(li.select(
        col("l_orderkey").as("way_id"), col("l_linenumber").as("seq"),
        Fns.fixToDeg(Fns.lonFixOf(key)).as("lon"),
        Fns.fixToDeg(Fns.latFixOf(key)).as("lat")).distinct())
    }),

    // polyline rasterization: locally-dense synthetic ways -> every cell
    // their segments cross (the way->tile assignment of a vector-tile
    // cut); segments via the same lag-window shape as q_haversine_way
    "q_way_tiles" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val key = col("l_orderkey") * lit(10L) + col("l_linenumber")
      val x = (col("l_orderkey") * lit(2654435761L)) % lit(3400000000L) - lit(1700000000L) +
        ((key * lit(1103515245L)) % lit(20000000L) - lit(10000000L))
      val y = (col("l_orderkey") * lit(2246822519L)) % lit(1600000000L) - lit(800000000L) +
        ((key * lit(69069L)) % lit(20000000L) - lit(10000000L))
      val pts = li.select(col("l_orderkey").as("way_id"),
        col("l_linenumber").as("seq"), x.as("x"), y.as("y"))
      val w = Window.partitionBy("way_id").orderBy("seq")
      val segs = pts.select(col("way_id"), col("seq"),
          lag(col("x"), 1).over(w).as("x0"), lag(col("y"), 1).over(w).as("y0"),
          col("x").as("x1"), col("y").as("y1"))
        .filter(col("x0").isNotNull)
      SpatialOps.segmentCellCover(segs, 8, 20000000L)
    }),

    // vector-tile geometry cut: every way segment clipped to each cell it
    // crosses (exact Liang-Barsky, floor-quantized endpoints) — the
    // geometry companion of q_way_tiles' assignment
    "q_tile_clip" -> ((s, d) => clippedWaySegs(s, d)),

    // --- vector-tile feature encoding (the MVT-style sink payload) ---
    // per (tile, way): the ordered in-tile vertex run as zigzag-encoded
    // deltas from the exact integer tile origin (level 9 pitches divide
    // the domain) — all-integer, so the encoded string twins exactly
    "q_tile_encode" -> ((s, d) => {
      val wp = wayPoints(t(s, d, "lineitem"))
      val tiled = wp.select(col("way_id"), col("seq"), col("x"), col("y"),
        Fns.cellX(col("x"), TileEncLevel).as("cell_x"),
        Fns.cellY(col("y"), TileEncLevel).as("cell_y"))
      val w = Window.partitionBy("way_id", "cell_x", "cell_y").orderBy("seq")
      def zz(c: Column) = when(c >= 0, c * 2).otherwise(-c * 2 - 1)
      val dx = col("x") - coalesce(lag(col("x"), 1).over(w),
        col("cell_x") * 7031250L - 1800000000L)
      val dy = col("y") - coalesce(lag(col("y"), 1).over(w),
        col("cell_y") * 3515625L - 900000000L)
      tiled.select(col("way_id"), col("cell_x"), col("cell_y"), col("seq"),
          concat(zz(dx).cast("string"), lit(","), zz(dy).cast("string")).as("ps"))
        .groupBy("cell_x", "cell_y", "way_id")
        .agg(count(lit(1)).as("n_pts"),
          expr("array_join(transform(array_sort(collect_list(struct(seq, ps)))," +
            " q -> q.ps), ',')").as("enc"))
    }),

    // per-tile way length in mm: the tile-cut stat a road/route tileset
    // ships (km of geometry per tile). Haversine per CLIPPED sub-segment,
    // quantized to integer mm PER ROW so the rollup sum is associative
    "q_way_len_tile" -> ((s, d) =>
      clippedWaySegs(s, d).select(col("cell_x"), col("cell_y"),
          round(Fns.haversineMeters(
            col("cx0") / lit(10000000.0), col("cy0") / lit(10000000.0),
            col("cx1") / lit(10000000.0), col("cy1") / lit(10000000.0))
            * lit(1000.0)).cast("long").as("mm"))
        .groupBy("cell_x", "cell_y")
        .agg(sum("mm").as("len_mm"), count(lit(1)).as("n_segs"))),

    // spatially stratified sampling: at most 4 points per level-6 cell,
    // picked by deterministic mixId order (WindowGroupLimit: the rank
    // never materializes past the limit) — geographic balance for a
    // training corpus
    "q_geo_sample" -> ((s, d) => {
      val pts = Synth.points(s, d)
        .withColumn("cell", Fns.cellId(col("lon_fix"), col("lat_fix"), 6))
      val w = Window.partitionBy("cell")
        .orderBy(Fns.mixId(col("pid")), col("pid"))
      pts.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 4)
        .select(col("cell"), col("pid"))
    }),

    // incremental tile maintenance: a synthetic changeset (deletes %13,
    // moves %9, creates %17) applied to the maintained per-cell histogram
    // — touches |changes| rows, never rescans; oracle recomputes the
    // after-state from scratch
    "q_tile_delta" -> ((s, d) => {
      val base = Synth.points(s, d)
      val pid = col("pid")
      val baseHist = base.groupBy(
          Fns.cellX(col("lon_fix"), 8).as("bx"),
          Fns.cellY(col("lat_fix"), 8).as("by"))
        .agg(count(lit(1)).as("cnt"))
      val nul = lit(null).cast("long")
      val deletes = base.filter(pid % 13 === 0)
        .select(lit("delete").as("op"), pid,
          nul.as("new_lon_fix"), nul.as("new_lat_fix"))
      val modifies = base.filter(pid % 9 === 0 && pid % 13 =!= 0)
        .select(lit("modify").as("op"), pid,
          Fns.lonFixOf(pid + 31).as("new_lon_fix"),
          Fns.latFixOf(pid + 31).as("new_lat_fix"))
      val creates = base.filter(pid % 17 === 0)
        .select(lit("create").as("op"), (pid + 100000000L).as("pid"),
          Fns.lonFixOf(pid + 100000000L).as("new_lon_fix"),
          Fns.latFixOf(pid + 100000000L).as("new_lat_fix"))
      SpatialOps.applyTileDeltas(base, baseHist,
        deletes.unionByName(modifies).unionByName(creates), 8)
    }),

    // nearest-facility assignment: per-point geodesic argmin over the 30
    // hexagon centers — `least` over inline struct candidates keeps the
    // whole thing ONE codegen map stage (no join, no shuffle, no groupBy);
    // ranking is integer mm with hub-id tie-break, so exact cross-engine
    "q_nearest_hub" -> ((s, d) => {
      val lon = col("lon_fix") / lit(10000000.0)
      val lat = col("lat_fix") / lit(10000000.0)
      val cands = Synth.hexagons.map { h =>
        struct(
          round(Fns.haversineMeters(lon, lat,
            lit(h.cx) / lit(10000000.0), lit(h.cy) / lit(10000000.0))
            * lit(1000.0)).cast("long").as("mm"),
          lit(h.polyId).as("hub"))
      }
      Synth.points(s, d).select(col("pid"), least(cands: _*).as("best"))
        .select(col("pid"), col("best.hub").as("hub"), col("best.mm").as("mm"))
    }),

    "q_pip_join" -> ((s, d) =>
      SpatialOps.pip(s, Synth.points(s, d)).select(col("pid"), col("poly_id"))),

    // the same broadcast cell-cover join as q_pip_join under its own name:
    // the engine has one broadcast PIP strategy
    "q_pip_interval" -> ((s, d) =>
      SpatialOps.pip(s, Synth.points(s, d)).select(col("pid"), col("poly_id"))),

    // PIP anti join: points in NO polygon, the cover join as a broadcast
    // left-anti with the FULL-or-ray-cast refinement in its condition
    "q_pip_anti" -> ((s, d) =>
      SpatialOps.pip(s, Synth.points(s, d), anti = true).select(col("pid"))),

    // polygon-CORPUS PIP: 10k-hexagon DataFrame side, distributed cell
    // cover, shuffle equi-join (no polygon broadcast), native ray-cast
    "q_pip_large" -> ((s, d) =>
      SpatialOps.pipJoinPolygons(Synth.points(s, d), Synth.hexCorpus(s, PipLargePolys),
        PipLargeLevel)),

    // --- STR bulk-load spatial partitioner (R-tree packing grid) ---
    // rank-based equal-count cuts: x-rank via the distributed renumber
    // (no 1-partition window), per-slab y-rank windows s-way parallel
    "q_str_part" -> ((s, d) =>
      SpatialOps.strPartition(Synth.points(s, d), StrPartS)),

    // --- reverse geocoding: containment winner, else nearest center ---
    // stage 1 = the distributed PIP join; stage 2 = cell equi-join on a
    // 3x3 center cover (cell width >= radius), exact d2, struct-min tie
    "q_revgeo" -> ((s, d) => SpatialOps.reverseGeocode(
      Synth.points(s, d).filter(col("pid") % RevgeoSampleMod === 0),
      Synth.hexCorpus(s, RevgeoPolys), RevgeoRadius, RevgeoLevel)),

    // bbox range join against the hexagon corpus's bounding boxes
    "q_bbox_join" -> ((s, d) => {
      val boxes = Synth.hexCorpus(s, PipLargePolys).select(
        col("poly_id").as("box_id"),
        array_min(col("xs")).as("minx"), array_min(col("ys")).as("miny"),
        array_max(col("xs")).as("maxx"), array_max(col("ys")).as("maxy"))
      SpatialOps.bboxJoin(Synth.points(s, d), boxes, PipLargeLevel)
    }),

    // polygon-polygon overlay join: two 10k-hexagon corpora, distributed
    // bbox cell covers on BOTH sides (no polygon broadcast), anchor-cell
    // pair dedup (no distinct), native exact separating-axis refinement
    "q_poly_join" -> ((s, _) =>
      SpatialOps.polyIntersectJoin(Synth.hexCorpus(s, PipLargePolys),
        Synth.hexCorpus(s, PipLargePolys, PipLargePolys.toLong))),

    // dissolve: overlap components over the self-overlay (cascaded-union
    // analog) — distributed covers, pointer-jump components, one rollup
    "q_dissolve" -> ((s, _) =>
      SpatialOps.dissolve(Synth.hexCorpus(s, PipLargePolys))),

    "q_knn" -> ((s, d) => {
      val pts = graft.core.CacheScope.global.persist(Synth.points(s, d))
      SpatialOps.knn(pts, pts.filter(col("pid") % 997 === 0), 5, KnnMetric.Planar,
        knnDensityLevel(s, d), KnnStrategy.Broadcast)
    }),

    // large-query-set kNN: cell-bucket shuffle join, query side not broadcast
    "q_knn_large" -> ((s, d) => {
      val pts = graft.core.CacheScope.global.persist(Synth.points(s, d))
      SpatialOps.knn(pts, pts.filter(col("pid") % 101 === 0), 5, KnnMetric.Planar,
        knnDensityLevel(s, d), KnnStrategy.Shuffle)
    }),

    // geodesic kNN: haversine-ranked, lon cells wrap the antimeridian
    "q_knn_geo" -> ((s, d) => {
      val pts = graft.core.CacheScope.global.persist(Synth.points(s, d))
      SpatialOps.knn(pts, pts.filter(col("pid") % 997 === 0), 5, KnnMetric.Geo,
        knnDensityLevel(s, d), KnnStrategy.Broadcast)
    }),

    "q_knn_geo_large" -> ((s, d) => {
      val pts = graft.core.CacheScope.global.persist(Synth.points(s, d))
      SpatialOps.knn(pts, pts.filter(col("pid") % 101 === 0), 5, KnnMetric.Geo,
        knnDensityLevel(s, d), KnnStrategy.Shuffle)
    }),

    // geodesic radius join: everything within 120 km, haversine-exact
    "q_radius_geo" -> ((s, d) => {
      val pts = graft.core.CacheScope.global.persist(Synth.points(s, d))
      SpatialOps.withinRadiusGeo(pts, pts.filter(col("pid") % 199 === 0), 120000.0)
    }),

    // geodesic DBSCAN: density clusters / border / noise over a point
    // subset (the mod keeps the ORACLE's pair join brute-forceable; the
    // operator itself rides the cell cover at any size)
    // eps is COUNT-DERIVED (halved per ~4x points, integer thresholds
    // mirrored as a SQL CASE): a fixed 150 km eps percolates at sf0.1
    // density into one giant component whose pointer-jump depth dominates
    // the suite (152 s) — constant expected degree is the scale contract
    // (same derived-parameter pattern as q_vectorize's grid level)
    "q_dbscan" -> ((s, d) => {
      val pts = graft.core.CacheScope.global.persist(
        Synth.points(s, d).filter(col("pid") % DbscanPidMod === 0))
      val n = pts.count() // derive-from-count contract (eager, documented)
      val eps = if (n <= 4000) DbscanEpsM
        else if (n <= 16000) DbscanEpsM / 2 else DbscanEpsM / 4
      SpatialOps.dbscanGeo(pts, eps, DbscanMinPts)
    }),

    // --- dedup suite ---
    "q_dedup_exact" -> ((s, d) => DedupOps.exactDuplicates(Synth.corpus(s, d))),

    "q_dedup_jaccard" -> ((s, d) => DedupOps.ngramJaccardPairs(Synth.corpus(s, d), 600)),

    // --- asymmetric shingle containment (quote/excerpt detection) ---
    "q_contain" -> ((s, d) =>
      DedupOps.containmentPairs(Synth.corpus(s, d), ContainThrPm)),

    // --- exact edit-distance-1 join via deletion neighborhoods ---
    // --- place conflation: ed-1 names AND within radius ---
    // synthetic gazetteer: districts (doc_id % 40) give shared coord
    // centers + per-doc jitter, names (doc_id % 250) give dense ed-1
    // collisions — so the name⋂distance conjunction has real work
    "q_conflate" -> ((s, d) => {
      val district = col("doc_id") % 40
      val places = t(s, d, "documents").select(
        col("doc_id").as("place_id"),
        (col("doc_id") % 250).cast("string").as("name"),
        (Fns.mixId(district * 2) % 1800000000L - 900000000L +
          Fns.mixId(col("doc_id") * 7 + 3) % 2000000L).as("x"),
        (Fns.mixId(district * 2 + 1) % 1200000000L - 600000000L +
          Fns.mixId(col("doc_id") * 7 + 5) % 2000000L).as("y"))
      DedupOps.conflatePlaces(places, ConflateRadius)
    }),

    // near-identical-URL clustering (typo'd links, trailing-char dupes);
    // the synthetic url space (".../doc/<id>") is dense in ed-1 pairs
    "q_url_neighbors" -> ((s, d) =>
      DedupOps.editOnePairs(
        t(s, d, "documents").select(col("doc_id"),
          concat(lit("https://example.org/doc/"),
            col("doc_id").cast("string")).as("url")),
        "doc_id", "url")),

    "q_dedup_minhash" -> ((s, d) => DedupOps.minHashLshPairs(Synth.corpus(s, d))),

    // incremental ingestion dedup: the injected-duplicate batch (ids >=
    // 1e6) LSH-matched against the base corpus only — no corpus self-join
    "q_dedup_incr" -> ((s, d) => {
      val c = Synth.corpus(s, d)
      DedupOps.minHashLshPairsIncremental(
        c.filter(col("doc_id") < 1000000L),
        c.filter(col("doc_id") >= 1000000L))
    }),

    "q_dedup_simhash" -> ((s, d) => DedupOps.simHashPairs(Synth.corpus(s, d), 3)),

    // edit-distance confirm stage over the capped LSH candidates (the
    // levenshtein sibling of the Jaccard verify — never all-pairs)
    "q_dedup_edit" -> ((s, d) => DedupOps.editDistancePairs(Synth.corpus(s, d), 10)),

    "q_sim_neardup" -> ((s, d) => DedupOps.embeddingNearDups(Synth.embCorpus(s, d), 9000L)),

    // SemDeDup: semantic near-dup pairs within coarse-quantizer clusters
    // (exhaustive in small clusters, LSH-refined in mega-clusters)
    "q_sem_dedup" -> ((s, d) =>
      SimilarityOps.semDedupPairs(Synth.embCorpus(s, d), 900000L)),

    // cross-doc boilerplate at chunk granularity (CCNet line-dedup shape)
    "q_boilerplate" -> ((s, d) => DedupOps.boilerplateChunks(Synth.corpus(s, d))),

    // incremental-crawl dedup: broadcast Bloom prefilter over the "seen"
    // corpus two-thirds, exact-confirm join for the flagged sliver of the
    // "fresh" third — false positives are deterministic, so the oracle
    // reproduces them bit-for-bit
    "q_dedup_bloom" -> ((s, d) => {
      // persisted (Verify/Bench release the global scope per query): the
      // fingerprint kernel + corpus union feed the bloom build, the probe
      // explode AND both sides of the confirm join
      val keyed = graft.core.CacheScope.global.persist(
        Synth.corpus(s, d).select(col("doc_id"),
          graft.plans.TextHashExpressions.docFingerprint(col("text")).as("fp")))
      DedupOps.bloomIncrementalDedup(
        keyed.filter(col("doc_id") % 3 =!= 0),
        keyed.filter(col("doc_id") % 3 === 0), "fp")
    }),

    // pairs -> canonical clusters (connected components, min-id label)
    "q_dedup_clusters" -> ((s, d) =>
      DedupOps.duplicateClusters(DedupOps.minHashLshPairs(Synth.corpus(s, d)))),

    // full pipeline capstone: one survivor per cluster (longest text,
    // ties by id), unclustered docs survive as singletons
    "q_dedup_survivors" -> ((s, d) => {
      val corpus = Synth.corpus(s, d)
      DedupOps.dedupSurvivors(corpus,
        DedupOps.duplicateClusters(DedupOps.minHashLshPairs(corpus)))
    }),

    // end-to-end training-corpus materialization: quality/length gate ->
    // MinHash near-dedup -> survivor pick -> content-hash split. Every
    // stage is an operator oracle'd on its own above; this pins the CHAIN
    // (the filter feeds dedup, the survivor set feeds the split)
    "q_pipeline" -> ((s, d) => {
      val corpus = Synth.corpus(s, d)
      // persist: the quality gate (the expensive text kernels) feeds the
      // LSH pair stage, the survivor pick AND the fingerprint join —
      // uncached it re-scores the corpus per consumer; fp rides the
      // cached frame so the fingerprint kernel also runs once
      val gated = graft.core.CacheScope.global.persist(corpus.filter(
          Fns.qualityScore(col("text")).cast("long") >= 400 &&
          Fns.tokenCount(col("text")).cast("long") >= 20)
        .select(col("doc_id"), col("text"),
          graft.plans.TextHashExpressions.docFingerprint(col("text")).as("fp")))
      val surv = DedupOps.dedupSurvivors(gated,
        DedupOps.duplicateClusters(DedupOps.minHashLshPairs(gated)))
      surv.join(gated.select("doc_id", "fp"), "doc_id")
        .select(col("doc_id"), col("cluster_id"), col("text_len"),
          when(col("fp") % 1000 < 800, "train")
            .when(col("fp") % 1000 < 900, "valid")
            .otherwise("test").as("split"))
    }),

    // --- similarity search ---
    "q_sim_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      SimilarityOps.topK(e, e.filter(col("vec_id") % 25 === 0), 10)
    }),

    // hard-negative mining over the near-dup-planted corpus: top-k below
    // the duplicate ceiling, exclusion BEFORE the rank
    "q_negatives" -> ((s, d) => {
      val e = Synth.embCorpus(s, d)
      SimilarityOps.topK(e, e.filter(col("vec_id") % 25 === 0), 10,
        score = VecScore.Cosine(below = Some(990000L)))
    }),

    "q_sim_ann" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      SimilarityOps.topK(e, e.filter(col("vec_id") % 25 === 0), 10, VecCandidates.Lsh())
    }),

    // IVF-Flat scale path (deterministic coarse centroids, nprobe lists)
    "q_sim_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      SimilarityOps.topK(e, e.filter(col("vec_id") % 25 === 0), 10, VecCandidates.Ivf())
    }),

    // PQ/ADC compressed-corpus scale path (codes + per-query dist table)
    "q_sim_pq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      SimilarityOps.topK(e, e.filter(col("vec_id") % 25 === 0), 10,
        score = VecScore.Pq())
    }),

    // IVF-PQ: inverted-list candidate restriction + compressed ADC rerank
    "q_sim_ivfpq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      SimilarityOps.topK(e, e.filter(col("vec_id") % 25 === 0), 10,
        VecCandidates.Ivf(), VecScore.Pq())
    }),

    // IVF nprobe auto-tuning: per-nprobe recall vs the exact top-k on the
    // calibration query set, plus the chosen setting (faiss-autotune shape)
    "q_sim_autotune" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      SimilarityOps.ivfAutotune(e, e.filter(col("vec_id") % 25 === 0), 10)
    }),

    // HyperLogLog distinct-count sketch per language — DETERMINISTIC
    // registers (pure integer function of the oracle-twinned fingerprint,
    // harmonic sum kept in exact int64), so the oracle compares the
    // SKETCH, not a tolerance; exact distinct joined alongside for error
    // visibility. Map-side partial MAX collapses registers pre-shuffle
    "q_hll" -> ((s, d) => {
      val withFp = t(s, d, "documents").select(col("lang"),
        graft.plans.TextHashExpressions.docFingerprint(col("text")).as("fp"))
      SketchOps.hllDistinctWithExact(withFp, "lang", col("fp"))
    }),

    // same sketch at m=256 — gates the configurable-m path end-to-end
    "q_hll_m256" -> ((s, d) => {
      val withFp = t(s, d, "documents").select(col("lang"),
        graft.plans.TextHashExpressions.docFingerprint(col("text")).as("fp"))
      SketchOps.hllDistinctWithExact(withFp, "lang", col("fp"), m = 256)
    }),

    // KMV bottom-k distinct sketch per language — the mergeable key-space
    // SAMPLE (set intersections across groups), WindowGroupLimit keeps
    // at most k rows per group per map partition pre-shuffle
    "q_kmv" -> ((s, d) => {
      val withFp = t(s, d, "documents").select(col("lang"),
        graft.plans.TextHashExpressions.docFingerprint(col("text")).as("fp"))
      SketchOps.kmvSketch(withFp, "lang", col("fp"), KmvK)
    }),

    // cross-source vocabulary overlap from the MERGED per-source KMV
    // sketches — sketch-vs-sketch, the raw token sets never pairwise-join
    "q_kmv_jaccard" -> ((s, d) => {
      val th = t(s, d, "documents")
        .select(col("source"),
          explode(regexp_extract_all(col("text"), lit("[^ ]+"), lit(0))).as("tok"))
        .select(col("source"), Fns.mixId(Fns.tokenHash(col("tok"))).as("h"))
      SketchOps.kmvJaccard(th, "source", col("h"), KmvK)
    }),

    // deterministic train/valid/test split + per-source mixture sampling:
    // both decisions hash the CONTENT (docFingerprint), not the id, so
    // re-sharding or re-crawling the corpus never migrates a doc across
    // splits; one linear scan, no shuffle
    "q_split" -> ((s, d) => {
      val scored = t(s, d, "documents").select(col("doc_id"), col("source"),
        graft.plans.TextHashExpressions.docFingerprint(col("text")).as("fp"),
        // try_cast (both engines): a malformed source id degrades to null
        // -> kept=0 instead of failing the scan under ANSI mode
        expr("try_cast(substring(source, 4) AS BIGINT)").as("srcnum"))
      scored.select(col("doc_id"), col("source"),
        (col("fp") % 1000).as("bucket"),
        when(col("fp") % 1000 < 800, "train")
          .when(col("fp") % 1000 < 900, "valid")
          .otherwise("test").as("split"),
        when(expr("fp DIV 1000") % 1000 < lit(100) + lit(45) * (col("srcnum") % 20), 1L)
          .otherwise(0L).as("kept"))
    }),

    // --- text analysis ---
    "q_lang_id" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"), Fns.langId(col("text")).as("lang_pred"))
    }),

    // --- mixed-language segmentation: per-chunk lang + span merge ---
    "q_lang_spans" -> ((s, d) =>
      LmOps.langSpans(t(s, d, "documents"), LangSpanWidth)),

    "q_quality" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        Fns.qualityScore(col("text")).cast("long").as("score"))
    }),

    // --- cross-language score calibration: exact integer percentile ---
    // quality thresholds must be set PER LANGUAGE (verbose languages
    // score systematically differently); the percentile rank
    // (rank-1)*1000 div (n-1) is the calibrated score — pure integer
    // (percent_rank() returns a float and is not oracle-exact), ties
    // share the minimum rank, single-doc groups calibrate to 0. One
    // per-lang window (partitioned sort), no join.
    "q_calibrate" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val n = Window.partitionBy("lang")
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          Fns.qualityScore(col("text")).cast("long").as("score"))
        .withColumn("r", rank().over(
          Window.partitionBy("lang").orderBy("score")).cast("long"))
        .withColumn("n", count(lit(1)).over(n))
        .selectExpr("doc_id", "lang", "score",
          "CASE WHEN n > 1 THEN ((r - 1) * 1000) div (n - 1) ELSE 0L END AS pct_pm")
    }),

    "q_token_stats" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        Fns.tokenCount(col("text")).cast("long").as("n_tokens"),
        graft.plans.TextHashExpressions.docFingerprint(col("text")).as("fingerprint"))
    }),

    // BPE-ish pre-tokenizer counting (subword-run classes)
    "q_token_bpe" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        Fns.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
    }),

    // Count-Min heavy hitters: one d*w-counter sketch over every token
    // occurrence (the frequency pass that never shuffles per key), then
    // point estimates for the top-20 true heavy hitters — emitted with
    // their exact counts so the oracle pins BOTH the sketch arithmetic
    // BPE tokenizer-training merge round: adjacent character-pair
    // frequencies over the vocabulary, word-frequency weighted, top 50
    // exact set-similarity join, prefix-filtered (PPJoin family)
    "q_ppjoin" -> ((s, d) =>
      DedupOps.ppjoinPairs(t(s, d, "documents"), PpJoinThrPm)),

    // winnowing fingerprints (MOSS): rightmost-min of each hash window
    "q_winnow" -> ((s, d) =>
      DedupOps.winnowFingerprints(t(s, d, "documents"), WinnowN, WinnowW)),

    // MOSS match stage: pairs sharing >= k capped fingerprints
    "q_winnow_pairs" -> ((s, d) =>
      DedupOps.winnowPairs(t(s, d, "documents"), WinnowN, WinnowW,
        WinnowMinShared)),

    "q_bpe_pairs" -> ((s, d) => LmOps.bpePairCounts(t(s, d, "documents"), 50)),

    // BPE merge TRAINING rounds: the sequential merge list (greedy
    // argmax + left-to-right merge) both engines derive independently
    "q_bpe_train" -> ((s, d) =>
      LmOps.bpeTrain(t(s, d, "documents"), BpeTrainRounds)),

    // tokenize with the learned merges: per-doc word + token counts
    "q_bpe_apply" -> ((s, d) =>
      LmOps.bpeApply(t(s, d, "documents"), BpeTrainRounds)),

    // language-balanced subsample: every lang keeps its mixId-smallest
    // n_min docs (n_min = smallest language) — re-shard-stable mixture cut
    "q_balance" -> ((s, d) => LmOps.balancedSample(t(s, d, "documents"))),

    // and the never-underestimates bound row by row
    "q_cms" -> ((s, d) => {
      val th = graft.core.CacheScope.global.persist(
        t(s, d, "documents")
          .select(explode(regexp_extract_all(col("text"), lit("[^ ]+"), lit(0))).as("tok"))
          .select(col("tok"), Fns.tokenHash(col("tok")).as("h")))
      val cms = SketchOps.cmsSketch(th, col("h"))
      val top = th.groupBy("tok", "h").agg(count(lit(1)).as("n_true"))
        .orderBy(col("n_true").desc, col("tok").asc).limit(20)
      SketchOps.cmsEstimate(top, col("h"), cms)
        .select(col("tok"), col("n_true"), col("n_est"))
    }),

    // sketch-then-verify heavy hitters: CMS estimates gate which tokens
    // get an exact count (estimates are one-sided, so candidates ⊇ truth
    // and the exact filter recovers the ground truth EXACTLY — the oracle
    // is the direct heavy-hitter query, never touching the sketch). At
    // scale the exact pass counts only the candidate set, not the corpus
    // vocabulary
    "q_heavy_exact" -> ((s, d) => {
      val th = graft.core.CacheScope.global.persist(
        t(s, d, "documents")
          .select(explode(regexp_extract_all(col("text"), lit("[^ ]+"), lit(0))).as("tok"))
          .select(col("tok"), Fns.tokenHash(col("tok")).as("h")))
      val cms = SketchOps.cmsSketch(th, col("h"))
      val cand = SketchOps.cmsEstimate(th.select("tok", "h").distinct(), col("h"), cms)
        .filter(col("n_est") >= 200L)
      th.join(cand.select("tok"), Seq("tok"), "left_semi")
        .groupBy("tok").agg(count(lit(1)).as("n_true"))
        .filter(col("n_true") >= 200L)
    }),

    // corpus vocabulary: token-frequency dictionary over the BPE-ish
    // pre-tokens, top-50 by (count, token) — map-side-combined groupBy
    // into a window-free TakeOrderedAndProject
    "q_vocab" -> ((s, d) => {
      t(s, d, "documents")
        .select(explode(regexp_extract_all(lower(col("text")),
          lit(Fns.BpeTokenPattern), lit(0))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(50)
    }),

    // web-graph edge extraction: decode the binary html column, pull
    // href targets by regexp (codegen'd), aggregate the host-level link
    // graph — one explode + one map-side-combined groupBy, no joins
    "q_links" -> ((s, d) => {
      val pg = Synth.pagesLinked(s, d)
      pg.select(Fns.urlNormHost(col("url")).as("src_host"),
          explode(regexp_extract_all(decode(col("html"), "UTF-8"),
            lit("href=\"([^\"]+)\""), lit(1))).as("href"))
        .groupBy(col("src_host"), Fns.urlNormHost(col("href")).as("dst_host"))
        .agg(count(lit(1)).as("n_links"))
    }),

    // capture-level URL canonicalization + latest-capture rollup (the CDX
    // urlkey step): full string pipeline on Spark, closed-form arithmetic
    // oracle on DuckDB — an adversarial, not mirrored, twin
    "q_url_canon" -> ((s, d) => {
      val pg = Synth.pagesCaptures(s, d)
      pg.groupBy(Fns.canonicalizeUrl(col("url")).as("curl"))
        .agg(count(lit(1)).as("n_caps"),
          max(unix_micros(col("warc_ts"))).as("last_us"))
    }),

    // recrawl frontier: stalest-first per-host politeness schedule over
    // the canonicalized capture log
    "q_frontier" -> ((s, d) =>
      CrawlOps.frontierSchedule(Synth.pagesCaptures(s, d),
        FrontierBaseUs, FrontierDelayUs)),

    // host-level corpus stats over MESSY urls (scheme/host case, default
    // ports, query strings): normalize then one hash-shuffle groupBy
    "q_url_hosts" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val url = concat(
        when(col("doc_id") % 3 === 0, lit("HTTPS://"))
          .when(col("doc_id") % 3 === 1, lit("https://")).otherwise(lit("http://")),
        lit("Host"), (col("doc_id") % 41).cast("string"), lit(".Example.org"),
        when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
        lit("/p/"), col("doc_id").cast("string"),
        when(col("doc_id") % 7 === 0, lit("?q=x")).otherwise(lit("")))
      docs.select(Fns.urlNormHost(url).as("host"),
          length(col("text")).cast("long").as("len"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"), sum("len").as("total_len"))
    }),

    // repetition quality signal (duplicate-n-gram fraction, the
    // Gopher-style filter): per-mille share of the most frequent 10-gram.
    // A pure per-row function — the native kernel keeps the query a single
    // zero-shuffle map stage (the explode + double-groupBy formulation,
    // which the DuckDB oracle still uses, shuffles rows x shingles rows)
    "q_rep_ngrams" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        graft.plans.TextHashExpressions
          .repNgramPm(col("text"), DedupOps.ShingleCap, DedupOps.ShingleLen).as("rep_pm"))
    }),

    // --- pages invariant (north rule per-row checksum) ---
    "q_pages_invariant" -> ((s, d) => {
      Synth.pages(s, d).select(col("url"), sha2(col("text"), 256).as("text_sha"),
        us(col("warc_ts")).as("warc_us"), col("lang"))
    }),

    // --- filters / scalar functions (tags + timestamp + WKT catalog) ---
    "q_tag_filter" -> ((s, d) => {
      // Tags::RegexFilter + KeyValueFilter analog (tags/regex_filter.hpp:40-84)
      t(s, d, "documents")
        .filter(col("text").rlike("the [a-z]+ (slow|fast)") && col("lang") =!= "zh")
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // tag -> string exports (k=v + hstore escaping, to_string.hpp:43-110):
    // a synthesized tags map whose name value carries a quote AND a
    // backslash, so the oracle exercises both escape paths
    "q_tag_string" -> ((s, d) => {
      val tags = map(
        lit("lang"), col("lang"),
        lit("name"), concat(lit("doc \""), col("doc_id").cast("string"), lit("\" \\")),
        lit("source"), col("source"))
      t(s, d, "documents").select(col("doc_id"),
        graft.functions.TagStrings.tagsKeyEqualsValue(tags, ",").as("kv"),
        graft.functions.TagStrings.tagsHstore(tags).as("hstore"))
    }),

    // config-compiled first-match rule chain (KeyFilter/RegexFilter
    // semantics) — each of the four rule types decides some documents
    "q_tag_rules" -> ((s, d) => {
      import graft.functions.TagRules._
      val tags = map(lit("lang"), col("lang"), lit("source"), col("source"))
      val rules = Seq(
        KeyValue("lang", "en", verdict = true),
        KeyIn("source", Seq("src1", "src2", "src3"), verdict = false),
        KeyValueRegex("lang", "^(de|fr)$", verdict = true),
        KeyExists("lang", verdict = false))
      t(s, d, "documents").select(col("doc_id"),
        firstMatch(tags, rules, default = false).cast("long").as("keep"))
    }),

    "q_timestamp_iso" -> ((s, d) => {
      // Timestamp::to_iso (utils/timestamp.hpp:54-67)
      t(s, d, "events").select(col("event_id"),
        date_format(col("ts").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("iso"))
    }),

    "q_string_table" -> ((s, d) => {
      // StringTable frequency dictionary (utils/stringtable.hpp:115-159):
      // hot strings get small ids — rank tokens by count desc.
      val toks = t(s, d, "documents")
        .select(explode(regexp_extract_all(col("text"), lit("[^ ]+"), lit(0))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      // TakeOrderedAndProject top-k with window-free rank (see q3_topk).
      val top = graft.core.CacheScope.global.persist(
        toks.orderBy(col("cnt").desc, col("tok")).limit(100))
      val ahead = broadcast(top.select(col("cnt").as("c2"), col("tok").as("t2")))
      top.join(ahead, col("c2") > col("cnt") ||
          (col("c2") === col("cnt") && col("t2") <= col("tok")))
        .groupBy(col("tok"), col("cnt"))
        .agg(count(lit(1)).as("rank"))
    }),

    "q_fanout" -> ((s, d) => {
      // Handler::Sequence tee (handler.hpp:202-282): one scan, two sinks.
      val docs = t(s, d, "documents")
      val byLang = docs.groupBy(col("lang").as("key")).agg(count(lit(1)).as("n"))
        .withColumn("dim", lit("lang"))
      val bySource = docs.groupBy(col("source").as("key")).agg(count(lit(1)).as("n"))
        .withColumn("dim", lit("source"))
      byLang.unionByName(bySource).select("dim", "key", "n")
    }),

    "q_wkt" -> ((s, d) => {
      // WKT writer with C++ setprecision(10) formatting (geometry/point.hpp:70-75)
      // — native codegen expression, not a UDF, so the export projection
      // stays inside the whole-stage codegen span
      Synth.points(s, d).filter(col("pid") % 101 === 0)
        .select(col("pid"), graft.plans.TextHashExpressions
          .pointWkt(col("lon_fix"), col("lat_fix")).as("wkt"))
    }),

    // --- GeoJSON Feature sink (LineString, fmtG number parity) ---
    "q_geojson" -> ((s, d) => {
      val wp = wayPoints(t(s, d, "lineitem")).filter(col("way_id") % 17 === 0)
      wp.groupBy("way_id")
        .agg(array_sort(collect_list(struct(col("seq"), col("x"), col("y"))))
          .as("p"))
        .select(col("way_id"),
          graft.plans.TextHashExpressions.lineGeoJson(col("way_id"),
            expr("transform(p, q -> q.x)"), expr("transform(p, q -> q.y)"))
            .as("gj"))
    }),

    // --- multimodal plumbing (stubbed codec, real binary pipeline) ---
    "q_multimodal" -> ((s, d) => {
      MultimodalOps.extractMedia(s, Synth.pages(s, d)).toDF()
        .select(col("url"), col("byteLen").as("byte_len"), col("width"),
          col("height"), col("nFrames").as("n_frames"))
    }),

    // frame sampling (every 4th frame; fingerprints are spec-checked
    // against the kernel, the index contract is the oracle'd part)
    "q_frames" -> ((s, d) => {
      MultimodalOps.sampleFrames(s, Synth.pages(s, d), 4, 8).toDF()
        .select(col("url"), col("frameIdx").cast("long").as("frame_idx"))
    }),

    // --- skew-safe aggregation (salted two-level density) ---
    "q_salted_density" -> ((s, d) => {
      val cells = Synth.points(s, d)
        .select(Fns.cellId(col("lon_fix"), col("lat_fix"), 8).as("cell"))
      SkewOps.saltedCount(cells, "cell", 16)
    }),

    // gap-based sessionization (30-min inactivity closes a session): the
    // classic ordered-stream operator — lag gap flag + running sum session
    // id, then per-session aggregation; scales as per-user windows
    "q_sessions" -> ((s, d) => {
      val ev = t(s, d, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapUs = us(col("ts")) - us(lag(col("ts"), 1).over(w))
      val rows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("new_sess",
          when(gapUs.isNull || gapUs > lit(1800000000L), 1L).otherwise(0L))
        .withColumn("sess_seq", sum("new_sess").over(rows))
        .groupBy(col("user_id"), col("sess_seq"))
        .agg(count(lit(1)).as("n_events"),
          min(us(col("ts"))).as("start_us"), max(us(col("ts"))).as("end_us"))
    }),

    // cohort retention matrix: users grouped by first-activity day,
    // distinct-active counts per (cohort, day offset). Two key shuffles
    // (user_id for the cohort, then the matrix agg with map-side partial
    // distinct); the cohort join reuses the user_id partitioning.
    "q_retention" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val cohort = ev.groupBy("user_id").agg(min("day").as("cohort"))
      ev.join(cohort, "user_id")
        .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
          datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
        .agg(countDistinct("user_id").as("active_users"))
    }),

    // as-of join: every click picks up the latest prior view per user —
    // tag + union + one window, a single key shuffle (HistoryOps contract:
    // (user_id, ts) unique on the right, which the events table satisfies)
    "q_asof" -> ((s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      HistoryOps.asofJoin(clicks, views, "user_id", "ts", Seq("value"), "view_")
        .select(col("event_id"), col("user_id"), us(col("ts")).as("ts_us"),
          round(col("value") * 1000000, 0).cast("long").as("click_e6"),
          us(col("view_ts")).as("view_ts_us"),
          round(col("view_value") * 1000000, 0).cast("long").as("view_e6"))
    }),

    // per-group top-k (3 best-quality docs per language), rank via
    // row_number — Spark plans WindowGroupLimit (per-partition partial
    // top-k before the shuffle), the grouped analog of q3_topk
    "q_topk_group" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        Fns.qualityScore(col("text")).cast("long").as("score"))
      val w = Window.partitionBy(col("lang")).orderBy(col("score").desc, col("doc_id"))
      docs.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
    }),

    // exact ring area/orientation scalar (the assembler's per-ring CCW
    // test as a standalone): BigInt-accumulated shoelace vs the hexagon
    // family's closed form 2A = 4s(r+h)
    "q_poly_area" -> ((s, d) =>
      Synth.hexCorpus(s, PipLargePolys).select(col("poly_id"),
        graft.plans.GeomExpressions.ringArea2(col("xs"), col("ys")).as("area2"))),

    // region extract with the complete-ways closure (the reference
    // ecosystem's extract semantics): nodes in the bbox seed their ways,
    // and kept ways pull back ALL their nodes — including out-of-region
    // ones — so no kept way dangles. Two semi-join closures, all
    // hash-shuffle equi-joins on narrow keys
    "q_extract" -> ((s, d) => {
      val pts = Synth.points(s, d)
      val refs = pts.select(expr("pid DIV 100").as("way_id"), col("pid"))
      val inRegion = col("lon_fix").between(0L, 299999999L) &&
        col("lat_fix").between(0L, 199999999L)
      val keptWays = refs.join(pts.filter(inRegion).select("pid"), "pid")
        .select("way_id").distinct()
      // node completion joins pts directly on its way derivation key
      // (functional: pid DIV 100) — see q_extract_rels
      pts.withColumn("way_id", expr("pid DIV 100"))
        .join(keptWays, "way_id")
        .select(col("pid"), col("lon_fix"), col("lat_fix"),
          when(inRegion, 1L).otherwise(0L).as("in_region"))
    }),

    // region extract with LEVEL-2 RELATION closure (complete-relations
    // semantics layered on complete-ways): in-region nodes seed ways,
    // ways seed their relations, relations seed their SUPER-relations
    // (relation-in-relation membership, one nesting level like the
    // reference's generic assembler); then completion runs DOWNWARD —
    // kept super-relations pull all their relations, kept relations all
    // their ways, kept ways all their nodes. Every step is a distinct
    // semi-join on a narrow key; nothing is broadcast-dependent.
    "q_extract_rels" -> ((s, d) => {
      val pts = Synth.points(s, d)
      val refs = pts.select(expr("pid DIV 100").as("way_id"), col("pid"))
      val relMem = graft.core.CacheScope.global.persist(
        refs.select(expr("way_id DIV 10").as("rel_id"), col("way_id")).distinct())
      val srelMem = graft.core.CacheScope.global.persist(
        relMem.select(expr("rel_id DIV 10").as("srel_id"), col("rel_id")).distinct())
      val inRegion = col("lon_fix").between(0L, 299999999L) &&
        col("lat_fix").between(0L, 199999999L)
      // upward seeding — the intermediate rel-hop dedup is deferred to
      // the srel distinct (membership joins preserve the seed SET either
      // way; the extra duplicate rows are cheaper than an exchange)
      val seedWays = refs.join(pts.filter(inRegion).select("pid"), "pid")
        .select("way_id").distinct()
      val seedRels = relMem.join(seedWays, "way_id").select("rel_id")
      val seedSrels = srelMem.join(seedRels, "rel_id").select("srel_id").distinct()
      // downward completion — same deferral: keptWays' distinct dedups
      val keptRels = srelMem.join(seedSrels, "srel_id").select("rel_id")
      val keptWays = relMem.join(keptRels, "rel_id").select("way_id").distinct()
      // node completion joins pts directly on its way derivation key: a
      // point's way membership is functional (pid DIV 100), so
      // pts ⋈ keptWays IS the kept-node set with coords already attached —
      // the former refs⋈keptWays→distinct(pid)→⋈pts path shuffled the
      // full point table twice more for the same rows (AQE turns this
      // into a broadcast join of the small kept-way set at runtime)
      pts.withColumn("way_id", expr("pid DIV 100"))
        .join(keptWays, "way_id")
        .select(col("pid"), col("lon_fix"), col("lat_fix"),
          when(inRegion, 1L).otherwise(0L).as("in_region"))
    }),

    // vector->raster: cells whose center lies inside each polygon
    "q_rasterize" -> ((s, d) =>
      SpatialOps.rasterizePolygons(Synth.hexCorpus(s, 1000), RasterizeLevel)),

    // zonal statistics: per-polygon rollup of the point-density raster
    "q_zonal" -> ((s, d) =>
      SpatialOps.zonalStats(Synth.hexCorpus(s, 1000), Synth.points(s, d),
        RasterizeLevel)),

    // raster dilation: Chebyshev-2 halo around cells with >= 3 points
    "q_dilate" -> ((s, d) =>
      SpatialOps.dilateRaster(
        SpatialOps.equirectDensity(Synth.points(s, d), DilateLevel)
          .filter(col("cnt") >= 3),
        DilateRadius, DilateLevel)),

    // raster erosion: interior core of the occupancy mask (coarser grid
    // so the mask is dense enough to HAVE an interior)
    "q_erode" -> ((s, d) =>
      SpatialOps.erodeRaster(
        SpatialOps.equirectDensity(Synth.points(s, d), ErodeLevel),
        DilateRadius, ErodeLevel)),

    // raster->vector: connected occupied-cell regions as component bboxes.
    // The occupancy grid level derives from the POINT COUNT (smallest
    // level with 4^level >= n, clamped [6,12] — integer compares, exactly
    // the oracle's CASE) so occupancy stays sparse at every scale factor:
    // a fixed grid saturates at 100x the data, percolates into one
    // grid-spanning component and turns vectorization degenerate.
    "q_vectorize" -> ((s, d) => {
      val pts = graft.core.CacheScope.global.persist(Synth.points(s, d))
      val n = pts.count()
      val level = densityLevel(n, 6, 12)
      SpatialOps.vectorizeRaster(
        SpatialOps.equirectDensity(pts, level).filter(col("cnt") >= 3))
    }),

    // distributed dense renumbering: consecutive ids in (lang, doc_id)
    // order with NO single-partition window — range-partitioned sort +
    // per-partition offsets (zipWithIndex), every stage parallel
    "q_renumber" -> ((s, d) =>
      IdOps.renumber(t(s, d, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id")),

    // snapshot diff -> change stream (the inverse of q_merge_upsert's
    // apply): full-outer key join, content compared by sha256
    "q_diff" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      // older snapshot: %11 ids absent (-> create), %7 texts truncated
      // (-> modify), retired +3000000 ids present only there (-> delete)
      val older = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            expr("substring(text, 1, length(text) - 5)"))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
      IdOps.snapshotDiff(older, docs, "doc_id", Seq("text"))
    }),

    // --- change-stream run grouping (osc create/modify/delete) ---
    "q_change_groups" -> ((s, d) => {
      // the osc writer's open_close_op_tag run grouping (xml.hpp:205-227)
      // as a scalable gaps-and-islands window over per-user ordered
      // streams: op = visible ? (version==1 ? c : m) : d
      val ev = t(s, d, "events")
      val op = when(col("event_id") % 7 === 0, "d")
        .when(col("event_id") % 3 === 0, "c").otherwise("m")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wOp = Window.partitionBy(col("user_id"), col("op")).orderBy(col("ts"), col("event_id"))
      ev.withColumn("op", op)
        .withColumn("grp", row_number().over(w) - row_number().over(wOp))
        .groupBy(col("user_id"), col("op"), col("grp"))
        .agg(count(lit(1)).as("run_len"), min("event_id").as("min_event"))
        .select("user_id", "op", "run_len", "min_event")
    }),

    // --- spatial flagship capstone: PIP tag -> web-mercator tile rollup
    // -> hottest tile per polygon (the geo twin of q_pipeline: each stage
    // is oracle'd on its own above; this pins the CHAIN). One window
    // shuffle on poly_id serves both the per-polygon total and the
    // deterministic top-1 tile
    "q_geo_pipeline" -> ((s, d) => {
      val pts = Synth.points(s, d)
      val hits = SpatialOps.pipJoinPolygons(pts, Synth.hexCorpus(s, 1000), PipLargeLevel)
      val tiled = hits.join(pts, "pid")
        .select(col("poly_id"),
          Fns.tileX(7, Fns.fixToDeg(col("lon_fix"))).as("tx"),
          Fns.tileY(7, Fns.fixToDeg(col("lat_fix"))).as("ty"))
        .groupBy("poly_id", "tx", "ty").agg(count(lit(1)).as("n"))
      val byPoly = Window.partitionBy("poly_id")
      val ord = byPoly.orderBy(col("n").desc, col("tx").asc, col("ty").asc)
      tiled
        .withColumn("rn", row_number().over(ord))
        .withColumn("n_points", sum("n").over(byPoly))
        .filter(col("rn") === 1)
        .select(col("poly_id"), col("n_points"), col("tx").as("hot_tx"),
          col("ty").as("hot_ty"), col("n").as("hot_n"))
    }),

    // deterministic stratified sampling: per-lang keep rates (training-
    // mixture weighting) decided by the mixId scatter of doc_id —
    // re-shard-stable, RNG-free, one map stage
    "q_sample" -> ((s, d) => {
      val rate = when(col("lang") === "en", 800L)
        .when(col("lang") === "de", 500L)
        .when(col("lang") === "fr", 250L).otherwise(100L)
      t(s, d, "documents").select(col("doc_id"), col("lang"),
        when(Fns.mixId(col("doc_id")) % 1000 < rate, 1L).otherwise(0L).as("kept"))
    }),

    // --- weighted systematic sample (exact-k, proportional to weight) ---
    "q_sample_sys" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        (octet_length(col("text")).cast("long") + lit(1L)).as("weight"))
      SamplingOps.systematicSample(docs, "doc_id", "weight", SampleSysK)
    }),

    // --- generic relation assembly (node + way + relation members) ---
    // Gated-output contract: the driver's compare sorts raw cell values,
    // so list-shaped results must be projected to a canonical scalar.
    // The operator API stays array<struct>; only the gated query output
    // serializes it (compact JSON, nulls rendered — matches DuckDB
    // to_json byte-for-byte on this schema).
    "q_route_assembly" -> ((s, d) => {
      val (members, nodes, ways, rels) = routeInput(s, d)
      AssemblyOps.assembleGeneric(members, nodes, ways, rels)
        .withColumn("members",
          to_json(col("members"), Map("ignoreNullFields" -> "false").asJava))
    }),

    // referential-integrity report (osmium check-refs -r): dangling
    // member references per type over the same route entity synth
    "q_check_refs" -> ((s, d) => {
      val (members, nodes, ways, rels) = routeInput(s, d)
      AssemblyOps.checkRefs(members, nodes, ways, rels)
    }),

    "q_orphans" -> ((s, d) => {
      val (members0, nodes, ways, rels) = routeInput(s, d)
      // persist: the member union (orders + lineitem-distinct) feeds one
      // anti-join per entity type — uncached it derives three times
      val members = graft.core.CacheScope.global.persist(members0)
      Seq(("n", nodes), ("w", ways), ("r", rels)).map { case (t, e) =>
        AssemblyOps.entitiesNotInAnyRelation(e, members, t)
          .agg(count(lit(1)).as("n_orphans")).withColumn("mtype", lit(t))
      }.reduce(_ unionByName _).select("mtype", "n_orphans")
    }),

    // --- assembly flagship (golden-parquet oracle) ---
    "q_area_assembly" -> ((s, d) => areaAssembly(s)),

    // --- geodesic kNN facade: strategy picked by query-set size ---
    "q_knn_geo_auto" -> ((s, d) => {
      // persist: the corpus feeds the size probe, the candidate join and
      // (via the filter) the query side — like the other kNN entries
      val pts = graft.core.CacheScope.global.persist(Synth.points(s, d))
      SpatialOps.knn(pts, pts.filter(col("pid") % 499 === 0), 5, KnnMetric.Geo)
    }),

    // --- link-graph rank (fixed-point integer PageRank, 5 rounds) ---
    "q_pagerank" -> ((s, d) => GraphOps.pageRank(linkEdges(s, d), 5)),

    // personalized PageRank: restart mass pinned to the %101 seed docs
    // (trusted-seed crawl prioritization / related-page discovery)
    "q_ppr" -> ((s, d) => {
      val e = linkEdges(s, d)
      GraphOps.pageRank(e, 5, Some(
        e.select(col("src").as("node_id")).filter(col("node_id") % 101 === 0)))
    }),

    // --- HITS hubs/authorities (integer max-normalized power iteration) ---
    "q_hits" -> ((s, d) => GraphOps.hits(linkEdges(s, d), 3)),

    // --- k-core density skeleton (bounded peel, early exit at fixpoint) ---
    "q_kcore" -> ((s, d) =>
      GraphOps.kCore(linkEdges(s, d), KCoreK, KCoreMaxRounds)),

    // --- robots-style longest-prefix URL policy match ---
    // synthetic per-host rule book: a root allow, per-section rules on a
    // (h,s) lattice with gaps, and a deeper deny layer — three prefix
    // lengths so the longest-match rule actually disambiguates
    "q_robots" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def hostOf(h: Column) = concat(lit("site"), h.cast("string"), lit(".example.org"))
      val urls = docs.select(col("doc_id").as("url_id"),
        hostOf(col("doc_id") % 13).as("host"),
        concat(lit("/sec"), (col("doc_id") % 7).cast("string"),
          lit("/page/"), col("doc_id").cast("string")).as("path"))
      val secs = docs.select((col("doc_id") % 13).as("h")).distinct()
        .select(col("h"), explode(sequence(lit(0L), lit(6L))).as("sx"))
      val root = secs.select(col("h")).distinct()
        .select(hostOf(col("h")).as("host"), lit("/").as("prefix"), lit(1L).as("allow"))
      val sec = secs.filter((col("h") * 7 + col("sx")) % 3 =!= 0)
        .select(hostOf(col("h")).as("host"),
          concat(lit("/sec"), col("sx").cast("string")).as("prefix"),
          ((col("h") + col("sx")) % 2).as("allow"))
      val deep = secs.filter((col("h") + col("sx")) % 5 === 0)
        .select(hostOf(col("h")).as("host"),
          concat(lit("/sec"), col("sx").cast("string"), lit("/page/1")).as("prefix"),
          lit(0L).as("allow"))
      SearchOps.policyMatch(urls, root.unionByName(sec).unionByName(deep))
    }),

    // --- multi-source BFS hop distance over the link graph ---
    "q_sssp" -> ((s, d) => {
      val sources = t(s, d, "documents")
        .filter(col("doc_id") % SsspSourceMod === 0)
        .select(col("doc_id").as("node_id"))
      GraphOps.hopDistance(linkEdges(s, d), sources, SsspMaxHops)
    }),

    // --- shortest-path counts (Brandes σ) from landmark seeds ---
    "q_path_counts" -> ((s, d) => {
      val seeds = t(s, d, "documents")
        .filter(col("doc_id") % PathCntSeedMod === 1)
        .select(col("doc_id").as("node_id"))
      GraphOps.shortestPathCounts(linkEdges(s, d), seeds, PathCntMaxHops)
    }),

    // --- landmark betweenness (Brandes forward σ + e6 backward δ) ---
    "q_betweenness" -> ((s, d) => {
      val seeds = t(s, d, "documents")
        .filter(col("doc_id") % PathCntSeedMod === 1)
        .select(col("doc_id").as("node_id"))
      GraphOps.landmarkBetweenness(linkEdges(s, d), seeds, PathCntMaxHops)
    }),

    // --- odd-cycle witness edges (bipartiteness test, BFS parity) ---
    "q_bipartite" -> ((s, d) => {
      val seeds = t(s, d, "documents")
        .filter(col("doc_id") % SsspSourceMod === 0)
        .select(col("doc_id").as("node_id"))
      GraphOps.oddParityEdges(linkEdges(s, d), seeds, SsspMaxHops)
    }),

    // --- deterministic Luby maximal independent set ---
    "q_mis" -> ((s, d) =>
      GraphOps.lubyMis(linkEdges(s, d), MisRounds, MisPrioMul)),

    // --- HyperBall neighborhood function (HLL counter per node) ---
    "q_hyperball" -> ((s, d) => {
      val ed = linkEdges(s, d)
      val nodes = ed.select(col("src").as("node_id"))
        .unionByName(ed.select(col("dst").as("node_id"))).distinct()
        .select(col("node_id"),
          (Fns.mixId(col("node_id")) * lit(1L << 29) +
            Fns.mixId(col("node_id") * 1009 + 3)).as("fp"))
      SketchOps.hyperBall(nodes, ed, HyperBallRounds)
    }),

    // --- iterated-MIS graph coloring (round index = color) ---
    "q_coloring" -> ((s, d) =>
      GraphOps.lubyColoring(linkEdges(s, d), ColoringRounds, ColorPrioMul)),

    // --- deterministic weighted sampling (Efraimidis–Spirakis race) ---
    // key = lnE6(1/u)·1e6 div w with u mixId-uniform: the k smallest
    // exponential arrival times, P(pick) ∝ n_chars — the quality-weighted
    // subsample cut, integer-exact in both engines
    "q_wsample" -> ((s, d) =>
      t(s, d, "documents").filter(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars").as("w"),
          (graft.plans.HllExpressions.lnE6(lit(1048576.0) /
            ((Fns.mixId(col("doc_id")) % 1048576L) + lit(1L)).cast("double"))
            * 1000000L).as("lnu"))
        .select(col("doc_id"), col("w"), expr("lnu div w").as("race_key"))
        .orderBy(col("race_key"), col("doc_id")).limit(WSampleK)),

    // --- per-group weighted sampling (A-Res per language) ---
    "q_wsample_group" -> ((s, d) =>
      SamplingOps.weightedSampleGrouped(
        t(s, d, "documents").select(col("lang"), col("doc_id"),
          col("n_chars")), "lang", "doc_id", "n_chars", WSampleGroupK)),

    // --- k-truss peeling (cohesive link-ring backbone) ---
    "q_ktruss" -> ((s, d) =>
      GraphOps.kTruss(linkEdges(s, d), KTrussK, KTrussRounds)),

    // --- topological layering (Kahn rounds, cycle cores flagged) ---
    "q_topo" -> ((s, d) =>
      GraphOps.topologicalLayers(linkEdges(s, d), TopoRounds)),

    // --- redirect-chain resolution (functional-graph doubling) ---
    // synthetic redirect map: docs with doc_id % 3 != 0 redirect to a
    // mixId-scattered target; % 3 == 0 docs are terminals
    "q_redirects" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val n = docs.count()
      CrawlOps.resolveRedirects(docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").as("src"),
          (Fns.mixId(col("doc_id") * 29 + 5) % n).as("dst")))
    }),

    // --- Borůvka minimum spanning forest (similarity-graph backbone) ---
    // distinct weights by construction (wbase·n² + a·n + b) ⇒ unique MST
    "q_mst" -> ((s, d) => {
      val e0 = t(s, d, "documents").filter(col("doc_id") < MstNodes)
        .select(col("doc_id").as("src"),
          explode(sequence(lit(1), lit(2))).as("j"))
        .withColumn("dst", Fns.mixId(col("src") * 97 + col("j") * 31) % MstNodes)
        .filter(col("dst") =!= col("src"))
      val und = e0.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
      val edges = und.select(col("a"), col("b"),
        ((Fns.mixId(col("a") * 31 + col("b") * 13 + 7) % 100000L)
          * (MstNodes * MstNodes) + col("a") * MstNodes + col("b")).as("w"))
      GraphOps.boruvkaMst(edges)
    }),

    // --- landmark harmonic closeness centrality ---
    // exact closeness is all-pairs (impossible at crawl scale); the
    // scalable estimator BFSes from a FIXED deterministic landmark set
    // and scores nodes by the integer harmonic sum over landmark dists
    "q_closeness" -> ((s, d) => {
      val lms = t(s, d, "documents")
        .filter(col("doc_id") % ClosenessLmMod === 3 &&
          col("doc_id") <= ClosenessLmCap)
        .select(col("doc_id").as("node_id"))
      GraphOps.landmarkCloseness(linkEdges(s, d), lms, ClosenessMaxHops)
    }),

    // --- per-node triangle counts (degree-ordered orientation) ---
    "q_triangles" -> ((s, d) => GraphOps.triangleCounts(linkEdges(s, d))),

    // double-sweep diameter lower bound (two BFS frontier loops)
    "q_diameter" -> ((s, d) =>
      GraphOps.doubleSweepDiameter(linkEdges(s, d), 30)),

    // deterministic random-walk corpus (DeepWalk input): 2 walks/node,
    // 4 steps, mixId-indexed sorted-neighbor choice
    "q_walks" -> ((s, d) => GraphOps.randomWalks(linkEdges(s, d), 2, 4)),

    // per-node link reciprocity (mutual-link fraction, permille)
    "q_reciprocity" -> ((s, d) => GraphOps.reciprocity(linkEdges(s, d))),

    // gazetteer geotagging: nation-name mentions planted into the corpus
    // text, resolved by exact substring counts against the nation/region
    // gazetteer (broadcast dim), winner per doc by (count, key)
    "q_geonames" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val nat = t(s, d, "nation")
      val reg = t(s, d, "region")
      val n1 = nat.select(col("n_nationkey").as("k1"), col("n_name").as("nm1"))
      val n2 = nat.select(col("n_nationkey").as("k2"), col("n_name").as("nm2"))
      val planted = docs
        .join(n1, col("doc_id") % 25 === col("k1"))
        .join(n2, (col("doc_id") * 7 + 3) % 25 === col("k2"))
        .select(col("doc_id"),
          concat(col("text"), lit(" Visit "), col("nm1"), lit(" and "),
            col("nm2"), lit(" or "), col("nm1"), lit(".")).as("text"))
      val gaz = nat.join(reg, col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("gaz_key"), col("n_name").as("gaz_name"),
          col("r_name").as("gaz_group"))
      SearchOps.gazetteerTag(planted, gaz)
        .select(col("doc_id"), col("gaz_key").as("nation_key"),
          col("gaz_name").as("nation"), col("gaz_group").as("region"),
          col("n_mentions"))
    }),

    // --- link prediction (common neighbors + Adamic-Adar, hub-capped) ---
    "q_linkpred" -> ((s, d) => GraphOps.linkPrediction(linkEdges(s, d))),

    // --- local clustering coefficient (spam-farm neighborhood density) ---
    "q_clustering" -> ((s, d) =>
      GraphOps.clusteringCoefficients(linkEdges(s, d))),

    // --- deterministic synchronous label-propagation communities ---
    "q_communities" -> ((s, d) =>
      GraphOps.labelPropagation(linkEdges(s, d), LpaRounds)),

    // --- weighted shortest paths (frontier Bellman-Ford) ---
    "q_wsssp" -> ((s, d) => {
      val weighted = linkEdges(s, d).select(col("src"), col("dst"),
        (Fns.mixId(col("src") * 31 + col("dst") * 13 + 7) % 1000 + 1).as("w"))
      val sources = t(s, d, "documents")
        .filter(col("doc_id") % SsspSourceMod === 0)
        .select(col("doc_id").as("node_id"))
      GraphOps.weightedDistance(weighted, sources, SsspMaxHops)
    }),

    // --- exact per-group discrete quantiles (histogram + cumsum) ---
    "q_quantiles" -> ((s, d) =>
      StatsOps.exactQuantiles(t(s, d, "documents"), "lang", "n_chars",
        Seq(500, 900, 990))),

    // --- weighted exact quantiles (char-mass length-bucket quantiles) ---
    "q_quantiles_w" -> ((s, d) =>
      StatsOps.exactQuantilesWeighted(
        t(s, d, "documents").select(col("lang"),
          expr("n_chars div 100").as("len_bucket"), col("n_chars")),
        "lang", "len_bucket", "n_chars", Seq(500, 900, 990))),

    // --- sample-based quantiles (deterministic bottom-k estimator) ---
    // same data as q_quantiles so exact-vs-sampled is directly comparable
    "q_quantiles_samp" -> ((s, d) =>
      StatsOps.sampledQuantiles(t(s, d, "documents"), "lang", "doc_id",
        "n_chars", SampQuantK, Seq(500, 900, 990))),

    // --- interval overlap join (bucketized 1-D range join) ---
    "q_interval_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      def iv(typ: String, modDur: Int, idCol: String) =
        ev.filter(col("event_type") === typ)
          .select(col("event_id").as(idCol), col("user_id").as("key"),
            us(col("ts")).as("start_us"),
            (us(col("ts")) +
              (col("event_id") % modDur + 1) * lit(3600000000L)).as("end_us"))
      HistoryOps.intervalJoin(
        iv("error", 48, "lid"), iv("purchase", 36, "rid"),
        bucketUs = 86400000000L, maxSpanUs = 3 * 86400000000L)
    }),

    // --- inverted index (per-term df + capped sorted posting list) ---
    // Same gated-output contract as q_route_assembly: the posting list
    // stays array<struct> at the operator API; the gated query output
    // serializes it to canonical compact JSON.
    "q_postings" -> ((s, d) =>
      SearchOps.postings(t(s, d, "documents"), minDf = 3, maxPostings = 20)
        .withColumn("postings",
          to_json(col("postings"), Map("ignoreNullFields" -> "false").asJava))),

    // --- BM25 ranked retrieval (deterministic-ln idf, e6 fixed point) ---
    "q_bm25" -> ((s, d) =>
      SearchOps.bm25(t(s, d, "documents"), Seq("spark", "merge", "window"))),

    // --- positional-postings phrase matching (offset-vote join) ---
    "q_phrase" -> ((s, d) => {
      import s.implicits._
      SearchOps.phraseMatch(t(s, d, "documents"),
        phraseSet.toDF("phrase_id", "terms"))
    }),

    // --- SQL registry round trip: the injected catalog functions reached
    // through spark.sql on a live session (GraftRegistryBridge) ---
    "q_sql_fns" -> ((s, d) => {
      org.apache.spark.sql.GraftRegistryBridge.install(s)
      t(s, d, "documents").createOrReplaceTempView("graft_docs")
      s.sql("""SELECT doc_id,
        |  tags_kv(map('lang', lang, 'source', source), ',') AS kv,
        |  tags_hstore(map('lang', lang, 'source', source)) AS hs,
        |  url_norm_host(concat('HTTPS://u@Host',
        |    cast(doc_id % 7 AS string), '.Example.ORG:443/p')) AS host
        |FROM graft_docs""".stripMargin)
    }),

    // geometry SQL catalog parity: the native expressions behind the
    // Scala surface, driven through spark.sql — point_wkt / haversine_m /
    // ring_area2 / point_in_rings / ln_e6 (reference JS geometry surface,
    // wrapper/geometry.hpp:81-213)
    "q_sql_geo" -> ((s, d) => {
      org.apache.spark.sql.GraftRegistryBridge.install(s)
      Synth.points(s, d).filter(col("pid") % 101 === 0)
        .createOrReplaceTempView("graft_pts")
      s.sql("""SELECT pid,
        |  point_wkt(lon_fix, lat_fix) AS wkt,
        |  CAST(round(haversine_m(lon_fix / 10000000.0D, lat_fix / 10000000.0D,
        |    10.0D, 20.0D) * 1000) AS BIGINT) AS mm,
        |  ring_area2(array(0L, 1000000L, 1000000L, 0L),
        |             array(0L, 0L, 1000000L, 1000000L)) AS a2,
        |  point_in_rings(lon_fix, lat_fix,
        |    array(-900000000L, 900000000L, 900000000L, -900000000L),
        |    array(-900000000L, -900000000L, 900000000L, 900000000L)) AS inside,
        |  ln_e6(CAST(pid % 1000 + 1 AS DOUBLE)) AS ln6,
        |  geohash(lon_fix, lat_fix, 5) AS gh
        |FROM graft_pts""".stripMargin)
    }),

    // --- small-file compaction plan (metadata-only layout maintenance) ---
    "q_compaction" -> ((s, d) => {
      val files = t(s, d, "documents").select(col("lang").as("part_key"),
        col("doc_id").as("file_id"), col("n_chars").cast("long").as("bytes"))
      operators.LayoutOps.compactionPlan(files, CompactionTarget)
    }),

    // --- exact polygon centroid (shoelace rational, floor-quantized) ---
    "q_centroid" -> ((s, d) => {
      val hex = Synth.hexCorpus(s, CentroidPolys)
      // per-vertex jitter makes the rings irregular, so the centroid is
      // NOT the hexagon center and the oracle must do the real shoelace
      def jx(k: Int) =
        (col("poly_id") * lit(48271L) + lit(k * 7919L)) % lit(600001L) - lit(300000L)
      def jy(k: Int) =
        (col("poly_id") * lit(69621L) + lit(k * 104729L)) % lit(600001L) - lit(300000L)
      val xs2 = array((0 until 6).map(k => element_at(col("xs"), k + 1) + jx(k)): _*)
      val ys2 = array((0 until 6).map(k => element_at(col("ys"), k + 1) + jy(k)): _*)
      hex.select(col("poly_id"),
          graft.plans.GeomExpressions.ringCentroidFix(xs2, ys2).as("c"))
        .select(col("poly_id"), element_at(col("c"), 1).as("cx_fix"),
          element_at(col("c"), 2).as("cy_fix"))
    }),

    // --- convex hull per way (exact extreme-edge rule, footprint stats) ---
    "q_hull" -> ((s, d) => {
      // no .distinct(): the hull kernel dedups points, saving a shuffle
      val pts = wayPoints(t(s, d, "lineitem"), dedup = false)
      pts.groupBy("way_id")
        .agg(sort_array(collect_list(struct(col("seq"), col("x"), col("y"))))
          .as("pts"))
        .select(col("way_id"),
          graft.plans.GeomExpressions.hullStats(col("pts.x"), col("pts.y")).as("h"))
        .select(col("way_id"), element_at(col("h"), 1).as("hull_area2"),
          element_at(col("h"), 2).as("n_hull"))
    }),

    // --- segment-intersection join (which ways cross which) ---
    "q_way_cross" -> ((s, d) => {
      val (segs, level) = crossWaySegs(s, d)
      SpatialOps.waysCrossJoin(segs, segs, level, WayCrossSpan, selfJoin = true)
    }),

    // planarize: the exact crossing POINTS (noding) — BigInt rational
    // intersection, floor fix coords, native kernel on the candidate join
    "q_planarize" -> ((s, d) => {
      val (segs, level) = crossWaySegs(s, d)
      SpatialOps.planarize(segs, segs, level, WayCrossSpan, selfJoin = true)
    }),

    // --- way-in-polygon join (which ways touch which admin areas) ---
    "q_way_poly" -> ((s, d) => {
      // same mixId scatter as q_way_cross (lattice ways never reach the
      // hexagons); polygons are the 10k-hexagon corpus
      val (segs, level) = crossWaySegs(s, d)
      SpatialOps.wayPolyJoin(segs, Synth.hexCorpus(s, PipLargePolys), level, WayCrossSpan)
    }),

    // --- point-to-way snapping (map matching: ways within tolerance) ---
    "q_snap" -> ((s, d) => {
      val pts = Synth.points(s, d)
        .select(col("pid"), col("lon_fix").as("x"), col("lat_fix").as("y"))
      val wp = wayPoints(t(s, d, "lineitem"))
      val w = Window.partitionBy("way_id").orderBy("seq")
      // persist: the level-probe count and the snap cover both read the
      // lineitem window stage (wash locally, saves the window recompute
      // at scale)
      val segs = graft.core.CacheScope.global.persist(
        wp.select(col("way_id"), col("seq"),
          lag(col("x"), 1).over(w).as("x0"), lag(col("y"), 1).over(w).as("y0"),
          col("x").as("x1"), col("y").as("y1"))
        .filter(col("x0").isNotNull &&
          abs(col("x1") - col("x0")) <= WayCrossSpan &&
          abs(col("y1") - col("y0")) <= WayCrossSpan))
      val n = segs.count()
      val level = densityLevel(n, 6, 9)
      SpatialOps.snapToWays(pts, segs, SnapRadius, level, WayCrossSpan)
    }),

    // --- sort-key overlap stats (layout health / re-cluster trigger) ---
    "q_layout_overlap" -> ((s, d) => {
      val files = t(s, d, "documents").select(col("lang").as("part_key"),
        col("doc_id").as("file_id"),
        ((col("doc_id") % 50) * 400).as("min_key"),
        ((col("doc_id") % 50) * 400 + col("n_chars") * 4).cast("long").as("max_key"))
      operators.LayoutOps.overlapStats(files, bucketKeys = 1000L,
        maxSpanKeys = 1600L)
    }),

    // --- benchmark decontamination (sliding n-gram overlap vs held-out set) ---
    "q_decontam" -> ((s, d) => {
      val docs = t(s, d, "documents")
      DedupOps.decontaminate(
        docs.filter(col("doc_id") % 11 =!= 0),
        docs.filter(col("doc_id") % 11 === 0), DecontamN)
    }),

    // corpus-internal repeated spans (memorization surface): per-span
    // doc counts over the duplicate-injected corpus, nothing pairwise
    "q_common_spans" -> ((s, d) =>
      DedupOps.commonSpans(Synth.corpus(s, d), DecontamN, 2L)),

    // bigram PMI collocation table: deterministic ln kernel on count
    // ratios, lead()-window bigrams, broadcast vocabulary joins
    "q_pmi" -> ((s, d) => LmOps.pmiCollocations(t(s, d, "documents"), 3L)),

    // --- TextRank keywords: PageRank over the word co-occurrence graph ---
    "q_textrank" -> ((s, d) =>
      LmOps.textRank(t(s, d, "documents"), TextRankIters, TextRankMinCount)),

    // --- deterministic in-polygon point sampling (augmentation) ---
    "q_poly_sample" -> ((s, d) =>
      SpatialOps.samplePointsInPolygons(Synth.hexCorpus(s, PolySamplePolys),
        PolySampleM, PolySampleK)),

    // --- raster-footprint IoU join (extraction-QA metric) ---
    // corpus B is corpus A shifted east by ~0.15°, so the pair set spans
    // the whole IoU range instead of only exact matches
    "q_iou" -> ((s, d) => {
      val a = Synth.hexCorpus(s, IouPolys)
      val b = Synth.hexCorpus(s, IouPolys).select(col("poly_id"),
        expr(s"transform(xs, v -> v + ${IouShiftFix}L)").as("xs"), col("ys"))
      SpatialOps.rasterFootprintIou(a, b, RasterizeLevel, IouThrPm)
    }),

    // --- dominant-language mosaic per cell ---
    // the "what language is this region" map: geo-tagged docs (the
    // q_geo_extract coordinate derivation) -> per-(cell, lang) counts ->
    // argmax via ONE struct-max agg (ties to the lexicographically
    // SMALLEST lang via negated-string ordering being unavailable:
    // max(struct(cnt, lang)) ties to the LARGEST lang — documented,
    // mirrored in the oracle) + exact integer share.
    "q_mosaic" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") % 3 === 0)
        .select(col("lang"),
          ((col("doc_id") * 2654435761L) % 3600000000L - 1800000000L).as("lon_fix"),
          ((col("doc_id") * 2246822519L) % 1800000000L - 900000000L).as("lat_fix"))
      val cells = docs.select(Fns.cellX(col("lon_fix"), MosaicLevel).as("bx"),
          Fns.cellY(col("lat_fix"), MosaicLevel).as("by"), col("lang"))
        .groupBy("bx", "by", "lang").agg(count(lit(1)).as("c"))
      cells.groupBy("bx", "by")
        .agg(max(struct(col("c"), col("lang"))).as("m"),
          sum(col("c")).as("total"))
        .selectExpr("bx", "by", "m.lang AS lang",
          "(m.c * 1000) div total AS share_pm")
    }),

    // --- marching-squares contour extraction (raster -> isolines) ---
    // same occupancy mask as q_dilate (level 7, >= 3 points per cell)
    "q_contours" -> ((s, d) =>
      SpatialOps.marchingSquares(
        SpatialOps.equirectDensity(Synth.points(s, d), DilateLevel)
          .filter(col("cnt") >= 3))),

    // --- adaptive quadtree tiling (variable-resolution binning) ---
    "q_quadtree" -> ((s, d) =>
      SpatialOps.quadtreeLeaves(Synth.points(s, d), QuadMaxLevel, QuadCap)),

    // --- hierarchical cell-set compaction (H3-style compact) ---
    "q_cell_compact" -> ((s, d) =>
      SpatialOps.compactCells(
        Synth.points(s, d).select(
          Fns.cellX(col("lon_fix"), CompactLevel).as("bx"),
          Fns.cellY(col("lat_fix"), CompactLevel).as("by")),
        CompactLevel)),

    // --- per-polygon compacted multi-level covers (index shipping) ---
    "q_poly_compact" -> ((s, _) =>
      SpatialOps.compactCells(
        SpatialOps.rasterizePolygons(Synth.hexCorpus(s, RegionsPolys),
            RasterizeLevel)
          .select(col("poly_id"), col("cell_x").as("bx"),
            col("cell_y").as("by")),
        RasterizeLevel, keys = Seq("poly_id"))),

    // --- PIP probed through the compacted cover (ancestor-cell join) ---
    "q_compact_pip" -> ((s, d) =>
      SpatialOps.pipJoinCompact(Synth.points(s, d),
        Synth.hexCorpus(s, RegionsPolys), RasterizeLevel)),

    // --- polygon contact matrix (neighbor graph + border/overlap) ---
    // the hex corpus is overlap-free by construction (the q_iou finding),
    // so corpus B is corpus A shifted east by one raster cell: guaranteed
    // borders AND overlaps spanning the contact-count range
    "q_adjacency" -> ((s, _) => {
      val a = Synth.hexCorpus(s, RegionsPolys)
      val b = Synth.hexCorpus(s, RegionsPolys).select(
        (col("poly_id") + RegionsPolys).as("poly_id"),
        expr(s"transform(xs, v -> v + ${AdjShiftFix}L)").as("xs"), col("ys"))
      SpatialOps.polygonAdjacency(
        SpatialOps.rasterizePolygons(a.unionByName(b), RasterizeLevel))
    }),

    // --- isochrone rings through the occupancy grid (connectivity) ---
    // BFS hops through occupied cells from deterministic seed cells —
    // a gap BLOCKS an isochrone but not the distance transform
    "q_isochrone" -> ((s, d) => {
      // persist: the occupancy mask feeds the adjacency build AND the
      // seed filter — uncached, the scan+density raster runs twice
      val occ = graft.core.CacheScope.global.persist(
        SpatialOps.equirectDensity(Synth.points(s, d), DilateLevel)
          .filter(col("cnt") >= 3).select("bx", "by"))
      val seeds = occ.filter(
        (col("bx") * (1L << DilateLevel) + col("by")) % IsoSeedMod === 3)
      SpatialOps.isochrone(occ, seeds, DilateLevel, IsoMaxHops)
    }),

    // --- antimeridian segment normalization (±180° splitting) ---
    // synthetic full-range segments: doubled lonFixOf over mixId-scattered
    // keys covers ±180° with decorrelated endpoints, so ~25% of segments
    // wrap (the doc tables' points never do)
    "q_antimeridian" -> ((s, d) =>
      SpatialOps.splitAntimeridian(t(s, d, "documents").select(
        col("doc_id").as("seg_id"),
        (Fns.lonFixOf(Fns.mixId(col("doc_id") * 4 + 1)) * 2).as("x1"),
        Fns.latFixOf(Fns.mixId(col("doc_id") * 4 + 2)).as("y1"),
        (Fns.lonFixOf(Fns.mixId(col("doc_id") * 4 + 3)) * 2).as("x2"),
        Fns.latFixOf(Fns.mixId(col("doc_id") * 4 + 4)).as("y2")))),

    // --- grid line-of-sight over the occupancy mask (rounding DDA) ---
    "q_visibility" -> ((s, d) => {
      import s.implicits._
      val occ = SpatialOps.equirectDensity(Synth.points(s, d), DilateLevel)
        .filter(col("cnt") >= 3).select("bx", "by")
      SpatialOps.lineOfSight(occ,
        losPairs.toDF("pair_id", "x0", "y0", "x1", "y1"))
    }),

    // --- pole of inaccessibility per polygon (label placement) ---
    "q_polylabel" -> ((s, _) => SpatialOps.poleOfInaccessibility(
      SpatialOps.rasterizePolygons(Synth.hexCorpus(s, RegionsPolys),
        PolyLabelLevel))),

    // --- Chebyshev distance transform (proximity-to-data field) ---
    // same occupancy mask; capped stamps + ONE min-agg, no iteration
    "q_disttrans" -> ((s, d) =>
      SpatialOps.distanceTransform(
        SpatialOps.equirectDensity(Synth.points(s, d), DilateLevel)
          .filter(col("cnt") >= 3), DilateLevel, DistTransK)),

    // --- raster region labeling (4-connected blobs of the hex raster) ---
    // SF-independent mask: the rasterized hexagon corpus; labels via the
    // pointer-jumping component loop, per-region size + bbox rollup
    "q_regions" -> ((s, _) => SpatialOps.regionLabels(
      SpatialOps.rasterizePolygons(Synth.hexCorpus(s, RegionsPolys),
          RasterizeLevel)
        .select(col("cell_x").as("bx"), col("cell_y").as("by")).distinct(),
      RasterizeLevel)),

    // --- Chaikin corner-cutting smoothing (rendering generalization) ---
    "q_chaikin" -> ((s, d) => {
      val tracks = wayTracks(t(s, d, "lineitem"))
      SpatialOps.chaikinSmooth(tracks.filter(col("way_id") % ChaikinSample === 0),
        ChaikinRounds)
    }),

    // --- freshness-decayed cell density ---
    // recency-weighted heatmap: each point's weight is 65536 >> age
    // bucket (exact integer exponential decay — half-life = one bucket;
    // a float exp() could not be oracle-compared), summed per cell in
    // ONE map-side-combinable aggregation. Stale points (age > 16) decay
    // to exactly 0 and drop out of the heat (but not the count).
    "q_decay" -> ((s, d) =>
      Synth.points(s, d)
        .select(Fns.cellX(col("lon_fix"), DecayLevel).as("bx"),
          Fns.cellY(col("lat_fix"), DecayLevel).as("by"),
          expr("shiftright(CAST(65536 AS BIGINT), " +
            "CAST(least(pid % 32, 16) AS INT))").as("w"))
        .groupBy("bx", "by")
        .agg(sum(col("w")).as("heat"), count(lit(1)).as("n"))
        .filter(col("heat") > 0)),

    // --- rendezvous-hash shard routing (minimal-movement consistency) ---
    "q_rendezvous" -> ((s, d) =>
      IdOps.rendezvousAssign(t(s, d, "documents").select("doc_id"),
        "doc_id", RendezvousShards)),

    // --- weighted TextRank: the walk follows co-occurrence counts ---
    "q_textrank_w" -> ((s, d) =>
      LmOps.textRankWeighted(t(s, d, "documents"), TextRankIters,
        TextRankMinCount)),

    // --- related hosts by content: sparse-cosine over token bags ---
    "q_host_sim" -> ((s, d) =>
      SimilarityOps.cosineSparsePairs(
        t(s, d, "documents").select(
          concat(lit("site"), (col("doc_id") % 97).cast("string")).as("key"),
          explode(split(col("text"), " ")).as("tok")),
        HostSimThrPm, HostSimDfCap)),

    // --- Douglas-Peucker way simplification (exact integer predicate) ---
    "q_simplify" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val key = col("l_orderkey") * lit(10L) + col("l_linenumber")
      val x = (col("l_orderkey") * lit(2654435761L)) % lit(3400000000L) - lit(1700000000L) +
        ((key * lit(1103515245L)) % lit(20000000L) - lit(10000000L))
      val y = (col("l_orderkey") * lit(2246822519L)) % lit(1600000000L) - lit(800000000L) +
        ((key * lit(69069L)) % lit(20000000L) - lit(10000000L))
      val pts = li.select(col("l_orderkey").as("way_id"),
        col("l_linenumber").as("seq"), x.as("x"), y.as("y")).distinct()
      SpatialOps.simplifyWays(pts, SimplifyTolFix)
    }),

    // --- street-grid orientation entropy per cell (griddedness map) ---
    // 8 undirected 22.5° sectors via exact cross-multiplied tangent
    // compares; per-cell Shannon entropy as Σ c·lnE6(n/c) div n with
    // every term e6-quantized BEFORE the sum (shuffle-order-proof)
    "q_orient" -> ((s, d) =>
      SpatialOps.orientationEntropy(wayPoints(t(s, d, "lineitem")), OrientLevel)),

    // --- metric buffer mask around ways (true point-to-segment dist) ---
    "q_buffer" -> ((s, d) =>
      SpatialOps.bufferCells(wayPoints(t(s, d, "lineitem")),
        BufferRadius, BufferLevel)),

    // --- road length per admin polygon (network-density rollup) ---
    // segment midpoints (exact floor-div) through the distributed PIP
    // join; per-segment haversine mm rounded BEFORE the sum so the
    // rollup is integer and shuffle-order-proof
    "q_road_density" -> ((s, d) => {
      val wp = wayPoints(t(s, d, "lineitem"))
      val w = Window.partitionBy("way_id").orderBy("seq")
      val segs = wp.select(col("way_id"), col("seq"), col("x"), col("y"),
          lag(col("x"), 1).over(w).as("px"), lag(col("y"), 1).over(w).as("py"))
        .filter(col("px").isNotNull)
      // persist: the midpoint frame feeds the PIP probe AND the length
      // join-back — uncached, the lineitem window + haversine runs twice
      val mid = graft.core.CacheScope.global.persist(segs.select(
        (col("way_id") * 10 + col("seq")).as("pid"),
        (Fns.idiv(col("x") + col("px") + 3600000000L, 2L) - 1800000000L)
          .as("lon_fix"),
        (Fns.idiv(col("y") + col("py") + 1800000000L, 2L) - 900000000L)
          .as("lat_fix"),
        round(Fns.haversineMeters(Fns.fixToDeg(col("px")), Fns.fixToDeg(col("py")),
          Fns.fixToDeg(col("x")), Fns.fixToDeg(col("y"))) * 1000)
          .cast("long").as("len_mm")))
      SpatialOps.pipJoinPolygons(mid.select("pid", "lon_fix", "lat_fix"),
          Synth.hexCorpus(s, RoadPolys))
        .join(mid.select("pid", "len_mm"), "pid")
        .groupBy("poly_id")
        .agg(count(lit(1)).as("n_segs"), sum("len_mm").as("len_mm"))
    }),

    // --- geofence enter/exit transitions (PIP membership change-points) ---
    // --- stay-point extraction (dwell runs on an excursion trace) ---
    "q_staypoints" -> ((s, d) =>
      SpatialOps.stayPoints(excursionTrack(s, d), StayRadius, StayMinPts)),

    // --- origin–destination flow matrix (consecutive stays → trips) ---
    "q_od" -> ((s, d) => SpatialOps.odMatrix(
      SpatialOps.stayPoints(excursionTrack(s, d), StayRadius, StayMinPts),
      OdCellFix)),

    // --- conversion funnel (view -> click -> purchase, strict order) ---
    // classic sequential-pattern stage assignment: each stage's entry is
    // the user's EARLIEST qualifying event strictly after the previous
    // stage — three filtered min-aggs chained by key joins, no window
    // over the raw stream, exact epoch-micros
    "q_funnel" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("user_id"),
        col("event_type").as("et"), us(col("ts")).as("tu"))
      val v = ev.filter(col("et") === "view").groupBy("user_id")
        .agg(min(col("tu")).as("t1"))
      val c = ev.filter(col("et") === "click").join(v, "user_id")
        .filter(col("tu") > col("t1"))
        .groupBy("user_id").agg(min(col("tu")).as("t2"))
      val p = ev.filter(col("et") === "purchase").join(c, "user_id")
        .filter(col("tu") > col("t2"))
        .groupBy("user_id").agg(min(col("tu")).as("t3"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t1"), col("t2"), col("t3"),
          (lit(1L) + col("t2").isNotNull.cast("long")
            + col("t3").isNotNull.cast("long")).as("stage"))
    }),

    // --- co-visitation matrix over visited cells (item-item counts) ---
    // the recommender shape: entities x visited 2°-cells, pairs via ONE
    // self-join on entity; the coarse pitch structurally bounds distinct
    // cells per entity (home jitter fits one cell, excursions ±5), so
    // pair volume is capped at every SF. Top-3 per cell via rank
    // pushdown, ties to the smaller partner cell.
    "q_covisit" -> ((s, d) => {
      // persisted: the (entity, cell) distinct is a full shuffle over the
      // raw ping stream and feeds BOTH sides of the pair self-join —
      // without the cache the scan+distinct runs twice
      val cells = graft.core.CacheScope.global.persist(
        excursionTrack(s, d).select(col("entity"),
          (Fns.idiv(col("x") + lit(2000000000L), CovisitPitch) * 1024 +
            Fns.idiv(col("y") + lit(2000000000L), CovisitPitch)).as("cell"))
        .distinct())
      val pairs = cells.join(cells.select(col("entity"),
          col("cell").as("cell_b")), "entity")
        .filter(col("cell") < col("cell_b"))
        .groupBy(col("cell").as("cell_a"), col("cell_b"))
        .agg(count(lit(1)).as("n_ent"))
        .filter(col("n_ent") >= 2)
      val rw = Window.partitionBy("cell_a")
        .orderBy(col("n_ent").desc, col("cell_b"))
      pairs.withColumn("rk", row_number().over(rw))
        .filter(col("rk") <= 3).drop("rk")
    }),

    // --- first-order Markov cell-transition matrix (next-cell model) ---
    // consecutive same-cell pings collapse into ONE visit before the
    // transition count; per-source top-3 via WindowGroupLimit rank
    "q_transitions" -> ((s, d) => SpatialOps.markovTransitions(
      excursionTrack(s, d), TransCellFix, TransTopK)),

    // --- space-time co-location join (contact pairs within radius+τ) ---
    // mixId scatter (not the multiplicative pointsSql lattice: that one
    // never brings two time-adjacent pids within radius — the same
    // no-collision structure crossWaySegs documents)
    "q_colocate" -> ((s, d) => {
      val obs = Synth.points(s, d).select(
          (col("pid") % GeofenceEntities).as("entity"), col("pid").as("ts"))
        .withColumn("x", Fns.mixId(col("ts") * 2) % 1800000000L - 900000000L)
        .withColumn("y", Fns.mixId(col("ts") * 2 + 1) % 1200000000L - 600000000L)
      SpatialOps.colocationJoin(obs, ColocRadius, ColocTau, ColocLevel)
    }),

    "q_geofence" -> ((s, d) => {
      val pts = Synth.points(s, d)
      val ent = col("pid") % GeofenceEntities
      val track = pts.select(ent.as("entity"), col("pid").as("ts"))
      val hits = SpatialOps.pip(s, pts)
        .select(ent.as("entity"), col("pid").as("ts"), col("poly_id"))
      SpatialOps.geofenceTransitions(track, hits)
    }),

    // --- bigram-LM perplexity scoring (CCNet-style quality filter) ---
    "q_lm_score" -> ((s, d) => {
      val docs = t(s, d, "documents")
      operators.LmOps.lmScore(docs, docs.filter(col("doc_id") % 7 === 0))
    }),

    // --- PII redaction (regex chain shared verbatim with the oracle) ---
    "q_pii" -> ((s, d) => {
      val salted = concat(col("text"),
        lit(" contact user"), (col("doc_id") % 50).cast("string"),
        lit("@mail.example.com from 10.20."),
        (col("doc_id") % 250).cast("string"), lit("."),
        (col("doc_id") % 100).cast("string"),
        lit(" id 123-45-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      t(s, d, "documents").select(col("doc_id"),
        Fns.redactPii(salted).as("red"),
        regexp_count(salted, lit(Fns.PiiEmailRegex)).cast("long").as("n_email"),
        regexp_count(salted, lit(Fns.PiiIpRegex)).cast("long").as("n_ip"),
        regexp_count(salted, lit(Fns.PiiIdRegex)).cast("long").as("n_id"))
    }),

    // --- multi-level rollup (GROUPING SETS) over the corpus facets ---
    // One pass emits per-(lang, source), per-lang, and grand-total stats;
    // Catalyst expands the rollup map-side, so the shuffle carries the
    // grouping-set id, not three separate scans.
    "q_rollup" -> ((s, d) =>
      t(s, d, "documents").rollup("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"),
          (grouping(col("lang")) * 2 + grouping(col("source")))
            .cast("long").as("gid"))
        .select(coalesce(col("lang"), lit("(all)")).as("lang"),
          coalesce(col("source"), lit("(all)")).as("source"),
          col("gid"), col("n_docs"), col("chars"))),

    // --- pivot: per-source doc counts as one column per language ---
    // Explicit value list, so the pivot is a single groupBy (no extra
    // distinct pass to discover columns) and the output schema is static.
    "q_pivot" -> ((s, d) => {
      val p = t(s, d, "documents").groupBy("source")
        .pivot("lang", PivotLangs).agg(count(lit(1)))
      p.select(col("source") +:
        PivotLangs.map(l => coalesce(col(l), lit(0L)).as(s"n_$l")): _*)
    }),

    // --- trailing event-time window (RANGE frame) per user ---
    // Logical 1-hour frame over epoch micros: peers at the same timestamp
    // are all in-frame, so the result is deterministic without a
    // tie-break; value is e3-quantized per row BEFORE the sum (file-top
    // parity rule). One shuffle on user_id.
    "q_moving" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("tsus"))
        .rangeBetween(-MovingWindowUs, 0)
      t(s, d, "events")
        .select(col("event_id"), col("user_id"), us(col("ts")).as("tsus"),
          round(col("value") * 1000).cast("long").as("ve3"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_e3_1h", sum("ve3").over(w))
        .select("event_id", "user_id", "n_1h", "sum_e3_1h")
    }),

    // --- 2-D Pareto frontier (event score x recency) ---
    // Independent axes, so the frontier is the expected ~H(n) points: the
    // events no other event beats on BOTH value and freshness.
    "q_skyline" -> ((s, d) =>
      StatsOps.skyline(
        t(s, d, "events").select(
          round(col("value") * 1000).cast("long").as("ve3"),
          us(col("ts")).as("tsus")),
        "ve3", "tsus")
        .select(col("a").as("ve3"), col("b").as("tsus"),
          col("n").as("n_events"))),

    // --- connected components over the chain-broken link graph ---
    // Chains of WccChain consecutive ids (diameter WccChain-1) force the
    // pointer-jumping rounds — the case plain label propagation pays
    // diameter shuffles for.
    "q_wcc" -> ((s, d) => GraphOps.connectedComponents(wccEdges(s, d))),

    // --- strongly connected components (mutual-link crawl cores) ---
    // FW-BW coloring rounds; label = min node id of the component
    "q_scc" -> ((s, d) =>
      GraphOps.stronglyConnectedComponents(linkEdges(s, d))),

    // --- per-group outlier flags, integer-exact z-score ---
    // |z| > 2 via cross-multiplied sample-variance inequality: no float
    // mean/stddev, so the flags are engine-exact. int64 headroom: holds to
    // ~10^7 rows/group at n_chars<=10^5; beyond that lift sx/sq to
    // decimal(38,0) (DuckDB already auto-promotes sums to HUGEINT).
    "q_zscore" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val st = docs.groupBy("lang").agg(count(lit(1)).as("n"),
        sum("n_chars").as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sq"))
      docs.join(broadcast(st), "lang")
        .withColumn("dev", col("n") * col("n_chars") - col("sx"))
        .filter(col("dev") * col("dev") * (col("n") - 1) >
          lit(ZscoreThrSq) * col("n") *
            (col("n") * col("sq") - col("sx") * col("sx")))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          signum(col("dev")).cast("long").as("side"))
    }),

    // --- midpoint along each way (linear referencing / geocoding) ---
    // Segment lengths are sqrt of an exact int64 quadrance; the running
    // sum, half-length and interpolation are the same IEEE double sequence
    // on both engines, rounded to fix units only at the very end.
    "q_line_interp" -> ((s, d) => {
      val w = Window.partitionBy("way_id").orderBy("seq")
      val segs = wayPoints(t(s, d, "lineitem")).select(col("way_id"), col("seq"),
          lag("x", 1).over(w).as("x0"), lag("y", 1).over(w).as("y0"),
          col("x").as("x1"), col("y").as("y1"))
        .filter(col("x0").isNotNull)
        .withColumn("len", sqrt(((col("x1") - col("x0")) * (col("x1") - col("x0"))
          + (col("y1") - col("y0")) * (col("y1") - col("y0"))).cast("double")))
        .withColumn("cum",
          sum("len").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      val half = segs
        .withColumn("half", max("cum").over(Window.partitionBy("way_id")) / 2)
      val frac = when(col("len") > 0,
        (col("half") - (col("cum") - col("len"))) / col("len")).otherwise(lit(0.0))
      half.filter(col("cum") >= col("half"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("way_id"),
          round(col("x0") + frac * (col("x1") - col("x0"))).cast("long").as("mx"),
          round(col("y0") + frac * (col("y1") - col("y0"))).cast("long").as("my"),
          round(col("half") * 2).cast("long").as("len_fix"))
    }),

    // --- downsample + forward-fill (gap-filled snapshots) ---
    // Regular 6-hour ticks over each user's observed span, each tick
    // carrying the as-of-last event value: one sequence explode (no
    // driver loop) + the single-window as-of join. Ticks before a user's
    // first event keep null payloads (left as-of semantics).
    "q_resample" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("user_id"),
        us(col("ts")).as("tsus"),
        round(col("value") * 1000).cast("long").as("ve3"))
      val grid = ev.groupBy("user_id")
        .agg(floor(min("tsus") / ResampleUs).as("h0"),
          floor(max("tsus") / ResampleUs).as("h1"))
        .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("h"))
        .select(col("user_id"), (col("h") * ResampleUs).as("tsus"))
      HistoryOps.asofJoin(grid, ev, "user_id", "tsus", Seq("ve3"), "last_")
        .select("user_id", "tsus", "last_tsus", "last_ve3")
    }),

    // --- per-tile distinct-visitor HLL (geo x sketch composition) ---
    // The tile-histogram shape of q_tiles carrying a 64-byte HLL sketch
    // instead of a count: distinct visitors per z7 web-mercator tile,
    // with the exact distinct riding along as the built-in accuracy
    // audit. Same two narrow shuffles as q_hll.
    "q_tile_hll" -> ((s, d) => {
      val pts = Synth.points(s, d).select(
        (Fns.tileX(7, Fns.fixToDeg(col("lon_fix"))) * 128 +
          Fns.tileY(7, Fns.fixToDeg(col("lat_fix")))).as("tile"),
        Fns.mixId(col("pid") % GeofenceEntities).as("vh"))
      SketchOps.hllDistinctWithExact(pts, "tile", col("vh"), m = 256)
    }),

    // --- tile-pyramid HLL rollup (mergeable-sketch law, z7 → z5) ---
    // Children's register maxima re-max to the z5 parent; the oracle
    // computes the z5 sketch DIRECTLY, so parity proves merged == direct.
    "q_pyramid_hll" -> ((s, d) => {
      val pts = Synth.points(s, d).select(
        (Fns.tileX(7, Fns.fixToDeg(col("lon_fix"))) * 128 +
          Fns.tileY(7, Fns.fixToDeg(col("lat_fix")))).as("tile7"),
        Fns.mixId(col("pid") % GeofenceEntities).as("vh"))
      SketchOps.hllMergeUp(pts, "tile7", col("vh"),
          c => Fns.idiv(Fns.idiv(c, 128L), 4L) * 32 + Fns.idiv(c % 128, 4L),
          m = 256)
        .select(col("parent").as("tile"), col("n_regs"), col("reg_sum"),
          col("est_e3"))
    }),

    // --- tf-idf top terms per document (deterministic ln kernel) ---
    "q_tfidf" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val n = docs.count()
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      // plain equi-join on term: at corpus scale the vocabulary is not
      // broadcastable, and tf is already shuffled by (doc_id, term) — AQE
      // flips to broadcast when dfq is small anyway
      val scored = tf.join(dfq, "term").withColumn("score_e6",
        col("tf") * graft.plans.HllExpressions.lnE6(lit(n.toDouble) / col("df")))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score_e6").desc, col("term"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= TfidfTopK)
        .select(col("doc_id"), col("term"), col("tf"), col("score_e6"),
          col("rn").cast("long").as("rank"))
    }),

    // --- Hilbert-curve layout density (locality-preserving file keys) ---
    "q_hilbert" -> ((s, d) =>
      SpatialOps.hilbertDensity(Synth.points(s, d), HilbertOrder, HilbertShift)),

    // --- file-skipping audit of the Hilbert-clustered layout ---
    // equal-count curve-order files + footer min/max stats vs 20 probe
    // rectangles: files_read (pruning) vs rows_matched (selectivity)
    "q_skipstats" -> ((s, d) => {
      import s.implicits._
      SpatialOps.clusterSkipStats(Synth.points(s, d), HilbertOrder, SkipFiles,
        skipProbes.toDF("probe_id", "x0", "x1", "y0", "y1"))
    }),

    // --- GPS implausible-speed filter (teleport QC) ---
    "q_speed_filter" -> ((s, d) =>
      SpatialOps.speedFilter(excursionTrack(s, d), SpeedVmaxMmPerS)),

    // --- hashed-token linear classifier inference: one zero-shuffle map
    // stage (native codegen kernel), the plan a quality-classifier corpus
    // gate runs at 10^12 rows ---
    "q_classify" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.plans.TextHashExpressions.linearScore(col("text")).as("score"))
        .withColumn("keep", (col("score") > 0).cast("long"))),

    // --- overlapping passage chunking (the RAG/embedding-input step) ---
    "q_chunks" -> ((s, d) =>
      SearchOps.passageChunks(t(s, d, "documents"), ChunkWidth, ChunkStride)),

    // --- anchor-text aggregation per target host (the classic web-corpus
    // relevance signal): parse the html BINARY on the Spark side (regexp
    // over the decoded tags), closed-form arithmetic twin on DuckDB ---
    "q_anchor_text" -> ((s, d) => {
      val pg = Synth.pagesLinked(s, d)
      pg.select(explode(regexp_extract_all(decode(col("html"), "UTF-8"),
          lit("<a href=\"[^\"]*\">[^<]*</a>"), lit(0))).as("tag"))
        .select(
          Fns.urlNormHost(regexp_extract(col("tag"), "<a href=\"([^\"]*)\">", 1))
            .as("dst_host"),
          regexp_extract(col("tag"), ">([^<]*)</a>", 1).as("anchor"))
        .groupBy("dst_host", "anchor").agg(count(lit(1)).as("n"))
    }),
  )

  /** q_wcc chain break: components are runs of this many consecutive
    * doc_ids.
    */
  val WccChain = 13L

  /** q_wcc's synthetic link graph: a doc_id chain broken at every
    * [[WccChain]] boundary — maximal-diameter components (the adversarial
    * shape for label propagation; real crawl analogue: paginated mirrors).
    * SQL twin inlined in the oracle.
    */
  private def wccEdges(s: SparkSession, d: String): DataFrame = {
    val docs = graft.core.CacheScope.global.persist(
      t(s, d, "documents").select("doc_id"))
    val n = docs.count()
    docs.select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      .filter(col("dst") % WccChain =!= 0 && col("dst") < n)
  }

  /** q_zscore squared threshold (z² > 4 ⇔ |z| > 2). */
  val ZscoreThrSq = 4L

  /** q_resample tick pitch: 6 hours in epoch micros (~120 ticks over the
    * 30-day synthetic span).
    */
  val ResampleUs = 21600000000L

  /** q_tfidf terms kept per document. */
  val TfidfTopK = 3

  /** q_pivot's static language column list (the synthetic corpus's full
    * lang domain — TESTDATA contract).
    */
  val PivotLangs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** q_moving trailing-frame width: 1 hour in epoch micros. */
  val MovingWindowUs = 3600000000L

  /** q_decontam window width (tokens). 8 keeps short synthetic docs in
    * range; production GPT-3-style decontamination uses 13.
    */
  val DecontamN = 8

  /** q_centroid polygon-corpus size (jittered irregular hexagons). */
  val CentroidPolys = 2000

  /** q_way_cross span contract (fix units) — the wayPoints jitter bound. */
  val WayCrossSpan = 20000000L

  /** q_frechet match threshold (fix units, ~0.6° ≈ 66 km): pairs with
    * discrete Fréchet distance ≤ this are conflation matches. Sized for
    * the synthetic world: tracks scatter over a FIXED area, so pair
    * density — and the join's Θ(output) cost — grows quadratically with
    * SF; the original 3° threshold made q_frechet/q_dtw output millions
    * of pairs at sf0.1 (137 s of bench on two queries), which measures
    * the instance, not the plan. Real conflation radii are km-scale;
    * 1° keeps the answer set meaningful at every SF (paired with a
    * level-8 cover: level-6 cells are 5.6°x2.8° — far coarser than the
    * expanded bbox, so every cell held hundreds of tracks and the
    * candidate join, not the kernel, dominated).
    */
  val FrechetThr = 10000000L
  /** Sparse-corpus threshold (3°) and the track-count pivot: below
    * [[FrechetSmallN]] distinct tracks the 1° radius finds nothing in
    * the synthetic scatter, so both joins (and their oracle twins, via
    * the same CASE) widen to 3° — the q_vectorize adaptive-level
    * precedent (parameters derived from counts by integer compares so
    * the twin is exact).
    */
  val FrechetThrSmall = 30000000L
  val FrechetSmallN = 3000L
  /** ceil(sqrt(2*thr^2)) for both thresholds (DTW bbox expansion). */
  val DtwExpandSmall: Long =
    math.ceil(math.sqrt(2.0 * FrechetThrSmall * FrechetThrSmall)).toLong

  /** q_dtw cumulative squared-distance budget (fix², 2·thr²) and the
    * derived bbox expansion ⌈√budget⌉ — DTW ≥ d²(a₀,b₀), so the expanded
    * bbox overlap covers every within-budget pair.
    */
  val DtwBudget = 2L * FrechetThr * FrechetThr
  val DtwExpand: Long = math.ceil(math.sqrt(DtwBudget.toDouble)).toLong

  /** Cover level for the trajectory-similarity joins: fine enough that a
    * thr-expanded track bbox spans only a few cells, so per-cell join
    * volume stays bounded (cover choice never affects the answer —
    * candidates are a superset at any level).
    */
  val TrackCoverLevel = 8

  /** q_hexbin circumradius in fix units (~3°; odd so the axial division
    * never lands on an exact representable tie). */
  val HexSizeFix = 30000001L

  /** q_map_match knobs: 1-in-MmSample ways become tracks; candidates are
    * way nodes within MmRadiusFix (cell level MmLevel — its cell height
    * 878906 fix ≥ the radius, so the 3×3 neighborhood is a complete
    * cover); a way switch between consecutive observations costs
    * MmSwitchPenalty (≈ a 1.4e6-fix jump squared). */
  val MmSample = 97L
  val MmLevel = 11
  val MmRadiusSq = 640000000000L // (8e5)^2
  val MmSwitchPenalty = 2000000000000L

  /** q_hausdorff keep-threshold on the squared fix distance: the
    * anchor-cell diagonal at the coarsest derived level (g=64 → ~6.7e7
    * fix) — candidates farther apart than one coarse cell can span are
    * "different roads", dropped. */
  val HausdorffMaxSq = 4500000000000000L

  /** q_snap tolerance (fix units, 0.2°) — wide for the synthetic scatter. */
  val SnapRadius = 2000000L

  /** q_sample_sys slot count (target sample size). */
  val SampleSysK = 97L

  /** Excursion trace for the mobility queries (q_staypoints, q_od):
    * small jitter (< 3e6) normally, a 1-in-7 long hop per axis — runs
    * form between hops, so stays are real.
    */
  private def excursionTrack(s: SparkSession, d: String): DataFrame = {
    val mx = Fns.mixId(col("pid") * lit(2L))
    val my = Fns.mixId(col("pid") * lit(2L) + lit(1L))
    val x = when(mx % 7 === 0, mx % lit(100000000L)).otherwise(lit(0L)) +
      (mx % lit(3000000L))
    val y = when(my % 7 === 0, my % lit(100000000L)).otherwise(lit(0L)) +
      (my % lit(3000000L))
    Synth.points(s, d).select(
      (col("pid") % GeofenceEntities).as("entity"), col("pid").as("ts"),
      x.as("x"), y.as("y"))
  }

  /** q_od grid pitch (fix units, 0.06°) — sized so the excursion trace's
    * jitter span (3e6) covers a 5x5 cell block and the matrix is dense.
    */
  val OdCellFix = 600000L

  /** q_transitions grid pitch (fix, 0.2°) — comparable to the excursion
    * trace's jitter span (3e6) so ordinary steps cross cell borders often
    * enough for a dense matrix — and destinations kept per source cell.
    */
  val TransCellFix = 2000000L
  val TransTopK = 3

  /** q_covisit grid pitch (fix, 2°) — coarse enough that an entity's
    * distinct visited cells are structurally bounded (≈ ≤ 121) at any SF.
    */
  val CovisitPitch = 20000000L

  /** q_kmv sample size — small enough that some languages fall below it
    * at sf0.001 (exercising the exact-count branch), large enough that
    * none do at sf0.01 (exercising the estimator).
    */
  val KmvK = 64

  /** q_staypoints step tolerance (fix units) and minimum dwell length. */
  val StayRadius = 8000000L
  val StayMinPts = 3

  /** q_colocate contact radius (fix, 1°), time window (ts units) and cell
    * level — level 7 keeps the y cell width (1.8e9/128 ≈ 1.4e7) above the
    * radius, the completeness precondition of the 3x3x3 cover.
    */
  val ColocRadius = 10000000L
  val ColocTau = 1000L
  val ColocLevel = 7

  /** q_dbscan parameters: point subset (pid % mod == 0 — sized so the
    * oracle's lat-band pair join stays brute-forceable at sf0.01), eps in
    * meters, and the minimum neighborhood size INCLUDING the point itself.
    */
  val DbscanPidMod = 17L
  val DbscanEpsM = 150000.0
  val DbscanMinPts = 3

  /** q_sssp seed rule (doc_id % mod == 0) and BFS round bound. */
  val SsspSourceMod = 101L
  val SsspMaxHops = 6

  /** q_path_counts seed rule (doc_id % mod == 1) and σ-propagation hop
    * bound — kept small because σ multiplies by the branching factor per
    * hop and the oracle unrolls one CTE stage per hop.
    */
  val PathCntSeedMod = 103L
  val PathCntMaxHops = 4

  /** q_bpe_train merge rounds (the oracle unrolls exactly this many). */
  val BpeTrainRounds = 8

  /** Shared q_bpe_train / q_bpe_apply trainer stages: w0 = spaced char
    * state per vocabulary word, then per round pc = weighted adjacent
    * pair counts, top = argmax merge, w{r} = greedy left-to-right fold
    * via list_reduce over a '#'-seeded token chain (boundary-space
    * ends_with = token-exact last-symbol test). MATERIALIZED — the chain
    * reuses each stage 2-3x and default inlining would be exponential.
    * Degenerate-input hygiene: w{r} reads top{r} via LEFT JOIN ON TRUE,
    * so if merges exhaust before BpeTrainRounds (empty top{r}) the NULL
    * merge falls through the CASE and w{r} = w{r-1} — matching the Spark
    * trainer's early exit instead of collapsing the state to zero rows.
    */
  private lazy val bpeStagesSql: String = {
    val stages = (1 to BpeTrainRounds).map { r =>
      s"""pc$r AS MATERIALIZED (
         |  SELECT a[i + 1] AS x, a[i + 2] AS y, CAST(sum(wc) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT wc, a, unnest(range(0, len(a) - 1)) AS i FROM (
         |      SELECT wc, string_split(trim(s), ' ') AS a FROM w${r - 1})
         |    WHERE len(a) >= 2)
         |  GROUP BY 1, 2),
         |top$r AS MATERIALIZED (
         |  SELECT x, y, cnt FROM pc$r ORDER BY cnt DESC, x, y LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT w, wc, ' ' || substr(acc, 3) || ' ' AS s FROM (
         |    SELECT w, wc, list_reduce(
         |      list_prepend('#', string_split(trim(s), ' ')),
         |      (acc, cur) -> CASE
         |        WHEN ends_with(acc, ' ' || t.x) AND cur = t.y
         |        THEN substr(acc, 1, length(acc) - length(t.x) - 1) ||
         |          ' ' || t.x || t.y
         |        ELSE acc || ' ' || cur END) AS acc
         |    FROM w${r - 1} LEFT JOIN top$r t ON TRUE))""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT w, wc,
       |    ' ' || array_to_string(regexp_extract_all(w, '.'), ' ') || ' ' AS s
       |  FROM (
       |    SELECT w, count(*) AS wc FROM (
       |      SELECT unnest(regexp_extract_all(text, '[^ ]+')) AS w FROM documents)
       |    GROUP BY 1)),
       |$stages""".stripMargin
  }

  /** q_ktruss: truss order (support ≥ k−2 = 1 triangle per surviving
    * edge) and the peel-round cap both engines run exactly.
    */
  val KTrussK = 3
  val KTrussRounds = 5

  /** q_mis round cap (the oracle unrolls exactly this many; Luby halves
    * the graph per expected round, so 12 covers any SF here — both
    * engines no-op identically on drained rounds) and the priority-draw
    * multiplier fed to mixId.
    */
  val MisRounds = 12
  val MisPrioMul = 1000003L

  /** q_coloring round cap (winner-only removal drains slower than MIS —
    * expected rounds ~ max-degree-ish on this graph) and its own prio
    * multiplier.
    */
  val ColoringRounds = 24
  val ColorPrioMul = 999983L

  /** q_wsample: weighted-race sample size. */
  val WSampleK = 100

  /** q_quantiles_samp: bottom-k sample size per group. */
  val SampQuantK = 64

  /** q_wsample_group: per-group weighted-race sample size. */
  val WSampleGroupK = 20

  /** q_topo: Kahn round horizon (nodes still blocked after -> layer -1). */
  val TopoRounds = 8

  /** q_hyperball radius bound (ball estimates emitted for r = 0..this). */
  val HyperBallRounds = 3

  /** q_ppjoin Jaccard threshold (permille) — high, so prefixes stay a
    * token or two and the candidate join is sparse.
    */
  val PpJoinThrPm = 980L

  /** q_winnow: gram length and window width (guarantee threshold
    * n + w − 1 = 8 shared tokens).
    */
  val WinnowN = 4
  val WinnowW = 5

  /** q_winnow_pairs emission floor (shared distinct fingerprints). */
  val WinnowMinShared = 3L

  /** q_closeness landmark rule (doc_id % mod == 3, capped — the landmark
    * set stays ≤ 100 nodes at ANY scale factor, the fixed-budget contract
    * of landmark centrality) and BFS hop bound.
    */
  val ClosenessLmMod = 97L
  val ClosenessLmCap = 9700L
  val ClosenessMaxHops = 4

  /** q_mst node-id bound — sized so the oracle's minimax-path closure
    * (pairs × distinct weights) stays small while the forest is real.
    */
  val MstNodes = 60

  /** q_kcore order and peel-round bound: extra rounds past the fixpoint
    * are identity, so the early-exit loop equals this fixed unroll as
    * long as the peel converges within the bound (it does on the mixId
    * link graph — random graphs converge in O(log n); spec-asserted).
    */
  val KCoreK = 3
  val KCoreMaxRounds = 24

  /** q_communities synchronous LPA rounds (fixed-round contract — see
    * GraphOps.labelPropagation).
    */
  val LpaRounds = 4

  /** q_dilate grid level / Chebyshev radius / occupancy threshold. */
  val DilateLevel = 7

  /** q_disttrans distance cap (cells) and q_regions hexagon-corpus size
    * (SF-independent mask: components stay bounded at every scale).
    */
  val DistTransK = 4
  val RegionsPolys = 3000

  /** q_isochrone: seed rule (cid % mod == 3 over occupied cells) and
    * BFS ring bound.
    */
  val IsoSeedMod = 97L
  val IsoMaxHops = 6

  /** q_visibility sight lines: 48 deterministic (observer, target) cell
    * pairs at DilateLevel grid coords, LCG literals embedded verbatim in
    * both engines (the skipProbes pattern), biased into the occupied
    * lon/lat band so lines actually cross data.
    */
  lazy val losPairs: Seq[(Long, Long, Long, Long, Long)] =
    (0L until 48L).map { k =>
      (k, 32 + (k * 73 + 11) % 64, 21 + (k * 57 + 5) % 85,
        32 + (k * 37 + 29) % 64, 21 + (k * 91 + 43) % 85)
    }

  /** q_phrase query phrases — literals shared with the oracle's VALUES
    * list (incl. a 2-gram and a repeated-term phrase to exercise the
    * distinct-i vote rule).
    */
  lazy val phraseSet: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("big", "order", "scan"),
    1L -> Seq("group", "slow", "spark"),
    2L -> Seq("spark", "window", "join"),
    3L -> Seq("data", "a"),
    4L -> Seq("a", "part", "a"))

  /** q_concurrency sweep bucket (1 h): bucket count is bounded by the
    * corpus' calendar span — ~720 for the 30-day events table, a few 10k
    * for a decade-long crawl — never by row count.
    */
  val ConcBucketUs = 3600000000L

  /** q_cell_compact: the finest (input) cell level of the compacted
    * cover — 128×128; the point scatter occupies ~5.4k of those cells
    * densely enough that full sibling groups promote through several
    * levels at every SF.
    */
  val CompactLevel = 7

  /** q_quadtree: finest subdivision level and per-tile point cap. */
  val QuadMaxLevel = 8
  val QuadCap = 500L

  /** q_adjacency corpus-B shift: exactly one RasterizeLevel(=10) cell
    * east (3.6e9 / 1024 — literal to avoid a forward val reference).
    */
  val AdjShiftFix = 3515625L

  /** q_polylabel raster level — fine enough that admin-scale hexagons
    * have multi-cell interiors (footprints ~10-300 cells).
    */
  val PolyLabelLevel = 11

  /** q_tile_encode tile level — 9, whose integer pitches (7031250,
    * 3515625) make tile origins exact.
    */
  val TileEncLevel = 9
  val DilateRadius = 2

  /** q_erode grid level (coarser: erosion needs a dense mask). */
  val ErodeLevel = 5

  /** q_textrank PageRank iterations / bigram noise floor. */
  val TextRankIters = 3
  val TextRankMinCount = 2L

  /** q_host_sim cos² threshold (permille) and token df cap (97 synthetic
    * hosts — cap 48 drops everywhere-tokens from the metric).
    */
  val HostSimThrPm = 500L
  val HostSimDfCap = 48

  /** q_rendezvous shard count. */
  val RendezvousShards = 16

  /** q_decay grid level (pid % 32 is the synthetic age bucket). */
  val DecayLevel = 7

  /** q_chaikin rounds and way sampling (the oracle unrolls per-round
    * list comprehensions — sampling keeps its materialization modest).
    */
  val ChaikinRounds = 2
  val ChaikinSample = 7L

  /** q_lang_spans chunk width (tokens, non-overlapping). */
  val LangSpanWidth = 20

  /** q_mosaic grid level (coarse: enough docs per cell for a mode). */
  val MosaicLevel = 4

  /** q_orient grid level (coarse: enough way segments per cell for a
    * meaningful 8-sector orientation distribution).
    */
  val OrientLevel = 5

  /** q_road_density hexagon-corpus size. */
  val RoadPolys = 2000

  /** q_buffer: corridor radius (fix, 0.2°) and grid level — level 9's
    * pitches (x 7031250, y 3515625 fix) divide the domain exactly, so
    * doubled-coordinate cell centers are exact integers.
    */
  val BufferRadius = 2000000L
  val BufferLevel = 9

  /** q_poly_sample corpus / candidates per polygon / kept per polygon. */
  val PolySamplePolys = 300
  val PolySampleM = 16
  val PolySampleK = 4

  /** q_str_part grid arity: s×s = 64 equal-count partitions. */
  val StrPartS = 8

  /** q_conflate pairing radius (fix, 0.3°) — above the 2e6 per-place
    * jitter span so same-district pairs qualify, far below the
    * inter-district center spacing.
    */
  val ConflateRadius = 3000000L

  /** q_revgeo: point sample rule, hexagon-corpus size, nearest-fallback
    * radius (fix, 1°), and the cell level of the fallback join — level 7
    * keeps both cell widths (x 2.8e7, y 1.4e7) above the radius, the 3x3
    * cover completeness precondition.
    */
  val RevgeoSampleMod = 7L
  val RevgeoPolys = 1000
  val RevgeoRadius = 10000000L
  val RevgeoLevel = 7

  /** q_iou corpus size, eastward shift of corpus B (fix, ~0.15°) and
    * emission threshold (permille).
    */
  val IouPolys = 400
  val IouShiftFix = 1500000L
  val IouThrPm = 100L

  /** q_contain emission threshold (permille of doc_a's capped shingles
    * present in doc_b).
    */
  val ContainThrPm = 600L

  /** The synthetic link graph shared by the graph queries (q_pagerank,
    * q_sssp, q_triangles, q_wsssp): each doc links to 1-4 mixId-scattered
    * targets — a deterministic stand-in for hyperlinks extracted from the
    * html column. Parallel edges/self-loops may occur; every consumer
    * dedupes per its own contract. SQL twin: [[linkEdgesSql]].
    */
  private def linkEdges(s: SparkSession, d: String): DataFrame = {
    // persist the pruned id column: the density probe and the edge
    // derivation both scan it (~15 graph queries pay this entry)
    val docs = graft.core.CacheScope.global.persist(
      t(s, d, "documents").select("doc_id"))
    val n = docs.count() // doc_ids are dense 0..n-1 (TESTDATA contract)
    docs
      .select(col("doc_id").as("src"),
        explode(sequence(lit(0L), col("doc_id") % 4)).as("j"))
      .withColumn("dst",
        Fns.mixId(col("src") * 53 + col("j") * 17 + 1) % lit(n))
      .filter(col("dst") =!= col("src"))
      .select("src", "dst")
  }

  /** q_geofence entity count: pid % this is the tracked entity, pid the
    * observation time — ~N/199 positions per entity at every SF.
    */
  val GeofenceEntities = 199

  /** q_frontier schedule epoch (2024-02-01T00:00Z) and per-host
    * politeness delay (15 s) — literal in both engines.
    */
  val FrontierBaseUs = 1706745600000000L
  val FrontierDelayUs = 15000000L

  /** q_hilbert: 256x256 grid (order 8); bucket = index >> 8, i.e. 256
    * contiguous 256-cell curve ranges — the file-sized layout granule.
    */
  val HilbertOrder = 8
  val HilbertShift = 8

  /** q_skipstats: equal-count file budget and the 20 deterministic 16x16
    * probe rectangles (grid coords at HilbertOrder) — Scala-side LCG
    * literals embedded verbatim in both engines.
    */
  val SkipFiles = 64
  lazy val skipProbes: Seq[(Long, Long, Long, Long, Long)] =
    (0 until 20).map { k =>
      val x0 = (k * 97561 + 11) % 240
      val y0 = (k * 48271 + 7) % 240
      (k.toLong, x0.toLong, x0 + 15L, y0.toLong, y0 + 15L)
    }

  /** q_speed_filter ceiling: 500 m/s (supersonic = definite teleport).
    * On the excursion trace this keeps the ordinary jitter steps (≤3e6 fix
    * ≈ 33 km) mostly under it while the mx%7/my%7 excursions (up to 1e8
    * fix ≈ 1100 km) dominate the flagged set — ~26% of steps, matching the
    * 1-(6/7)² excursion probability.
    */
  val SpeedVmaxMmPerS = 500000L

  /** q_chunks window/stride (tokens): 25% overlap, RAG-typical shape. */
  val ChunkWidth = 32
  val ChunkStride = 24

  /** q_simplify tolerance (fix units, 0.4°·1e7): under the ±1e7 per-point
    * jitter of the synthetic ways, so simplification keeps a non-trivial
    * subset (neither echo-everything nor endpoints-only).
    */
  val SimplifyTolFix = 4000000L

  /** q_simplify oracle unroll depth: DP consumes ≥1 interior point per
    * split, so depth ≤ max interior points = max way size - 2 = 5 for the
    * ≤7-point lineitem-derived ways (the KERNEL recursion is unbounded —
    * only the SQL twin needs the static bound).
    */
  val SimplifyStages = 5

  /** q_compaction group-close threshold (bytes). Small vs the per-lang
    * n_chars totals so the plan yields several groups per partition.
    */
  val CompactionTarget = 20000L

  /** q_pip_large parameters: polygon-corpus size and cover level (256x256
    * grid, ~1.4° cells — 1-4 cover cells per 0.2-0.8°-radius hexagon).
    */
  val PipLargePolys = 10000
  val PipLargeLevel = 8

  /** q_rasterize grid (1024x1024: several cells per hexagon). */
  val RasterizeLevel = 10

  /** Route-relation-style typed-member input derived from the TPC-H-ish
    * tables: each order is a relation with its customer as a node member,
    * its lineitems as way members, and a derived (sometimes-missing)
    * relation member — exercising the generic assembler's completeness
    * semantics on real join keys.
    */
  private[graft] def routeInput(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val o = t(s, d, "orders"); val c = t(s, d, "customer"); val li = t(s, d, "lineitem")
    val wayKey = col("l_orderkey") * lit(10L) + col("l_linenumber")
    // member order: customer node at pos 0, way members at their
    // linenumber (1..7), the derived relation member last at pos 9
    val members =
      o.select(col("o_orderkey").as("rel_id"), lit(0L).as("member_pos"),
          lit("n").as("mtype"), col("o_custkey").as("ref"))
        .unionByName(li.select(col("l_orderkey").as("rel_id"),
          col("l_linenumber").cast("long").as("member_pos"), lit("w").as("mtype"),
          wayKey.as("ref")).distinct())
        .unionByName(o.select(col("o_orderkey").as("rel_id"), lit(9L).as("member_pos"),
          lit("r").as("mtype"), ((col("o_orderkey") % 1000L) * 7L + 1L).as("ref")))
    val nodes = c.select(col("c_custkey").as("id"), col("c_nationkey").cast("long").as("payload"))
    // (l_orderkey, l_linenumber) is not unique in the synthetic data —
    // aggregate to one deterministic payload per way id
    val ways = li.groupBy(wayKey.as("id"))
      .agg(min(col("l_quantity")).cast("long").as("payload"))
    val rels = o.select(col("o_orderkey").as("id"), col("o_custkey").as("payload"))
    (members, nodes, ways, rels)
  }

  /** Full conformance-plane assembly pipeline over synthesized entities. */
  def areaAssembly(spark: SparkSession, attemptRepair: Boolean = true): DataFrame = {
    import spark.implicits._
    val (nodes, ways, rels, members) = OsmSynth.frames(spark, 150)
    val waysC = AssemblyOps.coordinatesForWays(ways, nodes)
      .join(ways.select(col("way_id"), col("refs"), col("tags")), "way_id")
    val memberWays = members
      .join(waysC, "way_id")
      .join(rels.withColumnRenamed("tags", "relTags"), "rel_id")
      .select(col("rel_id").as("relId"), col("member_pos").as("memberPos"),
        col("way_id").as("wayId"), col("refs"), col("xs"), col("ys"),
        col("tags"), col("relTags"),
        // deterministic synthetic object timestamps (area ts = max member ts)
        (lit(1500000000000000L) + col("way_id")).as("tsMicros"),
        lit(1500000000000000L).as("relTsMicros"))
      .as[AssemblyOps.MemberWay]
    val fromRels = AssemblyOps.assembleAreas(spark, memberWays, attemptRepair)
    val loneWays = AssemblyOps.waysNotInAnyRelation(waysC, members)
    val fromWays = AssemblyOps.areasFromClosedWays(spark, loneWays)
    fromRels.unionByName(fromWays).toDF()
      .select(col("areaId").as("area_id"), col("origId").as("orig_id"),
        col("fromWay").as("from_way"), col("nOuter").as("n_outer"),
        col("nInner").as("n_inner"), col("status"), col("wkt"),
        to_json(col("tags")).as("tags_json"))
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL twins
  // ---------------------------------------------------------------------

  private val P = Synth.pointsSql

  /** SQL twin of routeInput (members/nodes/ways/rels CTE bodies). */
  private val routeSql: String =
    """members AS (
      |  SELECT o_orderkey AS rel_id, CAST(0 AS BIGINT) AS member_pos, 'n' AS mtype,
      |    o_custkey AS ref FROM orders
      |  UNION ALL
      |  SELECT DISTINCT l_orderkey, CAST(l_linenumber AS BIGINT), 'w',
      |    l_orderkey*10 + l_linenumber FROM lineitem
      |  UNION ALL
      |  SELECT o_orderkey, CAST(9 AS BIGINT), 'r', (o_orderkey % 1000) * 7 + 1 FROM orders),
      |nodes AS (SELECT c_custkey AS id, CAST(c_nationkey AS BIGINT) AS payload FROM customer),
      |ways AS (SELECT l_orderkey*10 + l_linenumber AS id,
      |  CAST(min(l_quantity) AS BIGINT) AS payload FROM lineitem GROUP BY 1),
      |rels AS (SELECT o_orderkey AS id, o_custkey AS payload FROM orders)""".stripMargin
  /** DuckDB twin of the geohash integer bins over lon_fix/lat_fix —
    * one line: `<binX> AS lonb, <binY> AS latb`. */
  private def geohashBinsSql(p: Int): String = {
    val bits = 5 * p; val lonBits = (bits + 1) / 2; val latBits = bits / 2
    s"least(((lon_fix + 1800000000) * ${1L << lonBits}) // 3600000000, ${(1L << lonBits) - 1}) AS lonb, " +
      s"least(((lat_fix + 900000000) * ${1L << latBits}) // 1800000000, ${(1L << latBits) - 1}) AS latb"
  }

  /** The geohash base32 char concat over lonb/latb (every & term
    * parenthesized — DuckDB's + binds tighter than &). */
  private def geohashCharsSql(p: Int): String = {
    val bits = 5 * p; val lonBits = (bits + 1) / 2; val latBits = bits / 2
    (0 until p).map { k =>
      val digit = (0 until 5).map { j =>
        val g = 5 * k + j
        val src = if (g % 2 == 0) s"((lonb >> ${lonBits - 1 - g / 2}) & 1)"
                  else s"((latb >> ${latBits - 1 - (g - 1) / 2}) & 1)"
        s"$src * ${1L << (4 - j)}"
      }.mkString(" + ")
      s"substr('${SpatialOps.GeohashAlphabet}', CAST($digit AS INT) + 1, 1)"
    }.mkString(" || ")
  }

  private val C = Synth.corpusSql
  private val E = Synth.embCorpusSql
  private val RevE4 =
    "CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS BIGINT)"

  /** DuckDB shingle-hash subquery over the corpus: (doc_id, sh). */
  private def shinglesSql(distinct: Boolean): String = {
    val L = DedupOps.ShingleLen
    val asc = (k: Int) => s"CAST(ascii(substr(t, i + $k, 1)) AS BIGINT)"
    val h = (0 until L).map(asc).reduceLeft((a, b) => s"($a * 31 + $b)")
    val sel = if (distinct) "SELECT DISTINCT" else "SELECT"
    s"""$sel doc_id, ($h) % 1000000007 AS sh FROM (
       |  SELECT doc_id, t, unnest(range(1, greatest(length(t) - ${L - 1}, 1) + 1)) AS i
       |  FROM (SELECT doc_id, substr(text, 1, ${DedupOps.ShingleCap}) AS t FROM corpus))""".stripMargin
  }

  /** DuckDB LSH-candidate CTE body (sig/bands/cand over `sh`). */
  private def lshCandSql: String = {
    val nBands = DedupOps.NumMinHashes / DedupOps.BandSize
    val bands = (0 until nBands).map { b =>
      val key = (0 until DedupOps.BandSize)
        .map(i => s"mh${b * DedupOps.BandSize + i}")
        .reduceLeft((acc, c) => s"(($acc * 1000003 + $c) % 1000000007)")
      s"SELECT doc_id, $b AS band, $key AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""sig AS (SELECT doc_id, ${(0 until DedupOps.NumMinHashes).map(minHashAgg).mkString(", ")}
       |  FROM sh GROUP BY doc_id),
       |bands AS ($bands),
       |kept AS (
       |  SELECT * FROM bands QUALIFY
       |    count(*) OVER (PARTITION BY band, band_key) <= ${DedupOps.MaxBandBucket}),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
       |  FROM kept a JOIN kept b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** The q_frechet oracle's CTE chain (requires WITH RECURSIVE): way
    * points → per-track bboxes → adaptive threshold `th` → bbox-expanded
    * candidates → coupling-DAG minimax paths → `fin(wa, wb, df2)`.
    * Shared by the q_frechet and q_traj_cluster twins.
    */
  private lazy val frechetCtesSql: String =
    s"""li AS ($WayPtsSql),
       |pts AS MATERIALIZED (
       |  SELECT way_id, row_number() OVER (PARTITION BY way_id ORDER BY seq) - 1 AS i,
       |         x, y
       |  FROM li),
       |np AS (SELECT way_id, count(*) AS n FROM pts GROUP BY 1),
       |-- MATERIALIZED: same DuckDB 1.0.0 IEJoin-input workaround as q_planarize
       |tr AS MATERIALIZED (
       |  SELECT way_id, min(x) AS minx, max(x) AS maxx,
       |         min(y) AS miny, max(y) AS maxy
       |  FROM pts GROUP BY 1),
       |th AS (SELECT CAST(CASE WHEN (SELECT count(*) FROM tr) <= ${FrechetSmallN}
       |  THEN ${FrechetThrSmall} ELSE $FrechetThr END AS BIGINT) AS thr),
       |cand AS (
       |  SELECT a.way_id AS wa, b.way_id AS wb
       |  FROM tr a JOIN tr b ON a.way_id < b.way_id
       |  CROSS JOIN th
       |  WHERE a.minx - th.thr <= b.maxx AND a.maxx + th.thr >= b.minx
       |    AND a.miny - th.thr <= b.maxy AND a.maxy + th.thr >= b.miny),
       |d AS MATERIALIZED (
       |  SELECT c.wa, c.wb, pa.i AS ia, pb.i AS ib,
       |    (pa.x - pb.x)*(pa.x - pb.x) + (pa.y - pb.y)*(pa.y - pb.y) AS d2
       |  FROM cand c
       |  JOIN pts pa ON pa.way_id = c.wa
       |  JOIN pts pb ON pb.way_id = c.wb),
       |paths AS (
       |  SELECT wa, wb, ia, ib, d2 AS c FROM d WHERE ia = 0 AND ib = 0
       |  UNION
       |  SELECT d.wa, d.wb, d.ia, d.ib, greatest(p.c, d.d2)
       |  FROM paths p JOIN d ON d.wa = p.wa AND d.wb = p.wb
       |    AND ((d.ia = p.ia + 1 AND d.ib = p.ib)
       |      OR (d.ia = p.ia AND d.ib = p.ib + 1)
       |      OR (d.ia = p.ia + 1 AND d.ib = p.ib + 1))),
       |fin AS (
       |  SELECT p.wa, p.wb, min(p.c) AS df2
       |  FROM paths p
       |  JOIN np na ON na.way_id = p.wa
       |  JOIN np nb ON nb.way_id = p.wb
       |  WHERE p.ia = na.n - 1 AND p.ib = nb.n - 1
       |  GROUP BY 1, 2)""".stripMargin

  /** Recursive-CTE connected-components labels over the LSH pair graph
    * (requires WITH RECURSIVE + a `corpus` CTE in scope) — the independent
    * oracle for duplicateClusters, shared by the clusters and survivors
    * queries.
    */
  private def clusterCtesSql: String =
    s"""sh AS (${shinglesSql(distinct = false)}),
       |$lshCandSql,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM cand
       |  UNION SELECT doc_b, doc_a FROM cand),
       |reach AS (
       |  SELECT src AS a, dst AS b FROM edges
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
       |cnodes AS (SELECT DISTINCT src AS id FROM edges),
       |labels AS (
       |  SELECT id AS doc_id, least(id, coalesce(min(b), id)) AS cluster_id
       |  FROM cnodes LEFT JOIN reach ON a = id GROUP BY id)""".stripMargin

  /** DuckDB twin of core.TextHash.mixId / Fns.mixId (BIGINT-safe id
    * scatter; every intermediate < 2^62 so DuckDB's non-wrapping BIGINT
    * arithmetic never overflows) — shared by the IVF/PQ sampler oracles.
    */
  /** CTE chain ending in `stay` — the staypoint table of the synthetic
    * excursion trace (twin of [[excursionTrack]] + SpatialOps.stayPoints),
    * shared by the q_staypoints and q_od oracles.
    */
  /** CTE chain ending in `tr` — the (entity, ts, x, y) excursion-trace
    * twin of [[excursionTrack]], shared by the staypoint and speed-filter
    * oracles.
    */
  private lazy val trackCtesSql: String =
    s"""p AS ($P),
       |m AS (SELECT pid % $GeofenceEntities AS entity, pid AS ts,
       |    ${mixIdSql("pid * 2")} AS mx, ${mixIdSql("pid * 2 + 1")} AS my
       |  FROM p),
       |tr AS (SELECT entity, ts,
       |    CASE WHEN mx % 7 = 0 THEN mx % 100000000 ELSE 0 END
       |      + mx % 3000000 AS x,
       |    CASE WHEN my % 7 = 0 THEN my % 100000000 ELSE 0 END
       |      + my % 3000000 AS y
       |  FROM m)""".stripMargin

  private lazy val stayCtesSql: String =
    s"""$trackCtesSql,
       |st AS (SELECT entity, ts, x, y,
       |    lag(x) OVER w AS px, lag(y) OVER w AS py
       |  FROM tr WINDOW w AS (PARTITION BY entity ORDER BY ts)),
       |br AS (SELECT entity, ts, x, y,
       |    CASE WHEN px IS NULL
       |      OR (x - px) * (x - px) + (y - py) * (y - py)
       |         > ${StayRadius * StayRadius}
       |      THEN 1 ELSE 0 END AS brk
       |  FROM st),
       |rn AS (SELECT entity, ts, x, y,
       |    sum(brk) OVER (PARTITION BY entity ORDER BY ts
       |      ROWS UNBOUNDED PRECEDING) AS run
       |  FROM br),
       |stay AS (SELECT entity, min(ts) AS start_ts, max(ts) AS end_ts,
       |  CAST(count(*) AS BIGINT) AS n_pings,
       |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
       |FROM rn GROUP BY entity, run
       |HAVING count(*) >= $StayMinPts)""".stripMargin

  /** DuckDB twin of core.CellId.hilbert: the rotate-and-accumulate walk
    * unrolled as one nested SELECT per level over grid columns
    * (x{order}, y{order}) from CTE `cells`. The loop state after
    * consuming bit `lvl` is (x{lvl}, y{lvl}, d{lvl}) — distinct names per
    * stage so nothing depends on alias-vs-column precedence — ending at
    * d0, the full Hilbert index.
    */
  private def hilbertStagesSql(order: Int, carry: Seq[String] = Nil): String = {
    val cy = carry.map(c => s"$c, ").mkString
    (order - 1 to 0 by -1).foldLeft(
      s"SELECT ${cy}x$order, y$order, CAST(0 AS BIGINT) AS d$order FROM cells") {
      (inner, lvl) =>
        val s = 1L << lvl
        val i = lvl + 1
        s"""SELECT $cy
           |  CASE WHEN (y$i & $s) > 0 THEN x$i
           |       WHEN (x$i & $s) > 0 THEN ${s - 1} - y$i ELSE y$i END AS x$lvl,
           |  CASE WHEN (y$i & $s) > 0 THEN y$i
           |       WHEN (x$i & $s) > 0 THEN ${s - 1} - x$i ELSE x$i END AS y$lvl,
           |  d$i + ${s * s} * xor(
           |    3 * (CASE WHEN (x$i & $s) > 0 THEN 1 ELSE 0 END),
           |    (CASE WHEN (y$i & $s) > 0 THEN 1 ELSE 0 END)) AS d$lvl
           |FROM ($inner)""".stripMargin
    }
  }

  /** Fns.langId twin fragments over a padded-text column `pt`: the
    * marker-count argmax CASE (ties to the earlier marker-list entry,
    * exactly the Column fold's order) and the `best` score expression.
    * Shared by the q_lang_id and q_lang_spans oracles.
    */
  private lazy val langIdScoresSql: Seq[(String, String)] =
    Fns.LangMarkers.map { case (lang, ms) =>
      val cnt = ms.map(m =>
        s"((length(pt) - length(replace(pt, '$m', ''))) // ${m.length})")
        .mkString(" + ")
      lang -> s"($cnt)"
    }
  private lazy val langIdBestSql: String =
    langIdScoresSql.map(_._2).reduceLeft((a, b) => s"greatest($a, $b)")
  private lazy val langIdCaseSql: String = {
    val cases = langIdScoresSql.map { case (lang, sc) =>
      s"WHEN $sc = best AND $sc > 0 THEN '$lang'"
    }.mkString(" ")
    s"(CASE $cases ELSE 'und' END)"
  }

  private def mixIdSql(e: String): String = {
    val M = "2147483647"
    def xs(z: String) = s"xor(($z), (($z) >> 16))"
    val z0 = s"((($e) % $M + $M) % $M)"
    val z1 = xs(s"(($z0 * 1103515245 + 12345) % $M)")
    xs(s"(($z1 * 69069 + 1) % $M)")
  }

  /** DuckDB twin of core.Hll.lnDet as CTE stages over `est0` (must expose
    * vz = zero-register count): each stage binds one subexpression so the
    * op sequence is exactly the kernel's — x = m/max(vz,1), indicator-sum
    * k, exact power-of-two scaling t, atanh-series srs, kl = k·ln2. The
    * estimate m·(kl + srs) is then bit-identical to the Column/kernel
    * forms because every op is a basic IEEE double op.
    */
  /** Full q_hll oracle at register count m — every constant derives from
    * core.Hll so a parameter change cannot drift between the engines.
    */
  /** toks/fps CTE pair: per-doc (lang, fp) with fp the docFingerprint
    * twin — shared by the q_hll and q_kmv oracles.
    */
  private lazy val fpsCtesSql: String =
    s"""toks AS (
       |  SELECT doc_id, ${tokenHashSql("tok")} AS h FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(text, '[^ ]+')) AS tok FROM documents)),
       |fps AS (
       |  SELECT d.doc_id, d.lang,
       |    coalesce((SELECT CAST(sum(h) AS BIGINT) % 2305843009213693951
       |      FROM toks WHERE toks.doc_id = d.doc_id), 0) AS fp
       |  FROM documents d)""".stripMargin

  private def hllSql(m: Int): String =
    hllSqlOver(m, fpsCtesSql, "fps", "lang")

  /** q_tile_hll / q_pyramid_hll tile CTE over the point set: z`z` tile
    * key (tx·2^z + ty, the q_tiles web-mercator formula) + mixId visitor
    * hash, as a `tl AS (...)` WITH clause.
    */
  private def tileHashCteSql(z: Int): String = {
    val n = 1 << z
    val clampLat =
      "least(greatest(lat_fix / 10000000.0, -85.05112877980659), 85.05112877980659)"
    s"""p AS ($P),
       |tl AS (
       |  SELECT
       |    least(greatest(CAST(floor((lon_fix / 10000000.0 + 180.0) / 360.0 * $n.0) AS BIGINT), 0), ${n - 1}) * $n
       |    + least(greatest(CAST(floor((1.0 - ln(tan(radians($clampLat)) + 1.0 / cos(radians($clampLat))) / pi()) / 2.0 * $n.0) AS BIGINT), 0), ${n - 1}) AS tile,
       |    ${mixIdSql(s"pid % $GeofenceEntities")} AS fp
       |  FROM p)""".stripMargin
  }

  /** HLL register/estimate CTE chain over any `src` CTE exposing a group
    * column `g` and a positive int64 hash `fp` — the twin of
    * SketchOps.hllDistinctWithExact for arbitrary groupings (per-lang
    * fingerprints, per-tile visitor hashes).
    */
  private def hllSqlOver(m: Int, withSql: String, src: String,
                         g: String, withExact: Boolean = true): String = {
    import graft.core.Hll
    val exactCol = if (withExact) ",\n  n_exact" else ""
    s"""WITH $withSql,
       |rr AS (
       |  SELECT $g, fp,
       |    fp % $m AS reg,
       |    least(bit_count((((fp >> ${Hll.log2m(m)}) & (-(fp >> ${Hll.log2m(m)}))) - 1)) + 1,
       |      ${Hll.RhoCap}) AS rho
       |  FROM $src),
       |regs AS (
       |  SELECT $g, reg, max(rho) AS mrho, count(DISTINCT fp) AS nd
       |  FROM rr GROUP BY 1, 2),
       |agg AS (
       |  SELECT $g, count(*) AS n_regs,
       |    CAST(sum(CAST(1 AS BIGINT) << (${Hll.RhoCap} - mrho))
       |      AS BIGINT) AS pop_sum,
       |    CAST(sum(nd) AS BIGINT) AS n_exact
       |  FROM regs GROUP BY 1),
       |est0 AS (
       |  SELECT $g, n_regs, n_exact,
       |    pop_sum + ($m - n_regs) * ${Hll.Scale} AS reg_sum,
       |    $m - n_regs AS vz FROM agg),
       |${lnDetCtesSql(m)}
       |SELECT $g, n_regs, reg_sum,
       |  CASE WHEN vz > 0 AND reg_sum >= ${Hll.lcThreshold(m)}
       |    THEN CAST(round((${m.toDouble} * (kl + srs)) * 1000.0) AS BIGINT)
       |    ELSE CAST(round((${Hll.estNumerator(m)} / reg_sum) * 1000.0) AS BIGINT)
       |  END AS est_e3$exactCol
       |FROM lc5""".stripMargin
  }

  private def lnDetCtesSql(m: Int): String = {
    val md = m.toDouble
    s"""lc1 AS (SELECT *, $md / CAST(greatest(vz, 1) AS DOUBLE) AS x FROM est0),
       |${lnStagesSql("lc", "lc1")}""".stripMargin
  }

  /** Hll.lnDet stages over a CTE `src` exposing a DOUBLE column `x` in
    * [1, 2^20): emits `${p}2`..`${p}5`, where `${p}5` carries `kl` and
    * `srs` with ln(x) = kl + srs, each stage one bound subexpression so
    * the IEEE op sequence is exactly the kernel's (see hllSql doc).
    */
  private def lnStagesSql(p: String, src: String): String = {
    import graft.core.Hll
    val kSum = (1 to 20).map(j =>
      s"(CASE WHEN x >= ${(1L << j).toDouble} THEN 1 ELSE 0 END)").mkString(" + ")
    val tCase = (0 to 20).map(j => s"WHEN $j THEN ${1.0 / (1L << j)}").mkString(" ")
    s"""${p}2 AS (SELECT *, ($kSum) AS k FROM $src),
       |${p}3 AS (SELECT *, x * (CASE k $tCase END) AS t FROM ${p}2),
       |${p}4 AS (SELECT *, (t - 1.0) / (t + 1.0) AS u FROM ${p}3),
       |${p}5 AS (SELECT *, k * ${Hll.Ln2} AS kl,
       |  2.0 * u * (1.0 + (u*u) * (${Hll.C3} + (u*u) * (${Hll.C5} + (u*u) * (${Hll.C7} +
       |    (u*u) * (${Hll.C9} + (u*u) * (${Hll.C11} + (u*u) * ${Hll.C13})))))) AS srs
       |  FROM ${p}4)""".stripMargin
  }

  /** DuckDB twin of CentroidKernel.roundE6(cosine) — shared by the IVF
    * oracles.
    */
  private def cosE6Sql(a: String, b: String): String = {
    val dot = s"(SELECT sum(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)) " +
      s"FROM unnest(range(1, 1 + len($b))) AS t(i))"
    val na = s"sqrt((SELECT sum(CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)) FROM unnest(range(1, 1 + len($a))) AS t(i)))"
    val nb = s"sqrt((SELECT sum(CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)) FROM unnest(range(1, 1 + len($b))) AS t(i)))"
    s"CAST(round($dot / ($na * $nb) * 1000000) AS BIGINT)"
  }

  /** DuckDB twin of PqKernel's rounded squared-L2 against the zero
    * centroid (raw PQ: residual v − 0.0 is v) between 8-dim subspace
    * j slices of `a` and `b` — shared by the PQ oracles.
    */
  private def pqSubDistSql(a: String, b: String): String = {
    val diff = s"(CAST($a[j*8+i] AS DOUBLE) - CAST($b[j*8+i] AS DOUBLE))"
    s"CAST(round((SELECT sum($diff * $diff) " +
      s"FROM unnest(range(1, 9)) AS t(i)) * 1000000) AS BIGINT)"
  }

  /** DuckDB twin of PqKernel.subDistE6Res — rounded squared-L2 between
    * 8-dim subspace-j slices of RESIDUALS (a − ca) and (b − cb), every
    * subtraction in double exactly as the kernel computes it.
    */
  private def pqResSubDistSql(a: String, ca: String, b: String, cb: String): String = {
    val diff = s"((CAST($a[j*8+i] AS DOUBLE) - CAST($ca[j*8+i] AS DOUBLE)) - " +
      s"(CAST($b[j*8+i] AS DOUBLE) - CAST($cb[j*8+i] AS DOUBLE)))"
    s"CAST(round((SELECT sum($diff * $diff) " +
      s"FROM unnest(range(1, 9)) AS t(i)) * 1000000) AS BIGINT)"
  }

  /** Survivor-selection CTEs over `corpus` + `labels` (shared by
    * q_dedup_survivors and q_pipeline): one survivor per cluster, longest
    * text, ties by doc_id; unclustered docs survive as singletons.
    */
  private val SurvivorCtesSql: String =
    """withc AS (
      |  SELECT c.doc_id, coalesce(l.cluster_id, c.doc_id) AS cid,
      |    CAST(length(c.text) AS BIGINT) AS len
      |  FROM corpus c LEFT JOIN labels l ON l.doc_id = c.doc_id),
      |surv AS (
      |  SELECT doc_id, cid AS cluster_id, len AS text_len FROM (
      |    SELECT *, row_number() OVER (PARTITION BY cid ORDER BY len DESC, doc_id) AS rn
      |    FROM withc) WHERE rn = 1)""".stripMargin

  /** DuckDB twin of Fns.qualityScore over `text` (shared by q_quality and
    * q_topk_group).
    */
  private val QualityScoreSql: String =
    """least(length(text), 400) +
      |  least(len(regexp_extract_all(text, '[^ ]+')) * 4, 400) +
      |  least(((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) // 5) * 40, 200)""".stripMargin

  /** DuckDB 8-char Horner token hash of expression `e`. */
  private def tokenHashSql(e: String): String =
    (1 to 8).map(k => s"CAST(ascii(substr($e, $k, 1)) AS BIGINT)")
      .reduceLeft((a, b) => s"($a * 31 + $b)")

  /** DuckDB twins of the 8 VecLshKernel.buckets values (12-bit sign-LSH
    * signatures) over expression `embExpr`: the deterministic hyperplane
    * weights (core.TextHash.lshWeight) are inlined as double literals, and
    * the dot product is the same ascending-index left-assoc sum the kernel
    * computes, so the signs match bit-for-bit. Dim 64 per TESTDATA.md.
    */
  private def lshBucketsSql(embExpr: String): Seq[String] =
    (0 until DedupOps.NearDupTables).map { t =>
      (0 until DedupOps.NearDupBits).map { b =>
        val dot = (0 until 64).map { j =>
          s"(${graft.core.TextHash.lshWeight(t, b, j)})*CAST($embExpr[${j + 1}] AS DOUBLE)"
        }.mkString(" + ")
        s"CASE WHEN ($dot) >= 0 THEN ${1L << b} ELSE 0 END"
      }.mkString("(", " | ", ")")
    }

  /** CTE body `eb` + unnested `bk` (vec_id, embedding, tbl, bucket) over a
    * vector CTE named `src` — shared by the near-dup and ANN oracles.
    */
  private def lshBankSql: String = {
    val buckets = lshBucketsSql("embedding")
      .zipWithIndex.map { case (e, t) => s"$e AS bucket$t" }.mkString(",\n  ")
    val bank = (0 until DedupOps.NearDupTables)
      .map(t => s"SELECT vec_id, $t AS tbl, bucket$t AS bucket FROM eb")
      .mkString("\n  UNION ALL ")
    s"""eb AS (SELECT vec_id, $buckets FROM src),
       |bk AS ($bank)""".stripMargin
  }

  /** Shared DuckDB cover CTEs (bbox → cover1 → cover) mirroring
    * SpatialOps.coverByBBox: per-row bbox cells via two chained unnests.
    * `carryList` is the projected column list, `minx..maxy` the bbox
    * expressions over `from`.
    */
  /** CTE chain from a `hexes(poly_id, cx, cy, r, h, s)` frame to
    * `zcells(poly_id, cell_x, cell_y)` — the cells (at RasterizeLevel)
    * whose exact integer center lies inside the hexagon. The DuckDB twin
    * of SpatialOps.rasterizePolygons on the hex corpus, shared by the
    * q_rasterize and q_zonal oracles.
    */
  private lazy val hexRasterCtesSql: String = hexRasterCtesSqlFrom("hexes", "")

  /** Parameterized variant: CTE names carry `tag` so two corpora can be
    * rasterized inside one oracle (q_iou). Final stage: `zcells$tag`.
    */
  /** Shared q_winnow / q_winnow_pairs CTE chain ending in `sel`
    * (doc_id, k) — the distinct packed rightmost-min fingerprint keys.
    */
  private lazy val winnowCtesSql: String = {
    val chain = (1 to WinnowN).map(k => tokenHashSql(s"ws[p + $k]"))
      .foldLeft("0")((acc, t) =>
        s"(($acc * 1000003 + ($t) % 1000000007) % 1000000007)")
    s"""toks AS (
       |  SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS ws FROM documents),
       |grams AS (
       |  SELECT doc_id, len(ws) - ${WinnowN - 1} AS np, p, $chain AS h
       |  FROM (SELECT doc_id, ws,
       |          unnest(range(0, len(ws) - ${WinnowN - 1})) AS p FROM toks)),
       |keys AS (
       |  SELECT doc_id, p, np,
       |    min(h * ${1L << 21} + (${1L << 20} - p)) OVER (
       |      PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS k
       |  FROM grams),
       |sel AS (SELECT DISTINCT doc_id, k FROM keys WHERE p <= np - $WinnowW)"""
      .stripMargin
  }

  /** Shared q_mis / q_coloring oracle builder: deterministic Luby rounds
    * unrolled. Every stage MATERIALIZED — the rem/re chain references
    * its predecessor 3-4 times, so default CTE inlining is exponential
    * in rounds (DuckDB runs out of file handles re-scanning the
    * parquet). `removeNeighbors` = true is MIS (winners + neighborhoods
    * leave); false is coloring (winners only; round = color).
    */
  private def lubySql(rounds: Int, prioMul: Long,
                      removeNeighbors: Boolean): String = {
    val stages = (1 to rounds).map { r =>
      val del = if (removeNeighbors)
        s"""del$r AS MATERIALIZED (SELECT node_id FROM win$r UNION
           |  SELECT e.dst FROM re${r - 1} e JOIN win$r w ON w.node_id = e.src),"""
          .stripMargin
      else s"del$r AS MATERIALIZED (SELECT node_id FROM win$r),"
      s"""p$r AS MATERIALIZED (SELECT node_id,
         |  ${mixIdSql(s"node_id * $prioMul + $r")} AS p FROM rem${r - 1}),
         |lose$r AS MATERIALIZED (SELECT DISTINCT e.src AS node_id FROM re${r - 1} e
         |  JOIN p$r a ON a.node_id = e.src JOIN p$r b ON b.node_id = e.dst
         |  WHERE b.p < a.p OR (b.p = a.p AND e.dst < e.src)),
         |win$r AS MATERIALIZED (SELECT node_id FROM rem${r - 1}
         |  EXCEPT SELECT node_id FROM lose$r),
         |$del
         |rem$r AS MATERIALIZED (SELECT node_id FROM rem${r - 1}
         |  EXCEPT SELECT node_id FROM del$r),
         |re$r AS MATERIALIZED (SELECT e.src, e.dst FROM re${r - 1} e
         |  JOIN rem$r a ON a.node_id = e.src
         |  JOIN rem$r b ON b.node_id = e.dst)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to rounds).map(r =>
      s"SELECT node_id, CAST($r AS BIGINT) AS round FROM win$r")
      .mkString("\nUNION ALL\n")
    s"""WITH $linkEdgesSql,
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src <> dst),
       |re0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
       |  UNION ALL SELECT b, a FROM und),
       |rem0 AS MATERIALIZED (SELECT DISTINCT src AS node_id FROM re0),
       |$stages
       |$sel""".stripMargin
  }

  /** Shared q_poly_compact / q_compact_pip CTE chain: hexesq corpus →
    * hex raster (tag q) → per-polygon unrolled sibling promotion
    * (kp/fp, MATERIALIZED — the chain reuses each stage) → `pcover`,
    * the per-polygon compacted multi-level cover (lv, poly_id, bx, by).
    */
  private lazy val polyCompactCtesSql: String = {
    val L = RasterizeLevel
    val sets = (L to 1 by -1).map { lv =>
      val src = if (lv == L)
        s"kp$L AS MATERIALIZED (SELECT DISTINCT poly_id, cell_x AS bx, " +
          "cell_y AS by FROM zcellsq)"
      else s"kp$lv AS MATERIALIZED (SELECT poly_id, bx, by FROM fp${lv + 1})"
      val full = s"fp$lv AS MATERIALIZED (SELECT poly_id, bx // 2 AS bx, " +
        s"by // 2 AS by FROM kp$lv GROUP BY 1, 2, 3 HAVING count(*) = 4)"
      s"$src,\n$full"
    }.mkString(",\n")
    val leaves = (L to 1 by -1).map { lv =>
      s"""SELECT CAST($lv AS BIGINT) AS lv, k.poly_id, k.bx, k.by FROM kp$lv k
         |LEFT JOIN fp$lv f ON f.poly_id = k.poly_id
         |  AND f.bx = k.bx // 2 AND f.by = k.by // 2
         |WHERE f.bx IS NULL""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""hexesq AS (${Synth.hexCorpusSql(RegionsPolys)}),
       |${hexRasterCtesSqlFrom("hexesq", "q")},
       |$sets,
       |pcover AS MATERIALIZED (
       |$leaves
       |UNION ALL SELECT CAST(0 AS BIGINT) AS lv, poly_id, bx, by FROM fp1)"""
      .stripMargin
  }

  private def hexRasterCtesSqlFrom(from: String, tag: String,
                                   level: Int = RasterizeLevel): String = {
    val lvl = 1 << level
    val verts = Seq(("cx + r", "cy"), ("cx + h", "cy + s"), ("cx - h", "cy + s"),
      ("cx - r", "cy"), ("cx - h", "cy - s"), ("cx + h", "cy - s"))
    val halfPlanes = verts.indices.map { i =>
      val (x1, y1) = verts(i); val (x2, y2) = verts((i + 1) % verts.length)
      s"(((($x2) - ($x1)) * (py - ($y1)) - (($y2) - ($y1)) * (px - ($x1))) >= 0)"
    }.mkString("\n  AND ")
    // ordered renames: cover1 first (its name contains "cover")
    val cover = coverCtesSql(lvl, "poly_id, cx, cy, r, h, s",
      "cx - r", "cy - s", "cx + r", "cy + s", from)
      .replace("cover1", s"cover1$tag")
      .replace("bbox", s"bbox$tag")
      .replace("cover AS (", s"cover$tag AS (")
    s"""$cover,
       |ctr$tag AS (SELECT *,
       |  ((ccx * 2 + 1) * 3600000000) // ${2L * lvl} - 1800000000 AS px,
       |  ((ccy * 2 + 1) * 1800000000) // ${2L * lvl} - 900000000 AS py
       |  FROM cover$tag),
       |zcells$tag AS (
       |  SELECT poly_id, ccx AS cell_x, ccy AS cell_y FROM ctr$tag
       |  WHERE $halfPlanes)""".stripMargin
  }

  private def coverCtesSql(lvl: Int, carryList: String, minx: String,
                           miny: String, maxx: String, maxy: String,
                           from: String): String =
    s"""bbox AS (SELECT $carryList,
       |  least((($minx + 1800000000) * $lvl) // 3600000000, ${lvl - 1}) AS cx0,
       |  least((($maxx + 1800000000) * $lvl) // 3600000000, ${lvl - 1}) AS cx1,
       |  least((($miny + 900000000) * $lvl) // 1800000000, ${lvl - 1}) AS cy0,
       |  least((($maxy + 900000000) * $lvl) // 1800000000, ${lvl - 1}) AS cy1
       |  FROM $from),
       |cover1 AS (SELECT * EXCLUDE (cx0, cx1), unnest(range(cx0, cx1 + 1)) AS ccx FROM bbox),
       |cover AS (SELECT * EXCLUDE (cy0, cy1), unnest(range(cy0, cy1 + 1)) AS ccy FROM cover1)""".stripMargin

  /** Point-to-cover cell equi-join condition (p = points, c = cover). */
  private def pointCellJoinSql(lvl: Int): String =
    s"""ON least(((p.lon_fix + 1800000000) * $lvl) // 3600000000, ${lvl - 1}) = c.ccx
       | AND least(((p.lat_fix + 900000000) * $lvl) // 1800000000, ${lvl - 1}) = c.ccy""".stripMargin

  /** Brute-force geodesic kNN oracle (haversine millimetres, ties by pid)
    * for the query set pid % m == 0 — twin of SpatialOps.knn under
    * KnnMetric.Geo.
    */
  private def knnGeoSql(m: Int): String = {
    val dist = haversineSql("p.lon_fix / 10000000.0", "p.lat_fix / 10000000.0",
      "q.lon_fix / 10000000.0", "q.lat_fix / 10000000.0")
    s"""WITH p AS ($P), q AS (SELECT * FROM p WHERE pid % $m = 0),
       |d AS (
       |  SELECT q.pid AS qid, p.pid AS pid,
       |    CAST(round(($dist) * 1000) AS BIGINT) AS dist_e3
       |  FROM p, q WHERE p.pid <> q.pid)
       |SELECT qid, pid, rank, dist_e3 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist_e3, pid) AS rank FROM d)
       |WHERE rank <= 5""".stripMargin
  }

  // null-propagating clamp (CASE, not least) — see Fns.haversineMeters
  private def haversineSql(lon1: String, lat1: String, lon2: String, lat2: String): String = {
    val deg = "0.017453292519943295769236907684886"
    val h = s"""(sin(($lat1 - $lat2) * $deg * 0.5) * sin(($lat1 - $lat2) * $deg * 0.5) +
       |  cos($lat1 * $deg) * cos($lat2 * $deg) *
       |  sin(($lon1 - $lon2) * $deg * 0.5) * sin(($lon1 - $lon2) * $deg * 0.5))""".stripMargin
    s"""(2.0 * 6372797.560856 * asin(sqrt(
       |  CASE WHEN $h > 1.0 THEN 1.0 ELSE $h END)))""".stripMargin
  }

  /** Floor division with positive divisor (DuckDB `//` truncates). */
  private def fdivSql(a: String, b: String): String =
    s"(($a) - ((($a) % ($b)) + ($b)) % ($b)) // ($b)"

  /** Shared WITH-body of the tile-clip oracles: jittered way segments →
    * level-8 cell cover (SAT refinement) → exact Liang-Barsky clip
    * fractions n0/d0 (entry) and n1/d1 (exit) as bound CTE stages; ends at
    * `t1`. The final coordinates are [[clipCoordsSql]].
    */
  private def tileClipCoreSql: String = {
    def loSqlX(c: String) = s"((($c) * 3600000000 + 255) // 256 - 1800000000)"
    def loSqlY(c: String) = s"((($c) * 1800000000 + 255) // 256 - 900000000)"
    s"""li AS (
       |  SELECT l_orderkey AS way_id, l_linenumber AS seq,
       |    ((l_orderkey * 2654435761) % 3400000000 - 1700000000)
       |      + (((l_orderkey*10 + l_linenumber) * 1103515245) % 20000000 - 10000000) AS x,
       |    ((l_orderkey * 2246822519) % 1600000000 - 800000000)
       |      + (((l_orderkey*10 + l_linenumber) * 69069) % 20000000 - 10000000) AS y
       |  FROM lineitem),
       |segs AS (
       |  SELECT way_id, seq,
       |    lag(x) OVER (PARTITION BY way_id ORDER BY seq) AS x0,
       |    lag(y) OVER (PARTITION BY way_id ORDER BY seq) AS y0,
       |    x AS x1, y AS y1
       |  FROM li),
       |loc AS (SELECT * FROM segs
       |  WHERE x0 IS NOT NULL AND abs(x1 - x0) <= 20000000 AND abs(y1 - y0) <= 20000000),
       |cx AS (SELECT *, unnest(range(
       |    least(((least(x0, x1) + 1800000000) * 256) // 3600000000, 255),
       |    least(((greatest(x0, x1) + 1800000000) * 256) // 3600000000, 255) + 1)) AS cell_x
       |  FROM loc),
       |cc AS (SELECT *, unnest(range(
       |    least(((least(y0, y1) + 900000000) * 256) // 1800000000, 255),
       |    least(((greatest(y0, y1) + 900000000) * 256) // 1800000000, 255) + 1)) AS cell_y
       |  FROM cx),
       |rect AS (SELECT *,
       |    ${loSqlX("cell_x")} AS rx0,
       |    CASE WHEN cell_x = 255 THEN 1800000000
       |         ELSE ${loSqlX("cell_x + 1")} - 1 END AS rx1,
       |    ${loSqlY("cell_y")} AS ry0,
       |    CASE WHEN cell_y = 255 THEN 900000000
       |         ELSE ${loSqlY("cell_y + 1")} - 1 END AS ry1
       |  FROM cc),
       |sat AS (SELECT * FROM (SELECT *,
       |    (x1 - x0) * (ry0 - y0) - (y1 - y0) * (rx0 - x0) AS s1,
       |    (x1 - x0) * (ry0 - y0) - (y1 - y0) * (rx1 - x0) AS s2,
       |    (x1 - x0) * (ry1 - y0) - (y1 - y0) * (rx0 - x0) AS s3,
       |    (x1 - x0) * (ry1 - y0) - (y1 - y0) * (rx1 - x0) AS s4
       |  FROM rect)
       |  WHERE least(s1, s2, s3, s4) <= 0 AND greatest(s1, s2, s3, s4) >= 0),
       |dd AS (SELECT *, x1 - x0 AS dx, y1 - y0 AS dy FROM sat),
       |fr AS (SELECT *,
       |    CASE WHEN dx > 0 THEN rx0 - x0 WHEN dx < 0 THEN x0 - rx1 ELSE 0 END AS inxn,
       |    CASE WHEN dx > 0 THEN rx1 - x0 WHEN dx < 0 THEN x0 - rx0 ELSE 1 END AS outxn,
       |    CASE WHEN dx = 0 THEN 1 ELSE abs(dx) END AS dxd,
       |    CASE WHEN dy > 0 THEN ry0 - y0 WHEN dy < 0 THEN y0 - ry1 ELSE 0 END AS inyn,
       |    CASE WHEN dy > 0 THEN ry1 - y0 WHEN dy < 0 THEN y0 - ry0 ELSE 1 END AS outyn,
       |    CASE WHEN dy = 0 THEN 1 ELSE abs(dy) END AS dyd
       |  FROM dd),
       |m0 AS (SELECT *,
       |    CASE WHEN inyn * dxd > inxn * dyd THEN inyn ELSE inxn END AS m0n,
       |    CASE WHEN inyn * dxd > inxn * dyd THEN dyd ELSE dxd END AS m0d
       |  FROM fr),
       |t0 AS (SELECT *, CASE WHEN m0n <= 0 THEN 0 ELSE m0n END AS n0,
       |               CASE WHEN m0n <= 0 THEN 1 ELSE m0d END AS d0 FROM m0),
       |m1 AS (SELECT *,
       |    CASE WHEN outyn * dxd < outxn * dyd THEN outyn ELSE outxn END AS m1n,
       |    CASE WHEN outyn * dxd < outxn * dyd THEN dyd ELSE dxd END AS m1d
       |  FROM t0),
       |t1 AS (SELECT *, CASE WHEN m1n >= m1d THEN 1 ELSE m1n END AS n1,
       |               CASE WHEN m1n >= m1d THEN 1 ELSE m1d END AS d1 FROM m1)""".stripMargin
  }

  /** The clipped endpoints of `t1` rows (floor-quantized rationals). */
  private def clipCoordsSql: String =
    s"""x0 + ${fdivSql("dx * n0", "d0")} AS cx0, y0 + ${fdivSql("dy * n0", "d0")} AS cy0,
       |  x0 + ${fdivSql("dx * n1", "d1")} AS cx1, y0 + ${fdivSql("dy * n1", "d1")} AS cy1""".stripMargin

  /** Morton spread of expression `v` (low 16 bits) as DuckDB bit arithmetic. */
  private def spreadSql(v: String): String = {
    val s1 = s"((($v) | (($v) << 8)) & 71777214294589695)"
    val s2 = s"(($s1 | ($s1 << 4)) & 1085102592571150095)"
    val s3 = s"(($s2 | ($s2 << 2)) & 3689348814741910323)"
    s"(($s3 | ($s3 << 1)) & 6148914691236517205)"
  }

  private def minHashAgg(j: Int): String = {
    val a = 1000003L + 2L * j; val b = 12345L + 7919L * j
    s"min((sh * $a + $b) % 1000000007) AS mh$j"
  }

  /** [[linkEdges]] twin: the `edges` CTE (plus its `e0` feeder) —
    * DISTINCT here because every Scala-side consumer dedupes too.
    */
  private lazy val linkEdgesSql: String =
    s"""e0 AS (
       |  SELECT doc_id AS src, unnest(range(0, doc_id % 4 + 1)) AS j
       |  FROM documents),
       |edges AS (
       |  SELECT DISTINCT src,
       |    ${mixIdSql("src * 53 + j * 17 + 1")} %
       |      (SELECT count(*) FROM documents) AS dst
       |  FROM e0 WHERE ${mixIdSql("src * 53 + j * 17 + 1")} %
       |      (SELECT count(*) FROM documents) <> src)""".stripMargin

  /** Chained-CTE twin of GraphOps.pageRank over an unweighted edge list
    * (the deterministic doc link graph unless `edgesWith` says otherwise):
    * every edge weighs 1, so ⌊pr·w/sw⌋ is ⌊pr/outdeg⌋. Every constant
    * derives from GraphOps so a parameter change cannot drift; `pr` not
    * `rank` as the column name — DuckDB keyword.
    */
  private def pageRankSql(iters: Int, edgesWith: String = linkEdgesSql,
                          idCol: String = "node_id"): String = {
    import graft.operators.GraphOps.{DampingPct, RankScale}
    val base = (100 - DampingPct) * (RankScale / 100)
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node_id,
         |    CAST(sum(r.pr // d.outdeg) AS BIGINT) AS in_sum
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node_id
         |  JOIN deg d ON e.src = d.src GROUP BY 1),
         |r$i AS (
         |  SELECT nd.node_id,
         |    $base + ($DampingPct * coalesce(c.in_sum, 0)) // 100 AS pr
         |  FROM nodes nd LEFT JOIN c$i c USING (node_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesWith,
       |nodes AS (SELECT src AS node_id FROM edges
       |  UNION SELECT dst FROM edges),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
       |  FROM edges GROUP BY 1),
       |r0 AS (SELECT node_id, CAST($RankScale AS BIGINT) AS pr FROM nodes),
       |$rounds
       |SELECT node_id AS $idCol, pr AS rank_e6 FROM r$iters""".stripMargin
  }

  /** Twin of GraphOps.pageRank with a seed set (personalized PageRank):
    * pageRankSql with the restart term gated on the seed flag
    * (r0 = S·seed; per round seed·base + ⌊d·in_sum/100⌋), seeds =
    * node_id % 101 = 0.
    */
  private def pprSql(iters: Int): String = {
    import graft.operators.GraphOps.{DampingPct, RankScale}
    val base = (100 - DampingPct) * (RankScale / 100)
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node_id,
         |    CAST(sum(r.pr // d.outdeg) AS BIGINT) AS in_sum
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node_id
         |  JOIN deg d ON e.src = d.src GROUP BY 1),
         |r$i AS (
         |  SELECT nd.node_id,
         |    nd.seed * $base + ($DampingPct * coalesce(c.in_sum, 0)) // 100 AS pr
         |  FROM nodes nd LEFT JOIN c$i c USING (node_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH $linkEdgesSql,
       |nodes AS (SELECT node_id,
       |  CASE WHEN node_id % 101 = 0 THEN 1 ELSE 0 END AS seed
       |  FROM (SELECT src AS node_id FROM edges UNION SELECT dst FROM edges)),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
       |  FROM edges GROUP BY 1),
       |r0 AS (SELECT node_id, CAST(seed * $RankScale AS BIGINT) AS pr FROM nodes),
       |$rounds
       |SELECT node_id, pr AS rank_e6 FROM r$iters""".stripMargin
  }

  /** Twin of GraphOps.pageRank over a weighted edge list: the same
    * unrolled rounds with per-edge ⌊pr·w / sw⌋ contributions; `edgesWith`
    * must end in edges(src, dst, w).
    */
  private def pageRankWeightedSql(iters: Int, edgesWith: String,
                                  idCol: String): String = {
    import graft.operators.GraphOps.{DampingPct, RankScale}
    val base = (100 - DampingPct) * (RankScale / 100)
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node_id,
         |    CAST(sum((r.pr * e.w) // d.sw) AS BIGINT) AS in_sum
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node_id
         |  JOIN deg d ON e.src = d.src GROUP BY 1),
         |r$i AS (
         |  SELECT nd.node_id,
         |    $base + ($DampingPct * coalesce(c.in_sum, 0)) // 100 AS pr
         |  FROM nodes nd LEFT JOIN c$i c USING (node_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesWith,
       |nodes AS (SELECT src AS node_id FROM edges
       |  UNION SELECT dst FROM edges),
       |deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw
       |  FROM edges GROUP BY 1),
       |r0 AS (SELECT node_id, CAST($RankScale AS BIGINT) AS pr FROM nodes),
       |$rounds
       |SELECT node_id AS $idCol, pr AS rank_e6 FROM r$iters""".stripMargin
  }

  /** GraphOps.hits twin: the same integer half-steps unrolled — raw
    * in-sum over edges, global floor-div renormalization, both
    * directions, per iteration.
    */
  private def hitsSql(iters: Int): String = {
    val S = graft.operators.GraphOps.RankScale
    val rounds = (1 to iters).map { i =>
      s"""ar$i AS (SELECT e.dst AS node_id, CAST(sum(p.h) AS BIGINT) AS araw
         |  FROM edges e JOIN s${i - 1} p ON e.src = p.node_id GROUP BY 1),
         |af$i AS (SELECT n.node_id, coalesce(ar.araw, 0) AS araw
         |  FROM nodes n LEFT JOIN ar$i ar USING (node_id)),
         |qa$i AS (SELECT greatest(max(araw) // $S, 1) AS q FROM af$i),
         |sa$i AS (SELECT node_id, araw // q AS a FROM af$i CROSS JOIN qa$i),
         |hr$i AS (SELECT e.src AS node_id, CAST(sum(p.a) AS BIGINT) AS hraw
         |  FROM edges e JOIN sa$i p ON e.dst = p.node_id GROUP BY 1),
         |hf$i AS (SELECT n.node_id, coalesce(hr.hraw, 0) AS hraw
         |  FROM nodes n LEFT JOIN hr$i hr USING (node_id)),
         |qh$i AS (SELECT greatest(max(hraw) // $S, 1) AS q FROM hf$i),
         |s$i AS (SELECT hf.node_id, hf.hraw // q AS h, sa.a
         |  FROM hf$i hf CROSS JOIN qh$i JOIN sa$i sa USING (node_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH $linkEdgesSql,
       |nodes AS (SELECT src AS node_id FROM edges
       |  UNION SELECT dst FROM edges),
       |s0 AS (SELECT node_id, CAST($S AS BIGINT) AS h,
       |  CAST($S AS BIGINT) AS a FROM nodes),
       |$rounds
       |SELECT node_id, h AS hub_e6, a AS auth_e6 FROM s$iters""".stripMargin
  }

  /** GraphOps.kCore twin: the peel unrolled to the fixed round bound
    * (idempotent past the fixpoint), final unfiltered degree pass.
    */
  private def kCoreSql(k: Int, rounds: Int): String = {
    // every stage CTE is MATERIALIZED: a$i is referenced twice by stage
    // i+1, so default inlining would expand the chain 2^rounds times
    val stages = (1 to rounds).map { i =>
      s"""d$i AS (SELECT e.a AS node_id, count(*) AS deg
         |  FROM ue e JOIN a${i - 1} s ON e.a = s.node_id
         |            JOIN a${i - 1} t ON e.b = t.node_id
         |  GROUP BY 1),
         |a$i AS MATERIALIZED (SELECT node_id FROM d$i WHERE deg >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $linkEdgesSql,
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src <> dst),
       |ue AS MATERIALIZED (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
       |a0 AS MATERIALIZED (SELECT DISTINCT a AS node_id FROM ue),
       |$stages
       |SELECT e.a AS node_id, CAST(count(*) AS BIGINT) AS core_deg
       |FROM ue e JOIN a$rounds s ON e.a = s.node_id
       |          JOIN a$rounds t ON e.b = t.node_id
       |GROUP BY 1""".stripMargin
  }

  /** SearchOps.bm25 twin: same whitespace tokens, the idf ln through the
    * lnStagesSql fixed-IEEE chain, per-term scores rounded to e6 BEFORE
    * the per-doc integer sum — every double op in the same order as the
    * Scala side, so scores are bit-identical.
    */
  private def bm25Sql(terms: Seq[String]): String = {
    import graft.operators.SearchOps.{B, K1, K1Plus1, OneMinusB}
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '[^ ]+')) AS tok
       |  FROM documents),
       |dls AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       |  FROM toks GROUP BY 1),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) /
       |    CAST(count(*) AS DOUBLE) AS avgdl FROM dls),
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks WHERE tok IN ($termList) GROUP BY 1, 2),
       |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |ix AS (SELECT tok,
       |  (CAST((SELECT n FROM stats) - df AS DOUBLE) + 0.5) /
       |    (CAST(df AS DOUBLE) + 0.5) + 1.0 AS x FROM dfs),
       |${lnStagesSql("ib", "ix")},
       |idf AS (SELECT tok, kl + srs AS idf FROM ib5),
       |scored AS (
       |  SELECT t.doc_id,
       |    CAST(round((i.idf * ((CAST(t.tf AS DOUBLE) * $K1Plus1) /
       |      (CAST(t.tf AS DOUBLE) + $K1 * ($OneMinusB + $B *
       |        (CAST(d.dl AS DOUBLE) / (SELECT avgdl FROM stats))))))
       |      * 1000000.0) AS BIGINT) AS term_e6
       |  FROM tf t JOIN idf i ON t.tok = i.tok
       |  JOIN dls d ON t.doc_id = d.doc_id)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |  CAST(sum(term_e6) AS BIGINT) AS score_e6
       |FROM scored GROUP BY 1""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty, $RevE4 AS rev_e4,
         |  count(*) AS n
         |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q3_topk" ->
      s"""WITH rev AS (
         |  SELECT o_orderkey, $RevE4 AS rev_e4
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE epoch_us(o_orderdate) < 883612800000000
         |    AND epoch_us(l_shipdate) >= 883612800000000
         |  GROUP BY 1)
         |SELECT o_orderkey, rev_e4, rank FROM (
         |  SELECT *, row_number() OVER (ORDER BY rev_e4 DESC, o_orderkey) AS rank FROM rev)
         |WHERE rank <= 10""".stripMargin,

    "q5_join" ->
      s"""SELECT n_name, $RevE4 AS rev_e4
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY 1""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q_semi_join" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_suppkey = s_suppkey AND epoch_us(l_shipdate) >= 978307200000000)""".stripMargin,

    "q_endtime" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  epoch_us(lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS end_us
        |FROM events""".stripMargin,

    // concurrency twin — INDEPENDENT formulation: the global ordered
    // prefix sum DuckDB can afford at oracle scale
    "q_concurrency" ->
      """WITH h AS (
        |  SELECT epoch_us(ts) AS s_us,
        |    epoch_us(lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS e_us
        |  FROM events),
        |del AS (
        |  SELECT s_us AS ts_us, 1 AS d FROM h
        |  UNION ALL
        |  SELECT e_us, -1 FROM h WHERE e_us IS NOT NULL),
        |g AS (SELECT ts_us, sum(d) AS d FROM del GROUP BY 1)
        |SELECT ts_us, CAST(sum(d) OVER (ORDER BY ts_us) AS BIGINT) AS concurrent
        |FROM g""".stripMargin,

    "q_history_range" ->
      """WITH h AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    epoch_us(lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS end_us
        |  FROM events)
        |SELECT event_id, user_id FROM h
        |WHERE ts_us <= 1705276800000000
        |  AND (end_us IS NULL OR end_us >= 1704672000000000)""".stripMargin,

    "q_merge_upsert" ->
      """WITH u AS (
        |  SELECT event_id, 1 AS version, value FROM events
        |  UNION ALL
        |  SELECT event_id, 2 AS version, value + 1.0 FROM events WHERE event_id % 10 = 0)
        |SELECT event_id, CAST(version AS BIGINT) AS version,
        |  CAST(round(value * 100) AS BIGINT) AS value_cents
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY version DESC) AS rn FROM u)
        |WHERE rn = 1""".stripMargin,

    "q_props_hist" ->
      """SELECT regexp_extract(props, '"k": (\d+)', 1) AS k, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q_bbox" ->
      s"""WITH p AS ($P)
         |SELECT min(lon_fix) AS min_lon, min(lat_fix) AS min_lat,
         |       max(lon_fix) AS max_lon, max(lat_fix) AS max_lat FROM p""".stripMargin,

    "q_density" ->
      s"""WITH p AS ($P)
         |SELECT least(((lon_fix + 1800000000) * 128) // 3600000000, 127) AS bx,
         |       least(((lat_fix + 900000000) * 128) // 1800000000, 127) AS by,
         |       least(count(*), 65535) AS cnt
         |FROM p GROUP BY 1, 2""".stripMargin,

    "q_tiles" ->
      s"""WITH p AS ($P), deg AS (
         |  SELECT lon_fix / 10000000.0 AS lon,
         |    least(greatest(lat_fix / 10000000.0, -85.05112877980659), 85.05112877980659) AS lat
         |  FROM p)
         |SELECT least(greatest(CAST(floor((lon + 180.0) / 360.0 * 128.0) AS BIGINT), 0), 127) AS tx,
         |  least(greatest(CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 128.0) AS BIGINT), 0), 127) AS ty,
         |  least(count(*), 65535) AS cnt
         |FROM deg GROUP BY 1, 2""".stripMargin,

    "q_raster_blur" ->
      s"""WITH p AS ($P), deg AS (
         |  SELECT lon_fix / 10000000.0 AS lon,
         |    least(greatest(lat_fix / 10000000.0, -85.05112877980659), 85.05112877980659) AS lat
         |  FROM p),
         |t AS (
         |  SELECT least(greatest(CAST(floor((lon + 180.0) / 360.0 * 128.0) AS BIGINT), 0), 127) AS tx,
         |    least(greatest(CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 128.0) AS BIGINT), 0), 127) AS ty,
         |    least(count(*), 65535) AS cnt
         |  FROM deg GROUP BY 1, 2),
         |o AS (SELECT * FROM (VALUES (-1,-1,1),(0,-1,2),(1,-1,1),(-1,0,2),
         |  (0,0,4),(1,0,2),(-1,1,1),(0,1,2),(1,1,1)) AS v(dx, dy, w)),
         |c AS (
         |  SELECT ((tx + dx) % 128 + 128) % 128 AS tx, ty + dy AS ty,
         |    cnt * w AS c
         |  FROM t, o)
         |SELECT tx, ty, CAST(sum(c) AS BIGINT) AS blur16
         |FROM c WHERE ty BETWEEN 0 AND 127 GROUP BY 1, 2""".stripMargin,

    "q_way_tiles" -> {
      def loSqlX(c: String) = s"((($c) * 3600000000 + 255) // 256 - 1800000000)"
      def loSqlY(c: String) = s"((($c) * 1800000000 + 255) // 256 - 900000000)"
      s"""WITH li AS (
         |  SELECT l_orderkey AS way_id, l_linenumber AS seq,
         |    ((l_orderkey * 2654435761) % 3400000000 - 1700000000)
         |      + (((l_orderkey*10 + l_linenumber) * 1103515245) % 20000000 - 10000000) AS x,
         |    ((l_orderkey * 2246822519) % 1600000000 - 800000000)
         |      + (((l_orderkey*10 + l_linenumber) * 69069) % 20000000 - 10000000) AS y
         |  FROM lineitem),
         |segs AS (
         |  SELECT way_id, seq,
         |    lag(x) OVER (PARTITION BY way_id ORDER BY seq) AS x0,
         |    lag(y) OVER (PARTITION BY way_id ORDER BY seq) AS y0,
         |    x AS x1, y AS y1
         |  FROM li),
         |loc AS (SELECT * FROM segs
         |  WHERE x0 IS NOT NULL AND abs(x1 - x0) <= 20000000 AND abs(y1 - y0) <= 20000000),
         |cx AS (SELECT *, unnest(range(
         |    least(((least(x0, x1) + 1800000000) * 256) // 3600000000, 255),
         |    least(((greatest(x0, x1) + 1800000000) * 256) // 3600000000, 255) + 1)) AS cell_x
         |  FROM loc),
         |cc AS (SELECT *, unnest(range(
         |    least(((least(y0, y1) + 900000000) * 256) // 1800000000, 255),
         |    least(((greatest(y0, y1) + 900000000) * 256) // 1800000000, 255) + 1)) AS cell_y
         |  FROM cx),
         |rect AS (SELECT *,
         |    ${loSqlX("cell_x")} AS rx0,
         |    CASE WHEN cell_x = 255 THEN 1800000000
         |         ELSE ${loSqlX("cell_x + 1")} - 1 END AS rx1,
         |    ${loSqlY("cell_y")} AS ry0,
         |    CASE WHEN cell_y = 255 THEN 900000000
         |         ELSE ${loSqlY("cell_y + 1")} - 1 END AS ry1
         |  FROM cc),
         |sided AS (SELECT way_id, seq, cell_x, cell_y,
         |    (x1 - x0) * (ry0 - y0) - (y1 - y0) * (rx0 - x0) AS s1,
         |    (x1 - x0) * (ry0 - y0) - (y1 - y0) * (rx1 - x0) AS s2,
         |    (x1 - x0) * (ry1 - y0) - (y1 - y0) * (rx0 - x0) AS s3,
         |    (x1 - x0) * (ry1 - y0) - (y1 - y0) * (rx1 - x0) AS s4
         |  FROM rect)
         |SELECT way_id, seq, cell_x, cell_y FROM sided
         |WHERE least(s1, s2, s3, s4) <= 0 AND greatest(s1, s2, s3, s4) >= 0""".stripMargin
    },

    "q_tile_clip" ->
      s"""WITH $tileClipCoreSql
         |SELECT way_id, seq, cell_x, cell_y, $clipCoordsSql
         |FROM t1""".stripMargin,

    // rollup of the clipped geometry: haversine per sub-segment rounded
    // to integer mm PER ROW (associative sum), then one tile groupBy
    "q_way_len_tile" ->
      s"""WITH $tileClipCoreSql,
         |cl AS (SELECT cell_x, cell_y, $clipCoordsSql FROM t1)
         |SELECT cell_x, cell_y,
         |  CAST(sum(CAST(round(${haversineSql("cx0 / 10000000.0", "cy0 / 10000000.0",
              "cx1 / 10000000.0", "cy1 / 10000000.0")} * 1000) AS BIGINT)) AS BIGINT) AS len_mm,
         |  count(*) AS n_segs
         |FROM cl GROUP BY 1, 2""".stripMargin,

    // deterministic per-cell quota sample: mixId order, ties by pid
    "q_geo_sample" ->
      s"""WITH p AS ($P), c AS (
         |  SELECT pid,
         |    least(((lon_fix + 1800000000) * 64) // 3600000000, 63) AS cx,
         |    least(((lat_fix + 900000000) * 64) // 1800000000, 63) AS cy
         |  FROM p)
         |SELECT (4096 | ${spreadSql("cx")} | (${spreadSql("cy")} << 1)) AS cell, pid
         |FROM c QUALIFY row_number() OVER (
         |  PARTITION BY cell ORDER BY ${mixIdSql("pid")}, pid) <= 4""".stripMargin,


    "q_pyramid" ->
      s"""WITH p AS ($P), deg AS (
         |  SELECT lon_fix / 10000000.0 AS lon,
         |    least(greatest(lat_fix / 10000000.0, -85.05112877980659), 85.05112877980659) AS lat
         |  FROM p)
         |SELECT least(greatest(CAST(floor((lon + 180.0) / 360.0 * 128.0) AS BIGINT), 0), 127) AS tx,
         |  least(greatest(CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 128.0) AS BIGINT), 0), 127) AS ty,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM deg GROUP BY 1, 2""".stripMargin,

    "q_quadkey" -> {
      val digits = (6 to 0 by -1).map(b =>
        s"CAST((((ty >> $b) & 1) * 2) + ((tx >> $b) & 1) AS VARCHAR)").mkString(" || ")
      s"""WITH p AS ($P), deg AS (
         |  SELECT lon_fix / 10000000.0 AS lon,
         |    least(greatest(lat_fix / 10000000.0, -85.05112877980659), 85.05112877980659) AS lat
         |  FROM p),
         |txy AS (
         |  SELECT least(greatest(CAST(floor((lon + 180.0) / 360.0 * 128.0) AS BIGINT), 0), 127) AS tx,
         |    least(greatest(CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 128.0) AS BIGINT), 0), 127) AS ty
         |  FROM deg)
         |SELECT $digits AS quadkey, least(count(*), 65535) AS cnt
         |FROM txy GROUP BY 1""".stripMargin
    },

    // geohash twin: the same cellX/cellY integer bins and the same
    // bit-interleave, each base32 char one substr into the alphabet
    // (every & term parenthesized — DuckDB's + binds tighter than &)
    "q_geohash" ->
      s"""WITH p AS ($P), xy AS (
         |  SELECT ${geohashBinsSql(5)}
         |  FROM p)
         |SELECT ${geohashCharsSql(5)} AS geohash, count(*) AS cnt
         |FROM xy GROUP BY 1""".stripMargin,

    // spherical-excess twin: the same six terms in the same left-assoc
    // order as sphericalRingArea's reduceLeft (the determinism contract)
    "q_geo_area" -> {
      val dg = "0.017453292519943295769236907684886"
      val vx = Seq("cx + r", "cx + h", "cx - h", "cx - r", "cx - h", "cx + h")
      val vy = Seq("cy", "cy + s", "cy + s", "cy", "cy - s", "cy - s")
      def lam(i: Int) = s"(CAST(${vx(i % 6)} AS DOUBLE) / 10000000.0 * $dg)"
      def sp(i: Int) = s"sin(CAST(${vy(i % 6)} AS DOUBLE) / 10000000.0 * $dg)"
      val terms = (0 until 6).map(i =>
        s"((${lam(i + 1)} - ${lam(i)}) * (2.0 + ${sp(i)} + ${sp(i + 1)}))")
        .mkString(" + ")
      s"""WITH hexes AS (${Synth.hexCorpusSql(1000)})
         |SELECT poly_id,
         |  CAST(round(abs($terms)
         |    * (6372797.560856e0 * 6372797.560856e0 / 2.0)) AS BIGINT) AS sph_m2
         |FROM hexes""".stripMargin
    },

    // axial projection + cube rounding with the SAME double op order as
    // SpatialOps.hexCell (the determinism contract; 0.5773502691896258
    // is the shared sqrt(3)/3 literal)
    "q_hexbin" ->
      s"""WITH p AS ($P),
         |h AS (
         |  SELECT CAST(lon_fix AS DOUBLE) * 2.0 / 3.0 / $HexSizeFix.0 AS qf,
         |    (CAST(lon_fix AS DOUBLE) * -1.0 / 3.0
         |      + CAST(lat_fix AS DOUBLE) * 0.5773502691896258) / $HexSizeFix.0 AS rf
         |  FROM p),
         |c AS (
         |  SELECT qf, rf, -qf - rf AS sf,
         |    round(qf) AS rx, round(-qf - rf) AS ry, round(rf) AS rz
         |  FROM h),
         |r AS (
         |  SELECT CASE WHEN abs(rx - qf) > abs(ry - sf) AND abs(rx - qf) > abs(rz - rf)
         |           THEN -ry - rz ELSE rx END AS hq,
         |         CASE WHEN NOT (abs(rx - qf) > abs(ry - sf) AND abs(rx - qf) > abs(rz - rf))
         |              AND abs(rz - rf) > abs(ry - sf)
         |           THEN -rx - ry ELSE rz END AS hr
         |  FROM c)
         |SELECT CAST(hq AS BIGINT) AS hq, CAST(hr AS BIGINT) AS hr, count(*) AS cnt
         |FROM r GROUP BY 1, 2""".stripMargin,

    // spherical band area between a tile row's parallels: sin(lat(ty)) =
    // tanh(pi*(1 - 2*ty/n)) written as its exp form (same shape as the
    // engine); area_m2 rounds FIRST, the density ratio divides integers
    "q_tile_area" -> {
      def sinLat(ty: String) =
        s"((exp((1.0 - CAST($ty AS DOUBLE) * 2.0 / 128.0) * pi() * 2.0) - 1.0) / (exp((1.0 - CAST($ty AS DOUBLE) * 2.0 / 128.0) * pi() * 2.0) + 1.0))"
      s"""WITH p AS ($P), deg AS (
         |  SELECT lon_fix / 10000000.0 AS lon,
         |    least(greatest(lat_fix / 10000000.0, -85.05112877980659), 85.05112877980659) AS lat
         |  FROM p),
         |t AS (
         |  SELECT least(greatest(CAST(floor((lon + 180.0) / 360.0 * 128.0) AS BIGINT), 0), 127) AS tx,
         |    least(greatest(CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 128.0) AS BIGINT), 0), 127) AS ty,
         |    least(count(*), 65535) AS cnt
         |  FROM deg GROUP BY 1, 2),
         |a AS (
         |  SELECT tx, ty, cnt,
         |    CAST(round(6372797.560856e0 * 6372797.560856e0 * 2.0 * pi() / 128.0
         |      * (${sinLat("ty")} - ${sinLat("ty + 1")})) AS BIGINT) AS area_m2
         |  FROM t)
         |SELECT tx, ty, cnt, area_m2,
         |  CAST(round(cnt * 1000000000.0 / area_m2) AS BIGINT) AS per_km2_e3
         |FROM a""".stripMargin
    },

    // exact-integer Moran's I: the five int64 aggregates combine in
    // HUGEINT (the engine uses decimal(38,0)); one double division ends it
    "q_moran" -> {
      val cases = (6 to 11).map(l =>
        s"WHEN n <= ${1L << (2 * l)} THEN ${1L << l}").mkString(" ")
      s"""WITH p AS ($P),
         |lv AS (SELECT CASE $cases ELSE 4096 END AS g
         |  FROM (SELECT count(*) AS n FROM p)),
         |cells AS (
         |  SELECT bx, by, least(c, 65535) AS v FROM (
         |    SELECT least((lon_fix + 1800000000) * g // 3600000000, g - 1) AS bx,
         |      least((lat_fix + 900000000) * g // 1800000000, g - 1) AS by,
         |      count(*) AS c
         |    FROM p, lv GROUP BY 1, 2)),
         |tot AS (SELECT count(*) AS n, sum(v) AS s, sum(v * v) AS q FROM cells),
         |offs AS (SELECT * FROM (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) AS o(dx, dy)),
         |nbr AS (
         |  SELECT count(*) AS w, sum(a.v * b.v) AS p2, sum(a.v + b.v) AS t
         |  FROM (SELECT a.bx + o.dx AS nx, a.by + o.dy AS ny, a.v
         |        FROM cells a CROSS JOIN offs o) a
         |  JOIN cells b ON b.bx = a.nx AND b.by = a.ny)
         |SELECT n AS n_cells, w AS w_pairs,
         |  CAST(round(CAST(CAST(n AS HUGEINT) * n * p2 - CAST(n AS HUGEINT) * s * t
         |      + CAST(s AS HUGEINT) * s * w AS DOUBLE) * 1000000.0
         |    / CAST(CAST(w AS HUGEINT) * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s) AS DOUBLE)) AS BIGINT) AS moran_e6
         |FROM tot, nbr""".stripMargin
    },

    // k-means twin: the four rounds UNROLLED as CTE stages (assignment
    // QUALIFY argmin with the same (d2, cid) tie-break, floor-mean update
    // via // on the shifted nonnegative domain, empty-cluster carry)
    "q_kmeans" -> {
      val c0 = (0 until 16).map(i => s"($i, ${(i % 4) * 900000000L + 450000000L}, " +
        s"${(i / 4) * 450000000L + 225000000L})").mkString(", ")
      val stages = (1 to 4).map { r =>
        s"""a$r AS (
           |  SELECT pid, sx, sy, cid FROM (
           |    SELECT p.pid, p.sx, p.sy, c.cid,
           |      CAST(p.sx - c.x AS DOUBLE) * CAST(p.sx - c.x AS DOUBLE)
           |        + CAST(p.sy - c.y AS DOUBLE) * CAST(p.sy - c.y AS DOUBLE) AS d2
           |    FROM sp p CROSS JOIN c${r - 1} c)
           |  QUALIFY row_number() OVER (PARTITION BY pid ORDER BY d2, cid) = 1),
           |u$r AS (
           |  SELECT cid, CAST(sum(sx) // count(*) AS BIGINT) AS x,
           |    CAST(sum(sy) // count(*) AS BIGINT) AS y, count(*) AS n
           |  FROM a$r GROUP BY 1),
           |c$r AS (
           |  SELECT c.cid, coalesce(u.x, c.x) AS x, coalesce(u.y, c.y) AS y
           |  FROM c${r - 1} c LEFT JOIN u$r u USING (cid))""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS ($P),
         |sp AS (SELECT pid, lon_fix + 1800000000 AS sx, lat_fix + 900000000 AS sy FROM p),
         |c0 AS (SELECT * FROM (VALUES $c0) AS c(cid, x, y)),
         |$stages
         |SELECT c.cid, c.x - 1800000000 AS cx, c.y - 900000000 AS cy,
         |  coalesce(u4.n, 0) AS n
         |FROM c4 c LEFT JOIN u4 USING (cid)""".stripMargin
    },

    // Gi* twin: the same five exact-integer aggregates; HUGEINT where
    // N·Q − S² overflows int64, one double expression per cell
    "q_gi" -> {
      val cases = (6 to 11).map(l =>
        s"WHEN n <= ${1L << (2 * l)} THEN ${1L << l}").mkString(" ")
      s"""WITH p AS ($P),
         |lv AS (SELECT CASE $cases ELSE 4096 END AS g
         |  FROM (SELECT count(*) AS n FROM p)),
         |cells AS (
         |  SELECT bx, by, least(c, 65535) AS v FROM (
         |    SELECT least((lon_fix + 1800000000) * g // 3600000000, g - 1) AS bx,
         |      least((lat_fix + 900000000) * g // 1800000000, g - 1) AS by,
         |      count(*) AS c
         |    FROM p, lv GROUP BY 1, 2)),
         |tot AS (SELECT count(*) AS n, sum(v) AS s, sum(v * v) AS q FROM cells),
         |offs AS (SELECT * FROM (VALUES (0, 0), (1, 0), (-1, 0), (0, 1), (0, -1)) AS o(dx, dy)),
         |sc AS (
         |  SELECT c.bx + o.dx AS bx, c.by + o.dy AS by, c.v
         |  FROM cells c CROSS JOIN offs o),
         |nb AS (SELECT bx, by, sum(v) AS l, count(*) AS k FROM sc GROUP BY 1, 2),
         |loc AS (
         |  SELECT c.bx, c.by, c.v, nb.l, nb.k
         |  FROM cells c JOIN nb ON nb.bx = c.bx AND nb.by = c.by)
         |SELECT bx, by, v,
         |  CAST(round(CAST(n * l - s * k AS DOUBLE) * 1000000.0
         |    / sqrt(CAST(CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s AS DOUBLE)
         |      * CAST(n * k - k * k AS DOUBLE) / CAST(n - 1 AS DOUBLE))) AS BIGINT) AS gi_e6
         |FROM loc, tot""".stripMargin
    },

    // IDW twin: identical integer weight quotients and floor divisions
    "q_idw" -> {
      val cases = (8 to 11).map(l =>
        s"WHEN n <= ${1L << (2 * l)} THEN ${1L << l}").mkString(" ")
      s"""WITH p AS ($P),
         |lv AS (SELECT CASE $cases ELSE 4096 END AS g
         |  FROM (SELECT count(*) AS n FROM p)),
         |oc AS (
         |  SELECT least((lon_fix + 1800000000) * g // 3600000000, g - 1) AS obx,
         |    least((lat_fix + 900000000) * g // 1800000000, g - 1) AS oby,
         |    lon_fix AS x, lat_fix AS y, pid % 1000 + 1 AS v, g
         |  FROM p, lv),
         |ctr AS (
         |  SELECT DISTINCT obx AS bx, oby AS by,
         |    obx * (3600000000 // g) - 1800000000 + (3600000000 // g) // 2 AS qx,
         |    oby * (1800000000 // g) - 900000000 + (1800000000 // g) // 2 AS qy
         |  FROM oc),
         |offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
         |  (0,1),(1,-1),(1,0),(1,1)) AS o(dx, dy)),
         |sc AS (
         |  SELECT obx + dx AS bx, oby + dy AS by, x, y, v
         |  FROM oc CROSS JOIN offs),
         |wts AS (
         |  SELECT c.bx, c.by, v,
         |    1000000000000000 // ((qx - x) * (qx - x) + (qy - y) * (qy - y) + 1000000000000) AS w
         |  FROM ctr c JOIN sc ON sc.bx = c.bx AND sc.by = c.by)
         |SELECT bx, by, count(*) AS n_obs,
         |  CAST(sum(v * w) * 1000 // sum(w) AS BIGINT) AS est_e3
         |FROM wts GROUP BY 1, 2""".stripMargin
    },

    // anchor-cell candidate pairs (per-cell cap via QUALIFY — the
    // MaxBandBucket pattern), then exact int64 max-of-min squared dists
    "q_stitch" -> {
      // INDEPENDENT formulation: HAVING-filtered endpoint groups for the
      // stitch edges, transitive closure for the chains (min reachable
      // id, the q_wcc shape) — no pointer-jumping machinery shared with
      // the Spark side.
      s"""WITH RECURSIVE ids AS (SELECT doc_id AS i FROM documents),
         |base AS (
         |  SELECT i AS way_id,
         |    ${mixIdSql("i * 2")} - 1073741824 AS x0,
         |    ${mixIdSql("i * 2 + 1")} % 1600000000 - 800000000 AS y0,
         |    ${mixIdSql("(i + 1) * 2")} - 1073741824 AS x1,
         |    ${mixIdSql("(i + 1) * 2 + 1")} % 1600000000 - 800000000 AS y1
         |  FROM ids WHERE (i + 1) % 97 != 0),
         |spurs AS (
         |  SELECT i + 10000000 AS way_id,
         |    ${mixIdSql("i * 2")} - 1073741824 AS x0,
         |    ${mixIdSql("i * 2 + 1")} % 1600000000 - 800000000 AS y0,
         |    ${mixIdSql("i * 2")} - 1073741824 + 1234567 AS x1,
         |    ${mixIdSql("i * 2 + 1")} % 1600000000 - 800000000 + 7654321 AS y1
         |  FROM ids WHERE i % 13 = 0),
         |w AS (SELECT * FROM base UNION ALL SELECT * FROM spurs),
         |ends AS (
         |  SELECT way_id, x0 AS nx, y0 AS ny FROM w
         |  UNION ALL SELECT way_id, x1, y1 FROM w),
         |e0 AS (
         |  SELECT min(way_id) AS src, max(way_id) AS dst
         |  FROM ends GROUP BY nx, ny
         |  HAVING count(*) = 2 AND min(way_id) <> max(way_id)),
         |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |reach AS (
         |  SELECT src AS a, dst AS b FROM edges
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |comp AS (
         |  SELECT id, least(id, coalesce(min(b), id)) AS component
         |  FROM (SELECT DISTINCT src AS id FROM edges) n
         |  LEFT JOIN reach ON a = id GROUP BY id),
         |j AS (
         |  SELECT coalesce(component, way_id) AS chain_id
         |  FROM w LEFT JOIN comp ON way_id = id)
         |SELECT chain_id, CAST(count(*) AS BIGINT) AS n_ways
         |FROM j GROUP BY 1""".stripMargin
    },

    "q_frechet" -> {
      // INDEPENDENT formulation: no cell cover and no DP array — the
      // squared discrete Fréchet distance is the MINIMAX PATH value in
      // the (i,j) coupling DAG, so the twin enumerates monotone paths by
      // recursive CTE (states (ia, ib, c) with c = max d² along the
      // path, deduped by UNION) and takes min(c) at the terminal cell —
      // the q_wsssp relaxation shape, not the kernel's rolling row.
      // Candidates via plain bbox inequality join (one side expanded by
      // thr; dF ≥ any axis gap, so this covers every emitted pair).
      s"""WITH RECURSIVE $frechetCtesSql
         |SELECT wa AS way_a, wb AS way_b, CAST(df2 AS BIGINT) AS df2
         |FROM fin WHERE df2 <= (SELECT thr * thr FROM th)""".stripMargin
    },

    // trajectory clustering: the q_frechet pair CTEs + a recursive-CTE
    // transitive closure (the clusterCtesSql shape) over the threshold
    // pair graph
    "q_traj_cluster" -> {
      s"""WITH RECURSIVE $frechetCtesSql,
         |fp AS (SELECT wa, wb FROM fin
         |  WHERE df2 <= (SELECT thr * thr FROM th)),
         |fedges AS (SELECT wa AS src, wb AS dst FROM fp
         |  UNION SELECT wb, wa FROM fp),
         |freach AS (
         |  SELECT src AS a, dst AS b FROM fedges
         |  UNION
         |  SELECT r.a, e.dst FROM freach r JOIN fedges e ON r.b = e.src),
         |fnodes AS (SELECT DISTINCT src AS id FROM fedges),
         |flabels AS (
         |  SELECT id, least(id, coalesce(min(b), id)) AS cluster_id
         |  FROM fnodes LEFT JOIN freach ON a = id GROUP BY id)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_tracks
         |FROM flabels GROUP BY 1""".stripMargin
    },

    "q_dtw" -> {
      // INDEPENDENT formulation, same shape as the q_frechet twin but for
      // the SUM metric: DTW² is the min-total-cost monotone path in the
      // coupling DAG, enumerated by recursive CTE with c accumulating
      // p.c + d.d2 (UNION-deduped states), min(c) at the terminal cell.
      // Candidates via bbox inequality join expanded by ⌈√budget⌉
      // (DTW ≥ d²(a₀,b₀) ≥ (axis gap)², so this covers every emission).
      s"""WITH RECURSIVE li AS ($WayPtsSql),
         |pts AS MATERIALIZED (
         |  SELECT way_id, row_number() OVER (PARTITION BY way_id ORDER BY seq) - 1 AS i,
         |         x, y
         |  FROM li),
         |np AS (SELECT way_id, count(*) AS n FROM pts GROUP BY 1),
         |-- MATERIALIZED: same DuckDB 1.0.0 IEJoin-input workaround as q_planarize
         |tr AS MATERIALIZED (
         |  SELECT way_id, min(x) AS minx, max(x) AS maxx,
         |         min(y) AS miny, max(y) AS maxy
         |  FROM pts GROUP BY 1),
         |th AS (SELECT CASE WHEN (SELECT count(*) FROM tr) <= ${FrechetSmallN}
         |  THEN ${DtwExpandSmall} ELSE $DtwExpand END AS ex,
         |  CASE WHEN (SELECT count(*) FROM tr) <= ${FrechetSmallN}
         |  THEN ${2L * FrechetThrSmall * FrechetThrSmall}
         |  ELSE $DtwBudget END AS budget),
         |cand AS (
         |  SELECT a.way_id AS wa, b.way_id AS wb
         |  FROM tr a JOIN tr b ON a.way_id < b.way_id
         |  CROSS JOIN th
         |  WHERE a.minx - th.ex <= b.maxx AND a.maxx + th.ex >= b.minx
         |    AND a.miny - th.ex <= b.maxy AND a.maxy + th.ex >= b.miny),
         |d AS MATERIALIZED (
         |  SELECT c.wa, c.wb, pa.i AS ia, pb.i AS ib,
         |    (pa.x - pb.x)*(pa.x - pb.x) + (pa.y - pb.y)*(pa.y - pb.y) AS d2
         |  FROM cand c
         |  JOIN pts pa ON pa.way_id = c.wa
         |  JOIN pts pb ON pb.way_id = c.wb),
         |paths AS (
         |  SELECT wa, wb, ia, ib, d2 AS c FROM d WHERE ia = 0 AND ib = 0
         |  UNION
         |  SELECT d.wa, d.wb, d.ia, d.ib, p.c + d.d2
         |  FROM paths p JOIN d ON d.wa = p.wa AND d.wb = p.wb
         |    AND ((d.ia = p.ia + 1 AND d.ib = p.ib)
         |      OR (d.ia = p.ia AND d.ib = p.ib + 1)
         |      OR (d.ia = p.ia + 1 AND d.ib = p.ib + 1))),
         |fin AS (
         |  SELECT p.wa, p.wb, min(p.c) AS dtw2
         |  FROM paths p
         |  JOIN np na ON na.way_id = p.wa
         |  JOIN np nb ON nb.way_id = p.wb
         |  WHERE p.ia = na.n - 1 AND p.ib = nb.n - 1
         |  GROUP BY 1, 2)
         |SELECT wa AS way_a, wb AS way_b, CAST(dtw2 AS BIGINT) AS dtw2
         |FROM fin WHERE dtw2 <= (SELECT budget FROM th)""".stripMargin
    },

    "q_hausdorff" -> {
      val cases = (6 to 9).map(l =>
        s"WHEN n <= ${1L << (2 * l)} THEN ${1L << l}").mkString(" ")
      s"""WITH ks AS (
         |  SELECT DISTINCT l_orderkey AS way_id, l_linenumber AS seq FROM lineitem),
         |li AS (
         |  SELECT DISTINCT way_id, seq,
         |    (way_id * 2654435761) % 3400000000 - 1700000000
         |      + (((way_id*10 + seq) * 1103515245) % 20000000 - 10000000) AS x,
         |    (way_id * 2246822519) % 1600000000 - 800000000
         |      + (((way_id*10 + seq) * 69069) % 20000000 - 10000000) AS y
         |  FROM ks),
         |lv AS (SELECT CASE $cases ELSE 1024 END AS g
         |  FROM (SELECT count(DISTINCT way_id) AS n FROM li)),
         |anch AS (
         |  SELECT way_id, x, y FROM li
         |  QUALIFY row_number() OVER (PARTITION BY way_id ORDER BY seq, x, y) = 1),
         |ac AS (
         |  SELECT way_id,
         |    least((x + 1800000000) * g // 3600000000, g - 1) AS cx,
         |    least((y + 900000000) * g // 1800000000, g - 1) AS cy
         |  FROM anch, lv),
         |cap AS (
         |  SELECT * FROM ac QUALIFY count(*) OVER (PARTITION BY cx, cy) <= 64),
         |pr AS (
         |  SELECT l.way_id AS way_a, r.way_id AS way_b
         |  FROM cap l JOIN cap r ON l.cx = r.cx AND l.cy = r.cy
         |  WHERE l.way_id < r.way_id),
         |cr AS (
         |  SELECT way_a, way_b, pa.seq AS sa, pb.seq AS sb,
         |    (pa.x - pb.x) * (pa.x - pb.x) + (pa.y - pb.y) * (pa.y - pb.y) AS d2
         |  FROM pr
         |  JOIN li pa ON pa.way_id = pr.way_a
         |  JOIN li pb ON pb.way_id = pr.way_b),
         |da AS (
         |  SELECT way_a, way_b, max(mind) AS h FROM (
         |    SELECT way_a, way_b, sa, min(d2) AS mind FROM cr GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2),
         |db AS (
         |  SELECT way_a, way_b, max(mind) AS h FROM (
         |    SELECT way_a, way_b, sb, min(d2) AS mind FROM cr GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2),
         |u AS (SELECT * FROM da UNION ALL SELECT * FROM db)
         |SELECT way_a, way_b, max(h) AS haus_sq
         |FROM u GROUP BY 1, 2 HAVING max(h) <= $HausdorffMaxSq""".stripMargin
    },

    "q_cells" ->
      s"""WITH p AS ($P), xy AS (
         |  SELECT least(((lon_fix + 1800000000) * 4096) // 3600000000, 4095) AS cx,
         |         least(((lat_fix + 900000000) * 4096) // 1800000000, 4095) AS cy
         |  FROM p)
         |SELECT (16777216 | ${spreadSql("cx")} | (${spreadSql("cy")} << 1)) AS cell, count(*) AS n
         |FROM xy GROUP BY 1""".stripMargin,

    // GROUND-TRUTH formulation: coordinates recomputed from doc_id
    // directly — the oracle never touches html or a regex, so the whole
    // decode -> extract -> parse -> index path is checked end-to-end
    "q_geo_extract" ->
      s"""WITH g AS (
         |  SELECT (doc_id * 2654435761) % 3600000000 - 1800000000 AS lon_fix,
         |         (doc_id * 2246822519) % 1800000000 - 900000000 AS lat_fix
         |  FROM documents WHERE doc_id % 3 = 0),
         |xy AS (
         |  SELECT least(((lon_fix + 1800000000) * 4096) // 3600000000, 4095) AS cx,
         |         least(((lat_fix + 900000000) * 4096) // 1800000000, 4095) AS cy
         |  FROM g)
         |SELECT (16777216 | ${spreadSql("cx")} | (${spreadSql("cy")} << 1)) AS cell, count(*) AS n
         |FROM xy GROUP BY 1""".stripMargin,

    "q_haversine_way" ->
      s"""WITH pts AS (
         |  SELECT l_orderkey AS way_id, l_linenumber AS seq,
         |    (((l_orderkey*10 + l_linenumber) * 2654435761) % 1800000000 - 900000000) / 10000000.0 AS lon,
         |    (((l_orderkey*10 + l_linenumber) * 2246822519) % 1200000000 - 600000000) / 10000000.0 AS lat
         |  FROM lineitem),
         |segs AS (
         |  SELECT way_id,
         |    ${haversineSql("lon", "lat",
               "lag(lon, 1) OVER (PARTITION BY way_id ORDER BY seq)",
               "lag(lat, 1) OVER (PARTITION BY way_id ORDER BY seq)")} AS seg
         |  FROM pts)
         |SELECT way_id, CAST(round(sum(seg)) AS BIGINT) AS len_m, count(seg) AS n_segs
         |FROM segs WHERE seg IS NOT NULL GROUP BY 1""".stripMargin,

    // map-matching twin: brute-force path ENUMERATION (recursive CTE,
    // every candidate path's exact integer cost) vs the engine's linear
    // Viterbi DP — agreement proves the DP against a different formulation
    "q_map_match" -> {
      val g = 1L << MmLevel
      def cellX(e: String) = s"least((($e) + 1800000000) * $g // 3600000000, ${g - 1})"
      def cellY(e: String) = s"least((($e) + 900000000) * $g // 1800000000, ${g - 1})"
      s"""WITH RECURSIVE ks AS (
         |  SELECT DISTINCT l_orderkey AS way_id, l_linenumber AS seq FROM lineitem),
         |li AS (
         |  SELECT DISTINCT way_id, seq,
         |    (way_id * 2654435761) % 3400000000 - 1700000000
         |      + (((way_id*10 + seq) * 1103515245) % 20000000 - 10000000) AS x,
         |    (way_id * 2246822519) % 1600000000 - 800000000
         |      + (((way_id*10 + seq) * 69069) % 20000000 - 10000000) AS y
         |  FROM ks),
         |obs AS (
         |  SELECT way_id AS entity, seq AS tidx,
         |    x + ${mixIdSql("(way_id*10 + seq) * 2")} % 800001 - 400000 AS ox,
         |    y + ${mixIdSql("(way_id*10 + seq) * 2 + 1")} % 800001 - 400000 AS oy
         |  FROM li WHERE way_id % $MmSample = 0),
         |offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
         |  (0,1),(1,-1),(1,0),(1,1)) AS o(dx, dy)),
         |probes AS (
         |  SELECT entity, tidx, ox, oy,
         |    ${cellX("ox")} + dx AS jx, ${cellY("oy")} + dy AS jy
         |  FROM obs CROSS JOIN offs),
         |nodes AS (
         |  SELECT way_id AS way, seq AS wseq, x AS cx, y AS cy,
         |    ${cellX("x")} AS jx, ${cellY("y")} AS jy
         |  FROM li),
         |cand0 AS (
         |  SELECT entity, tidx, cx, cy, way, wseq,
         |    (ox - cx) * (ox - cx) + (oy - cy) * (oy - cy) AS emis
         |  FROM probes JOIN nodes ON nodes.jx = probes.jx AND nodes.jy = probes.jy
         |  WHERE (ox - cx) * (ox - cx) + (oy - cy) * (oy - cy) <= $MmRadiusSq),
         |cand1 AS (
         |  SELECT * FROM cand0
         |  QUALIFY row_number() OVER (PARTITION BY entity, tidx
         |    ORDER BY emis, way, wseq) <= 3),
         |cand AS (
         |  SELECT entity, tidx, cx, cy, way, emis,
         |    dense_rank() OVER (PARTITION BY entity ORDER BY tidx) AS lv
         |  FROM cand1),
         |ml AS (SELECT entity, max(lv) AS n_obs FROM cand GROUP BY 1),
         |paths AS (
         |  SELECT entity, lv, cx, cy, way, emis AS cost FROM cand WHERE lv = 1
         |  UNION ALL
         |  SELECT c.entity, c.lv, c.cx, c.cy, c.way,
         |    p.cost + (c.cx - p.cx) * (c.cx - p.cx) + (c.cy - p.cy) * (c.cy - p.cy)
         |      + CASE WHEN c.way = p.way THEN 0 ELSE $MmSwitchPenalty END + c.emis
         |  FROM paths p JOIN cand c ON c.entity = p.entity AND c.lv = p.lv + 1)
         |SELECT p.entity, ml.n_obs, min(p.cost) AS best_cost
         |FROM paths p JOIN ml ON ml.entity = p.entity
         |WHERE p.lv = ml.n_obs GROUP BY 1, 2""".stripMargin
    },

    // sinuosity twin: same per-segment mm rounding BEFORE the sum, same
    // endpoint bearing expression (op order mirrors waySinuosity)
    "q_sinuosity" -> {
      val deg = "0.017453292519943295769236907684886"
      s"""WITH pts AS (
         |  SELECT DISTINCT l_orderkey AS way_id, l_linenumber AS seq,
         |    (((l_orderkey*10 + l_linenumber) * 2654435761) % 1800000000 - 900000000) / 10000000.0 AS lon,
         |    (((l_orderkey*10 + l_linenumber) * 2246822519) % 1200000000 - 600000000) / 10000000.0 AS lat
         |  FROM lineitem),
         |segs AS (
         |  SELECT way_id,
         |    CAST(round(${haversineSql("lon", "lat",
               "lag(lon, 1) OVER (PARTITION BY way_id ORDER BY seq)",
               "lag(lat, 1) OVER (PARTITION BY way_id ORDER BY seq)")} * 1000.0) AS BIGINT) AS seg_mm
         |  FROM pts),
         |per AS (
         |  SELECT way_id, CAST(sum(seg_mm) AS BIGINT) AS len_mm,
         |    count(seg_mm) AS n_segs
         |  FROM segs GROUP BY 1 HAVING count(seg_mm) >= 1),
         |mm AS (SELECT way_id, min(seq) AS s0, max(seq) AS s1 FROM pts GROUP BY 1),
         |e AS (
         |  SELECT mm.way_id, a.lon AS flon, a.lat AS flat, b.lon AS llon, b.lat AS llat
         |  FROM mm
         |  JOIN pts a ON a.way_id = mm.way_id AND a.seq = mm.s0
         |  JOIN pts b ON b.way_id = mm.way_id AND b.seq = mm.s1),
         |j AS (
         |  SELECT per.way_id, len_mm, n_segs,
         |    CAST(round(${haversineSql("flon", "flat", "llon", "llat")} * 1000.0) AS BIGINT) AS straight_mm,
         |    CAST(round(degrees(atan2(
         |      sin(llon * $deg - flon * $deg) * cos(llat * $deg),
         |      cos(flat * $deg) * sin(llat * $deg)
         |        - sin(flat * $deg) * cos(llat * $deg) * cos(llon * $deg - flon * $deg)
         |    )) * 1000000.0) AS BIGINT) AS bearing_e6
         |  FROM per JOIN e ON e.way_id = per.way_id)
         |SELECT way_id, len_mm, straight_mm,
         |  CAST(len_mm * 1000 // straight_mm AS BIGINT) AS sinuosity_e3,
         |  bearing_e6, n_segs
         |FROM j WHERE straight_mm > 0""".stripMargin
    },

    // orientation twin: the wayPoints derivation, the same strict-<
    // sector CASE (exact int64 tangent cross-compares), and the shared
    // lnE6 stages on n/c — terms e6-quantized before the sum
    "q_orient" -> {
      val g = 1L << OrientLevel
      s"""WITH pts AS (
         |  SELECT DISTINCT l_orderkey AS way_id, l_linenumber AS seq,
         |    (l_orderkey * 2654435761) % 3400000000 - 1700000000
         |      + (((l_orderkey*10 + l_linenumber) * 1103515245) % 20000000 - 10000000) AS x,
         |    (l_orderkey * 2246822519) % 1600000000 - 800000000
         |      + (((l_orderkey*10 + l_linenumber) * 69069) % 20000000 - 10000000) AS y
         |  FROM lineitem),
         |raw AS (
         |  SELECT x, y,
         |    lag(x) OVER (PARTITION BY way_id ORDER BY seq) AS px,
         |    lag(y) OVER (PARTITION BY way_id ORDER BY seq) AS py
         |  FROM pts),
         |sg AS (
         |  SELECT px, py, x - px AS dx0, y - py AS dy0 FROM raw
         |  WHERE px IS NOT NULL AND (x <> px OR y <> py)),
         |nm AS (
         |  SELECT px, py,
         |    CASE WHEN dy0 < 0 OR (dy0 = 0 AND dx0 < 0) THEN -dx0 ELSE dx0 END AS dx,
         |    CASE WHEN dy0 < 0 OR (dy0 = 0 AND dx0 < 0) THEN -dy0 ELSE dy0 END AS dy
         |  FROM sg),
         |bn AS (
         |  SELECT least(((px + 1800000000) * $g) // 3600000000, ${g - 1}) AS bx,
         |    least(((py + 900000000) * $g) // 1800000000, ${g - 1}) AS by,
         |    CASE WHEN dx > 0 AND dy * 1000000 < dx * 414214 THEN 0
         |         WHEN dx > 0 AND dy < dx THEN 1
         |         WHEN dx > 0 AND dy * 1000000 < dx * 2414214 THEN 2
         |         WHEN dx > 0 THEN 3
         |         WHEN dx = 0 THEN 4
         |         WHEN dy * 1000000 > (-dx) * 2414214 THEN 4
         |         WHEN dy > (-dx) THEN 5
         |         WHEN dy * 1000000 > (-dx) * 414214 THEN 6
         |         ELSE 7 END AS bin
         |  FROM nm),
         |pb AS (SELECT bx, by, bin, count(*) AS c FROM bn GROUP BY 1, 2, 3),
         |pc AS (SELECT *, sum(c) OVER (PARTITION BY bx, by) AS n FROM pb),
         |lx AS (SELECT bx, by, bin, c, n,
         |  CAST(n AS DOUBLE) / CAST(c AS DOUBLE) AS x FROM pc),
         |${lnStagesSql("oe", "lx")},
         |tm AS (SELECT bx, by, c, n,
         |  c * CAST(round((kl + srs) * 1000000.0) AS BIGINT) AS t FROM oe5),
         |ag AS (SELECT bx, by, CAST(max(n) AS BIGINT) AS n_segs,
         |  CAST(sum(t) // max(n) AS BIGINT) AS ent_e6 FROM tm GROUP BY 1, 2),
         |wn AS (SELECT bx, by, CAST(bin AS BIGINT) AS top_bin FROM pb
         |  QUALIFY row_number() OVER (PARTITION BY bx, by ORDER BY c DESC, bin DESC) = 1)
         |SELECT ag.bx, ag.by, n_segs, ent_e6, top_bin
         |FROM ag JOIN wn ON wn.bx = ag.bx AND wn.by = ag.by""".stripMargin
    },

    "q_pip_join" ->
      s"""WITH p AS ($P)
         |SELECT p.pid, pe.poly_id
         |FROM p, ${Synth.polygonEdgesValuesSql}
         |GROUP BY p.pid, pe.poly_id, p.lon_fix, p.lat_fix
         |HAVING bool_and((x2 - x1) * (p.lat_fix - y1) - (y2 - y1) * (p.lon_fix - x1) >= 0)""".stripMargin,

    // anti twin: NOT IN over the same half-plane hit set
    "q_pip_anti" ->
      s"""WITH p AS ($P),
         |hits AS (
         |  SELECT p.pid
         |  FROM p, ${Synth.polygonEdgesValuesSql}
         |  GROUP BY p.pid, pe.poly_id, p.lon_fix, p.lat_fix
         |  HAVING bool_and((x2 - x1) * (p.lat_fix - y1) - (y2 - y1) * (p.lon_fix - x1) >= 0))
         |SELECT pid FROM p WHERE pid NOT IN (SELECT pid FROM hits)""".stripMargin,

    "q_nearest_hub" -> {
      val hubs = Synth.hexagons
        .map(h => s"(${h.polyId}, ${h.cx}, ${h.cy})")
        .mkString("(VALUES ", ", ", ") AS hub(hid, hx, hy)")
      val mm = haversineSql("p.lon_fix / 10000000.0", "p.lat_fix / 10000000.0",
        "hub.hx / 10000000.0", "hub.hy / 10000000.0")
      s"""WITH p AS ($P)
         |SELECT pid, hid AS hub, mm FROM (
         |  SELECT p.pid, hub.hid, CAST(round(($mm) * 1000) AS BIGINT) AS mm
         |  FROM p CROSS JOIN $hubs)
         |QUALIFY row_number() OVER (PARTITION BY pid ORDER BY mm, hid) = 1""".stripMargin
    },

    // from-scratch recomputation of the after-state — the independent
    // check that the incremental path lands on the same histogram
    "q_tile_delta" ->
      s"""WITH p AS ($P),
         |after AS (
         |  SELECT pid, lon_fix, lat_fix FROM p WHERE pid % 13 <> 0 AND pid % 9 <> 0
         |  UNION ALL
         |  SELECT pid, ((pid + 31) * 2654435761) % 1800000000 - 900000000,
         |         ((pid + 31) * 2246822519) % 1200000000 - 600000000
         |  FROM p WHERE pid % 9 = 0 AND pid % 13 <> 0
         |  UNION ALL
         |  SELECT pid + 100000000, ((pid + 100000000) * 2654435761) % 1800000000 - 900000000,
         |         ((pid + 100000000) * 2246822519) % 1200000000 - 600000000
         |  FROM p WHERE pid % 17 = 0)
         |SELECT least(((lon_fix + 1800000000) * 256) // 3600000000, 255) AS bx,
         |       least(((lat_fix + 900000000) * 256) // 1800000000, 255) AS by,
         |       count(*) AS cnt
         |FROM after GROUP BY 1, 2""".stripMargin,

    // identical semantics to q_pip_join — the same operator under a second
    // name; one shared half-plane oracle
    "q_pip_interval" ->
      s"""WITH p AS ($P)
         |SELECT p.pid, pe.poly_id
         |FROM p, ${Synth.polygonEdgesValuesSql}
         |GROUP BY p.pid, pe.poly_id, p.lon_fix, p.lat_fix
         |HAVING bool_and((x2 - x1) * (p.lat_fix - y1) - (y2 - y1) * (p.lon_fix - x1) >= 0)""".stripMargin,

    "q_pip_large" -> {
      // convex CCW hexagons: the boundary-inclusive ray cast equals the
      // half-plane conjunction, so the oracle tests all 6 edge cross
      // products; the cell-cover prefilter is replicated so DuckDB never
      // goes all-pairs on 10k polygons x the point set
      val lvl = 1 << PipLargeLevel
      val verts = Seq(("cx + r", "cy"), ("cx + h", "cy + s"), ("cx - h", "cy + s"),
        ("cx - r", "cy"), ("cx - h", "cy - s"), ("cx + h", "cy - s"))
      val halfPlanes = verts.indices.map { i =>
        val (x1, y1) = verts(i); val (x2, y2) = verts((i + 1) % verts.length)
        s"((($x2) - ($x1)) * (p.lat_fix - ($y1)) - (($y2) - ($y1)) * (p.lon_fix - ($x1)) >= 0)"
      }.mkString("\n  AND ")
      s"""WITH p AS ($P),
         |hexes AS (${Synth.hexCorpusSql(PipLargePolys)}),
         |${coverCtesSql(lvl, "poly_id, cx, cy, r, h, s",
             "cx - r", "cy - s", "cx + r", "cy + s", "hexes")}
         |SELECT p.pid, c.poly_id
         |FROM p JOIN cover c
         |  ${pointCellJoinSql(lvl)}
         |WHERE $halfPlanes""".stripMargin
    },

        "q_rasterize" ->
      s"""WITH hexes AS (${Synth.hexCorpusSql(1000)}),
         |$hexRasterCtesSql
         |SELECT poly_id, cell_x, cell_y FROM zcells""".stripMargin,

    // INDEPENDENT formulation: offsets as a range-table cross product
    // (engine: literal offset-array explode), core via bool_or
    "q_dilate" -> {
      val g = 1L << DilateLevel
      s"""WITH p AS ($P),
         |occ AS (
         |  SELECT bx, by FROM (
         |    SELECT least(((lon_fix + 1800000000) * $g) // 3600000000, ${g - 1}) AS bx,
         |      least(((lat_fix + 900000000) * $g) // 1800000000, ${g - 1}) AS by,
         |      count(*) AS c
         |    FROM p GROUP BY 1, 2) WHERE c >= 3),
         |halo AS (
         |  SELECT bx + dx.d AS cell_x, by + dy.d AS cell_y,
         |    (dx.d = 0 AND dy.d = 0) AS c
         |  FROM occ, range(-$DilateRadius, ${DilateRadius + 1}) dx(d),
         |    range(-$DilateRadius, ${DilateRadius + 1}) dy(d))
         |SELECT cell_x, cell_y, bool_or(c) AS core
         |FROM halo
         |WHERE cell_x BETWEEN 0 AND ${g - 1} AND cell_y BETWEEN 0 AND ${g - 1}
         |GROUP BY 1, 2""".stripMargin
    },

    // INDEPENDENT formulation: band self-join + HAVING full count
    // (engine: support-stamp explode, no join at all)
    "q_erode" -> {
      val g = 1L << ErodeLevel
      val r = DilateRadius
      s"""WITH p AS ($P),
         |occ AS (
         |  SELECT DISTINCT
         |    least(((lon_fix + 1800000000) * $g) // 3600000000, ${g - 1}) AS bx,
         |    least(((lat_fix + 900000000) * $g) // 1800000000, ${g - 1}) AS by
         |  FROM p)
         |SELECT o.bx AS cell_x, o.by AS cell_y
         |FROM occ o JOIN occ i
         |  ON i.bx BETWEEN o.bx - $r AND o.bx + $r
         |  AND i.by BETWEEN o.by - $r AND o.by + $r
         |GROUP BY 1, 2
         |HAVING count(*) = ${(2 * r + 1) * (2 * r + 1)}""".stripMargin
    },

    // zonal stats: the q_rasterize zone-cell twin joined to the
    // saturating density grid at the same level, rolled up per polygon
    "q_zonal" ->
      s"""WITH hexes AS (${Synth.hexCorpusSql(1000)}),
         |$hexRasterCtesSql,
         |p AS ($P),
         |dens AS (
         |  SELECT least(((lon_fix + 1800000000) * ${1L << RasterizeLevel})
         |      // 3600000000, ${(1L << RasterizeLevel) - 1}) AS cell_x,
         |    least(((lat_fix + 900000000) * ${1L << RasterizeLevel})
         |      // 1800000000, ${(1L << RasterizeLevel) - 1}) AS cell_y,
         |    least(count(*), 65535) AS cnt
         |  FROM p GROUP BY 1, 2)
         |SELECT poly_id, CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(cnt) AS BIGINT) AS total,
         |  CAST(max(cnt) AS BIGINT) AS max_cnt
         |FROM zcells JOIN dens USING (cell_x, cell_y)
         |GROUP BY 1""".stripMargin,

    "q_vectorize" -> {
      // grid size g = 2^level, smallest level in [6,12] with 4^level >= n —
      // integer-threshold CASE, the exact twin of the query's while loop
      val cases = (6 to 11).map(l =>
        s"WHEN n <= ${1L << (2 * l)} THEN ${1L << l}").mkString(" ")
      s"""WITH RECURSIVE p AS ($P),
         |nn AS (SELECT count(*) AS n FROM p),
         |lv AS (SELECT CASE $cases ELSE 4096 END AS g FROM nn),
         |occ AS (
         |  SELECT bx, by FROM (
         |    SELECT least((lon_fix + 1800000000) * g // 3600000000, g - 1) AS bx,
         |      least((lat_fix + 900000000) * g // 1800000000, g - 1) AS by,
         |      count(*) AS c
         |    FROM p, lv GROUP BY 1, 2) WHERE c >= 3),
         |cells AS (SELECT bx, by, bx * 4194304 + by AS k FROM occ),
         |edges0 AS (
         |  SELECT a.k AS src, b.k AS dst FROM cells a JOIN cells b
         |    ON b.bx = a.bx + 1 AND b.by = a.by
         |  UNION ALL
         |  SELECT a.k, b.k FROM cells a JOIN cells b
         |    ON b.bx = a.bx AND b.by = a.by + 1),
         |edges AS (SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0),
         |reach AS (
         |  SELECT src AS a, dst AS b FROM edges
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |cnodes AS (SELECT DISTINCT src AS id FROM edges),
         |labels AS (
         |  SELECT id AS k, least(id, coalesce(min(b), id)) AS cluster_id
         |  FROM cnodes LEFT JOIN reach ON a = id GROUP BY id)
         |SELECT coalesce(l.cluster_id, c.k) AS component_id,
         |  min(c.bx) AS min_bx, min(c.by) AS min_by,
         |  max(c.bx) AS max_bx, max(c.by) AS max_by,
         |  CAST(count(*) AS BIGINT) AS n_cells
         |FROM cells c LEFT JOIN labels l ON l.k = c.k
         |GROUP BY 1""".stripMargin
    },

"q_bbox_join" -> {
      // same cover prefilter as q_pip_large; refinement is the inclusive
      // range conjunction over the hexagons' bounding boxes
      val lvl = 1 << PipLargeLevel
      s"""WITH p AS ($P),
         |hexes AS (${Synth.hexCorpusSql(PipLargePolys)}),
         |${coverCtesSql(lvl,
             "poly_id AS box_id, cx - r AS minx, cy - s AS miny, cx + r AS maxx, cy + s AS maxy",
             "cx - r", "cy - s", "cx + r", "cy + s", "hexes")}
         |SELECT p.pid, c.box_id
         |FROM p JOIN cover c
         |  ${pointCellJoinSql(lvl)}
         |WHERE p.lon_fix >= c.minx AND p.lon_fix <= c.maxx
         |  AND p.lat_fix >= c.miny AND p.lat_fix <= c.maxy""".stripMargin
    },

    "q_poly_join" -> {
      // INDEPENDENT formulation: every hexagon in the family is an exact
      // integer homothet of one symmetric unit hexagon (h = r/2 and
      // s = 866r/1000 hold exactly for all 13 size classes), so closed
      // A ∩ B ≠ ∅ ⟺ the center delta lies in the Minkowski sum hexagon
      // (R = ra+rb, S = sa+sb): |dy| ≤ S, |2S·dx ± R·dy| ≤ 2SR — three
      // absolute-value inequalities, no separating-axis machinery shared
      // with the Spark kernel. The bbox inequality join is IEJoin-able
      // (minx/maxx range predicates); magnitudes stay < 2^57.
      s"""WITH a0 AS (${Synth.hexCorpusSql(PipLargePolys)}),
         |b0 AS (${Synth.hexCorpusSql(PipLargePolys, PipLargePolys.toLong)}),
         |a AS (SELECT poly_id, cx, cy, r, s, cx - r AS minx, cx + r AS maxx,
         |             cy - s AS miny, cy + s AS maxy FROM a0),
         |b AS (SELECT poly_id, cx, cy, r, s, cx - r AS minx, cx + r AS maxx,
         |             cy - s AS miny, cy + s AS maxy FROM b0)
         |SELECT a.poly_id AS a_id, b.poly_id AS b_id
         |FROM a JOIN b
         |  ON a.minx <= b.maxx AND a.maxx >= b.minx
         | AND a.miny <= b.maxy AND a.maxy >= b.miny
         |WHERE abs(b.cy - a.cy) <= a.s + b.s
         |  AND abs(2*(a.s + b.s)*(b.cx - a.cx) + (a.r + b.r)*(b.cy - a.cy))
         |      <= 2*(a.s + b.s)*(a.r + b.r)
         |  AND abs(2*(a.s + b.s)*(b.cx - a.cx) - (a.r + b.r)*(b.cy - a.cy))
         |      <= 2*(a.s + b.s)*(a.r + b.r)""".stripMargin
    },

    "q_dissolve" -> {
      // INDEPENDENT formulation: Minkowski-sum hexagon overlap test for
      // the edge set (no separating-axis kernel), transitive closure for
      // the components (min reachable id, same shape as the q_wcc twin),
      // closed-form hexagon area 4s(r+h) and center±radius bbox for the
      // rollup — nothing shared with the Spark side's ring shoelace or
      // pointer-jumping machinery.
      s"""WITH RECURSIVE hx AS (${Synth.hexCorpusSql(PipLargePolys)}),
         |e0 AS (
         |  SELECT a.poly_id AS src, b.poly_id AS dst
         |  FROM hx a JOIN hx b ON a.poly_id < b.poly_id
         |  WHERE abs(b.cy - a.cy) <= a.s + b.s
         |    AND abs(2*(a.s + b.s)*(b.cx - a.cx) + (a.r + b.r)*(b.cy - a.cy))
         |        <= 2*(a.s + b.s)*(a.r + b.r)
         |    AND abs(2*(a.s + b.s)*(b.cx - a.cx) - (a.r + b.r)*(b.cy - a.cy))
         |        <= 2*(a.s + b.s)*(a.r + b.r)),
         |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |reach AS (
         |  SELECT src AS a, dst AS b FROM edges
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |comp AS (
         |  SELECT id, least(id, coalesce(min(b), id)) AS component
         |  FROM (SELECT DISTINCT src AS id FROM edges) n
         |  LEFT JOIN reach ON a = id GROUP BY id),
         |p AS (
         |  SELECT poly_id, 4 * s * (r + h) AS area2,
         |         cx - r AS minx, cy - s AS miny, cx + r AS maxx, cy + s AS maxy
         |  FROM hx),
         |j AS (
         |  SELECT coalesce(component, poly_id) AS component,
         |         area2, minx, miny, maxx, maxy
         |  FROM p LEFT JOIN comp ON poly_id = id)
         |SELECT component, count(*) AS n_polys,
         |  CAST(sum(area2) AS BIGINT) AS area2,
         |  min(minx) AS minx, min(miny) AS miny,
         |  max(maxx) AS maxx, max(maxy) AS maxy
         |FROM j GROUP BY component""".stripMargin
    },

    "q_knn" ->
      s"""WITH p AS ($P), q AS (SELECT * FROM p WHERE pid % 997 = 0),
         |d AS (
         |  SELECT q.pid AS qid, p.pid AS pid,
         |    (p.lon_fix - q.lon_fix) * (p.lon_fix - q.lon_fix) +
         |    (p.lat_fix - q.lat_fix) * (p.lat_fix - q.lat_fix) AS d2
         |  FROM p, q WHERE p.pid <> q.pid)
         |SELECT qid, pid, rank, d2 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, pid) AS rank FROM d)
         |WHERE rank <= 5""".stripMargin,

    "q_knn_large" ->
      s"""WITH p AS ($P), q AS (SELECT * FROM p WHERE pid % 101 = 0),
         |d AS (
         |  SELECT q.pid AS qid, p.pid AS pid,
         |    (p.lon_fix - q.lon_fix) * (p.lon_fix - q.lon_fix) +
         |    (p.lat_fix - q.lat_fix) * (p.lat_fix - q.lat_fix) AS d2
         |  FROM p, q WHERE p.pid <> q.pid)
         |SELECT qid, pid, rank, d2 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, pid) AS rank FROM d)
         |WHERE rank <= 5""".stripMargin,

    "q_knn_geo" -> knnGeoSql(997),

    "q_radius_geo" -> {
      val dist = haversineSql("p.lon_fix / 10000000.0", "p.lat_fix / 10000000.0",
        "q.lon_fix / 10000000.0", "q.lat_fix / 10000000.0")
      s"""WITH p AS ($P), q AS (SELECT * FROM p WHERE pid % 199 = 0)
         |SELECT q.pid AS qid, p.pid AS pid,
         |  CAST(round(($dist) * 1000) AS BIGINT) AS dist_e3
         |FROM p, q WHERE p.pid <> q.pid
         |  AND CAST(round(($dist) * 1000) AS BIGINT) <= 120000000""".stripMargin
    },

    // pair search = lat-band inequality join (the band over-covers the
    // rounded-mm eps) + exact haversine; components via transitive
    // closure — tractable because the subset keeps them small
    "q_dbscan" -> {
      val dist = haversineSql("a.lon_fix / 10000000.0", "a.lat_fix / 10000000.0",
        "b.lon_fix / 10000000.0", "b.lat_fix / 10000000.0")
      val epsMm = math.round(DbscanEpsM * 1000.0)
      s"""WITH RECURSIVE p0 AS ($P),
         |p AS (SELECT * FROM p0 WHERE pid % $DbscanPidMod = 0),
         |eps AS (
         |  SELECT CASE WHEN n <= 4000 THEN $epsMm
         |              WHEN n <= 16000 THEN ${epsMm / 2}
         |              ELSE ${epsMm / 4} END AS eps_mm,
         |         CASE WHEN n <= 4000 THEN 13600000
         |              WHEN n <= 16000 THEN 6800000
         |              ELSE 3400000 END AS band
         |  FROM (SELECT count(*) AS n FROM p)),
         |pr AS (
         |  SELECT a.pid AS qid, b.pid AS nid
         |  FROM p a JOIN p b
         |  CROSS JOIN eps
         |    ON b.lat_fix BETWEEN a.lat_fix - eps.band AND a.lat_fix + eps.band
         |    AND a.pid <> b.pid
         |  WHERE CAST(round(($dist) * 1000) AS BIGINT) <= eps.eps_mm),
         |nc AS (SELECT qid, count(*) AS n FROM pr GROUP BY 1),
         |cores AS (SELECT qid AS pid FROM nc WHERE n >= ${DbscanMinPts - 1}),
         |ce AS (SELECT pr.qid AS src, pr.nid AS dst FROM pr
         |  JOIN cores ca ON ca.pid = pr.qid
         |  JOIN cores cb ON cb.pid = pr.nid),
         |reach AS (
         |  SELECT src AS a, dst AS b FROM ce
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN ce e ON r.b = e.src),
         |corelab AS (
         |  SELECT c.pid, least(c.pid, coalesce(min(r.b), c.pid)) AS cluster
         |  FROM cores c LEFT JOIN reach r ON r.a = c.pid GROUP BY c.pid),
         |border AS (
         |  SELECT pr.qid AS pid, min(cl.cluster) AS cluster
         |  FROM pr JOIN corelab cl ON cl.pid = pr.nid
         |  WHERE pr.qid NOT IN (SELECT pid FROM cores)
         |  GROUP BY 1)
         |SELECT pid, 'core' AS role, cluster FROM corelab
         |UNION ALL SELECT pid, 'border', cluster FROM border
         |UNION ALL SELECT p.pid, 'noise', CAST(-1 AS BIGINT) FROM p
         |  WHERE p.pid NOT IN (SELECT pid FROM corelab)
         |    AND p.pid NOT IN (SELECT pid FROM border)""".stripMargin
    },

    "q_knn_geo_large" -> knnGeoSql(101),

    "q_boilerplate" -> {
      // chunk hash twin of TextHash.wordChunkHashes: mod-chain of 8-char
      // Horner token hashes over non-overlapping 8-token chunks
      val chain = (1 to 8).map(k => tokenHashSql(s"ws[c*8 + $k]"))
        .foldLeft("0")((acc, t) =>
          s"(($acc * 1000003 + ($t) % 1000000007) % 1000000007)")
      s"""WITH corpus AS ($C),
         |toks AS (SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS ws FROM corpus),
         |chunks AS (
         |  SELECT doc_id, $chain AS ch
         |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) // 8)) AS c FROM toks)),
         |boiler AS (SELECT ch FROM chunks GROUP BY ch HAVING count(DISTINCT doc_id) >= 2)
         |SELECT c.doc_id, count(*) AS n_chunks, count(b.ch) AS n_boiler,
         |  count(b.ch) * 1000 // count(*) AS boiler_pm
         |FROM chunks c LEFT JOIN boiler b ON b.ch = c.ch
         |GROUP BY 1""".stripMargin
    },

    "q_geo_pipeline" -> {
      val lvl = 1 << PipLargeLevel
      val verts = Seq(("cx + r", "cy"), ("cx + h", "cy + s"), ("cx - h", "cy + s"),
        ("cx - r", "cy"), ("cx - h", "cy - s"), ("cx + h", "cy - s"))
      val halfPlanes = verts.indices.map { i =>
        val (x1, y1) = verts(i); val (x2, y2) = verts((i + 1) % verts.length)
        s"((($x2) - ($x1)) * (p.lat_fix - ($y1)) - (($y2) - ($y1)) * (p.lon_fix - ($x1)) >= 0)"
      }.mkString("\n  AND ")
      s"""WITH p AS ($P),
         |hexes AS (${Synth.hexCorpusSql(1000)}),
         |${coverCtesSql(lvl, "poly_id, cx, cy, r, h, s",
             "cx - r", "cy - s", "cx + r", "cy + s", "hexes")},
         |hits AS (
         |  SELECT p.pid, c.poly_id, p.lon_fix, p.lat_fix
         |  FROM p JOIN cover c
         |    ${pointCellJoinSql(lvl)}
         |  WHERE $halfPlanes),
         |tiles AS (
         |  SELECT poly_id,
         |    least(greatest(CAST(floor((lon_fix / 10000000.0 + 180.0) / 360.0 * 128.0) AS BIGINT), 0), 127) AS tx,
         |    least(greatest(CAST(floor((1.0 - ln(tan(radians(latc)) + 1.0 / cos(radians(latc))) / pi()) / 2.0 * 128.0) AS BIGINT), 0), 127) AS ty
         |  FROM (SELECT poly_id, lon_fix,
         |          least(greatest(lat_fix / 10000000.0, -85.05112877980659), 85.05112877980659) AS latc
         |        FROM hits)),
         |tc AS (SELECT poly_id, tx, ty, count(*) AS n FROM tiles GROUP BY 1, 2, 3)
         |SELECT poly_id, n_points, tx AS hot_tx, ty AS hot_ty, n AS hot_n FROM (
         |  SELECT poly_id, tx, ty, n,
         |    CAST(sum(n) OVER (PARTITION BY poly_id) AS BIGINT) AS n_points,
         |    row_number() OVER (PARTITION BY poly_id ORDER BY n DESC, tx, ty) AS rn
         |  FROM tc) WHERE rn = 1""".stripMargin
    },

    "q_sample" ->
      s"""SELECT doc_id, lang,
         |  CAST(CASE WHEN ${mixIdSql("doc_id")} % 1000 <
         |    (CASE WHEN lang = 'en' THEN 800 WHEN lang = 'de' THEN 500
         |          WHEN lang = 'fr' THEN 250 ELSE 100 END)
         |  THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM documents""".stripMargin,

    "q_dedup_bloom" -> {
      val m = 1L << DedupOps.BloomLogM
      s"""WITH corpus AS ($C),
         |toks AS (
         |  SELECT doc_id, ${tokenHashSql("tok")} AS h FROM (
         |    SELECT doc_id, unnest(regexp_extract_all(text, '[^ ]+')) AS tok FROM corpus)),
         |fps AS (
         |  SELECT c.doc_id,
         |    coalesce((SELECT CAST(sum(h) AS BIGINT) % 2305843009213693951
         |      FROM toks WHERE toks.doc_id = c.doc_id), 0) AS fp
         |  FROM corpus c),
         |seen AS (SELECT fp FROM fps WHERE doc_id % 3 <> 0),
         |fresh AS (SELECT doc_id, fp FROM fps WHERE doc_id % 3 = 0),
         |js AS (SELECT unnest(range(${DedupOps.BloomK})) AS j),
         |bloom AS (
         |  SELECT p // 32 AS word,
         |    bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
         |  FROM (SELECT ${mixIdSql(s"fp + j * ${DedupOps.BloomSeed}")} % $m AS p
         |        FROM seen, js)
         |  GROUP BY 1),
         |probe AS (
         |  SELECT doc_id,
         |    CAST(min(CASE WHEN ((coalesce(bits, 0) >> CAST(p % 32 AS INT)) & 1) = 1
         |      THEN 1 ELSE 0 END) AS BIGINT) AS bloom_hit
         |  FROM (SELECT doc_id, ${mixIdSql(s"fp + j * ${DedupOps.BloomSeed}")} % $m AS p
         |        FROM fresh, js) fq
         |  LEFT JOIN bloom ON bloom.word = fq.p // 32
         |  GROUP BY 1)
         |SELECT f.doc_id, pr.bloom_hit,
         |  CAST(CASE WHEN pr.bloom_hit = 1
         |    AND EXISTS (SELECT 1 FROM seen s WHERE s.fp = f.fp)
         |  THEN 1 ELSE 0 END AS BIGINT) AS confirmed
         |FROM fresh f JOIN probe pr USING (doc_id)""".stripMargin
    },

    "q_poly_area" ->
      s"""WITH hx AS (${Synth.hexCorpusSql(PipLargePolys)})
         |SELECT poly_id, 4 * s * (r + h) AS area2 FROM hx""".stripMargin,

    "q_extract" ->
      s"""WITH pts AS ($P),
         |refs AS (SELECT pid // 100 AS way_id, pid FROM pts),
         |inr AS (
         |  SELECT pid FROM pts
         |  WHERE lon_fix BETWEEN 0 AND 299999999
         |    AND lat_fix BETWEEN 0 AND 199999999),
         |kw AS (SELECT DISTINCT way_id FROM refs JOIN inr USING (pid)),
         |kn AS (SELECT DISTINCT r.pid FROM refs r JOIN kw USING (way_id))
         |SELECT p.pid, p.lon_fix, p.lat_fix,
         |  CASE WHEN p.lon_fix BETWEEN 0 AND 299999999
         |        AND p.lat_fix BETWEEN 0 AND 199999999
         |       THEN 1 ELSE 0 END AS in_region
         |FROM pts p JOIN kn USING (pid)""".stripMargin,

    "q_extract_rels" ->
      s"""WITH p AS ($P),
         |refs AS (SELECT pid // 100 AS way_id, pid FROM p),
         |relmem AS (SELECT DISTINCT way_id // 10 AS rel_id, way_id FROM refs),
         |srelmem AS (SELECT DISTINCT rel_id // 10 AS srel_id, rel_id FROM relmem),
         |region AS (SELECT pid FROM p
         |  WHERE lon_fix BETWEEN 0 AND 299999999 AND lat_fix BETWEEN 0 AND 199999999),
         |seedw AS (SELECT DISTINCT way_id FROM refs JOIN region USING (pid)),
         |seedr AS (SELECT DISTINCT rel_id FROM relmem JOIN seedw USING (way_id)),
         |seeds AS (SELECT DISTINCT srel_id FROM srelmem JOIN seedr USING (rel_id)),
         |keptr AS (SELECT DISTINCT rel_id FROM srelmem JOIN seeds USING (srel_id)),
         |keptw AS (SELECT DISTINCT way_id FROM relmem JOIN keptr USING (rel_id)),
         |keptn AS (SELECT DISTINCT pid FROM refs JOIN keptw USING (way_id))
         |SELECT p.pid, p.lon_fix, p.lat_fix,
         |  CASE WHEN p.lon_fix BETWEEN 0 AND 299999999
         |    AND p.lat_fix BETWEEN 0 AND 199999999 THEN 1 ELSE 0 END AS in_region
         |FROM p JOIN keptn ON keptn.pid = p.pid""".stripMargin,

    "q_renumber" ->
      """SELECT doc_id, lang,
        |  row_number() OVER (ORDER BY lang, doc_id) AS new_id
        |FROM documents""".stripMargin,

    "q_diff" ->
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |older AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN substr(text, 1, greatest(length(text) - 5, 0)) ELSE text END AS text
        |  FROM docs WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 3000000, text FROM docs WHERE doc_id % 13 = 0),
        |o AS (SELECT doc_id, sha256(text) AS h FROM older),
        |n AS (SELECT doc_id, sha256(text) AS h FROM docs),
        |j AS (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'create'
        |         WHEN n.doc_id IS NULL THEN 'delete'
        |         WHEN o.h <> n.h THEN 'modify' END AS op
        |  FROM o FULL JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id, op FROM j WHERE op IS NOT NULL""".stripMargin,

    "q_dedup_exact" ->
      s"""WITH corpus AS ($C)
         |SELECT sha256(text) AS text_sha, CAST(length(text) AS BIGINT) AS text_len,
         |  min(doc_id) AS keep_id, count(*) AS n
         |FROM corpus GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin,

    "q_dedup_jaccard" ->
      s"""WITH corpus AS ($C),
         |sh AS (${shinglesSql(distinct = false)}),
         |$lshCandSql,
         |sizes AS (SELECT doc_id, count(DISTINCT sh) AS sz FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(DISTINCT a.sh) AS i
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.doc_a
         |  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, (i * 1000) // (sa.sz + sb.sz - i) AS jaccard_pm
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE (i * 1000) // (sa.sz + sb.sz - i) >= 600""".stripMargin,

    // FULLY INDEPENDENT formulation: brute-force levenshtein over all
    // pairs (feasible at oracle scale) — the engine never computes an
    // edit distance on this path, so the deletion-neighborhood
    // construction is checked against the metric's definition itself
    // conflate twin: INDEPENDENT formulation — brute-force levenshtein
    // over the id-ordered pair triangle, same exact d2 gate
    "q_conflate" ->
      s"""WITH pl AS (
         |  SELECT doc_id AS place_id, CAST(doc_id % 250 AS VARCHAR) AS name,
         |    ${mixIdSql("(doc_id % 40) * 2")} % 1800000000 - 900000000
         |      + ${mixIdSql("doc_id * 7 + 3")} % 2000000 AS x,
         |    ${mixIdSql("(doc_id % 40) * 2 + 1")} % 1200000000 - 600000000
         |      + ${mixIdSql("doc_id * 7 + 5")} % 2000000 AS y
         |  FROM documents)
         |SELECT a.place_id AS place_a, b.place_id AS place_b,
         |  CASE WHEN length(a.name) = length(b.name)
         |    THEN 'sub' ELSE 'indel' END AS kind,
         |  (a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y) AS d2
         |FROM pl a JOIN pl b ON a.place_id < b.place_id
         |WHERE levenshtein(a.name, b.name) = 1
         |  AND (a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y)
         |    <= ${ConflateRadius * ConflateRadius}""".stripMargin,

    "q_url_neighbors" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CASE WHEN length(a.url) = length(b.url)
        |    THEN 'sub' ELSE 'indel' END AS kind
        |FROM u a JOIN u b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.url, b.url) = 1""".stripMargin,

    // INDEPENDENT formulation: HAVING df cap instead of the join against
    // a rare-set frame; same capped-inverted-index metric contract
    "q_contain" ->
      s"""WITH corpus AS ($C),
         |s AS (${shinglesSql(distinct = true)}),
         |keep AS (SELECT sh FROM s GROUP BY sh
         |  HAVING count(*) <= ${DedupOps.ContainDfCap}),
         |cs AS (SELECT s.doc_id, s.sh FROM s JOIN keep USING (sh)),
         |na AS (SELECT doc_id, count(*) AS na FROM cs GROUP BY 1),
         |pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM cs a JOIN cs b USING (sh)
         |  WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST((inter * 1000) // na AS BIGINT) AS cont_pm
         |FROM pr JOIN na ON na.doc_id = doc_a
         |WHERE inter * 1000 >= $ContainThrPm * na""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH corpus AS ($C),
         |sh AS (${shinglesSql(distinct = false)}),
         |$lshCandSql
         |SELECT doc_a, doc_b, n_bands FROM cand""".stripMargin,

    // same sig/bands pipeline, but the bucket cap is applied PER SIDE and
    // the join is new-vs-old instead of the self-join
    "q_dedup_incr" ->
      s"""WITH corpus AS ($C),
         |sh AS (${shinglesSql(distinct = false)}),
         |$lshCandSql,
         |keptold AS (
         |  SELECT * FROM bands WHERE doc_id < 1000000 QUALIFY
         |    count(*) OVER (PARTITION BY band, band_key) <= ${DedupOps.MaxBandBucket}),
         |keptnew AS (
         |  SELECT * FROM bands WHERE doc_id >= 1000000 QUALIFY
         |    count(*) OVER (PARTITION BY band, band_key) <= ${DedupOps.MaxBandBucket})
         |SELECT n.doc_id AS doc_new, o.doc_id AS doc_old, count(*) AS n_bands
         |FROM keptnew n JOIN keptold o
         |  ON n.band = o.band AND n.band_key = o.band_key
         |GROUP BY 1, 2""".stripMargin,

    "q_dedup_edit" ->
      s"""WITH corpus AS ($C),
         |sh AS (${shinglesSql(distinct = false)}),
         |$lshCandSql
         |SELECT c.doc_a, c.doc_b,
         |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edist
         |FROM cand c
         |JOIN corpus a ON a.doc_id = c.doc_a
         |JOIN corpus b ON b.doc_id = c.doc_b
         |WHERE levenshtein(a.text, b.text) <= 10""".stripMargin,

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE corpus AS ($C),
         |$clusterCtesSql
         |SELECT doc_id, cluster_id FROM labels""".stripMargin,

    "q_dedup_survivors" ->
      s"""WITH RECURSIVE corpus AS ($C),
         |$clusterCtesSql,
         |$SurvivorCtesSql
         |SELECT doc_id, cluster_id, text_len FROM surv""".stripMargin,

    "q_dedup_simhash" -> {
      // 64-bit simhash as 4x16-bit bands (core.TextHash.simHash64 layout):
      // per-band rehash h_j of the mod-P token hash, 16 vote sums per band,
      // candidates = shared (band, band_key), dist = summed band xors.
      val hjs = (0 until DedupOps.SimHashBands).map(j =>
        s"((h * ${1000003L + 2L * j} + ${12345L + 7919L * j}) % 1000000007) AS h$j")
        .mkString(", ")
      val votes = (0 until DedupOps.SimHashBands).flatMap(j => (0 until 16).map(b =>
        s"sum(CASE WHEN ((h$j >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v${j * 16 + b}"))
        .mkString(", ")
      val bandBits = (0 until DedupOps.SimHashBands).map { j =>
        (0 until 16).map(b =>
          s"CASE WHEN v${j * 16 + b} > 0 THEN ${1L << b} ELSE 0 END").mkString("(", " | ", ")")
      }
      val sims = bandBits.zipWithIndex.map { case (e, j) => s"$e AS b$j" }.mkString(", ")
      val bank = (0 until DedupOps.SimHashBands)
        .map(j => s"SELECT doc_id, b0, b1, b2, b3, $j AS band, b$j AS band_key FROM sims")
        .mkString("\n  UNION ALL ")
      val ham = (0 until DedupOps.SimHashBands)
        .map(j => s"bit_count(xor(a.b$j, b.b$j))").mkString(" + ")
      s"""WITH corpus AS ($C),
         |toks AS (SELECT doc_id, (${tokenHashSql("tok")}) % 1000000007 AS h FROM (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '[^ ]+')) AS tok FROM corpus)),
         |hj AS (SELECT doc_id, $hjs FROM toks),
         |votes AS (SELECT doc_id, $votes FROM hj GROUP BY doc_id),
         |sims AS (SELECT doc_id, $sims FROM votes),
         |bank AS ($bank),
         |kept AS (SELECT * FROM bank QUALIFY
         |  count(*) OVER (PARTITION BY band, band_key) <= ${DedupOps.MaxBandBucket})
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST($ham AS BIGINT) AS dist
         |FROM kept a JOIN kept b
         |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |WHERE ($ham) <= 3""".stripMargin
    },

    // SemDeDup twin: the q_sim_ivf quantizer/assignment CTEs, cluster
    // size split at MaxSemCluster, LSH sub-bucket refinement with the
    // MaxBandBucket QUALIFY cap on the big side, exact cosine filter
    "q_sem_dedup" -> {
      val buckets = lshBucketsSql("embedding")
        .zipWithIndex.map { case (e, t) => s"$e AS bucket$t" }.mkString(",\n  ")
      val bank = (0 until DedupOps.NearDupTables)
        .map(t => s"SELECT vec_id, cid, $t AS tbl, bucket$t AS bucket FROM bigb")
        .mkString("\n  UNION ALL ")
      s"""WITH src AS ($E),
         |n AS (SELECT count(*) AS c FROM src),
         |md AS (SELECT greatest(c // greatest(least(${SimilarityOps.IvfMaxCentroids},
         |  CAST(ceil(sqrt(c)) AS BIGINT)), 1), 1) AS m FROM n),
         |cent AS (
         |  SELECT vec_id AS cid, embedding AS cemb FROM src, md
         |  WHERE ${mixIdSql("vec_id")} % m = 3 % m),
         |assigned AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosE6Sql("e.embedding", "c.cemb")} DESC, c.cid) AS rn
         |    FROM src e, cent c) WHERE rn = 1),
         |sz AS (SELECT *, count(*) OVER (PARTITION BY cid) AS csz FROM assigned),
         |small AS (SELECT * FROM sz WHERE csz <= ${SimilarityOps.MaxSemCluster}),
         |sp AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb FROM small a JOIN small b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id),
         |big AS (SELECT * FROM sz WHERE csz > ${SimilarityOps.MaxSemCluster}),
         |bigb AS (SELECT vec_id, cid, $buckets FROM big),
         |bigbk AS ($bank),
         |bigkept AS (SELECT * FROM bigbk QUALIFY
         |  count(*) OVER (PARTITION BY cid, tbl, bucket) <= ${DedupOps.MaxBandBucket}),
         |bp AS (
         |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
         |  FROM bigkept a JOIN bigkept b
         |    ON a.cid = b.cid AND a.tbl = b.tbl AND a.bucket = b.bucket
         |      AND a.vec_id < b.vec_id),
         |cand AS (SELECT va, vb FROM sp UNION ALL SELECT va, vb FROM bp)
         |SELECT va AS vec_a, vb AS vec_b, cos_e6 FROM (
         |  SELECT c.va, c.vb, ${cosE6Sql("x.embedding", "y.embedding")} AS cos_e6
         |  FROM cand c JOIN src x ON x.vec_id = c.va
         |  JOIN src y ON y.vec_id = c.vb)
         |WHERE cos_e6 >= 900000""".stripMargin
    },

    "q_sim_neardup" -> {
      val dot = "(SELECT sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) " +
        "FROM unnest(range(1, 1 + len(a.embedding))) AS t(i))"
      val na = "sqrt((SELECT sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) FROM unnest(range(1, 1 + len(a.embedding))) AS t(i)))"
      val nb = "sqrt((SELECT sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) FROM unnest(range(1, 1 + len(b.embedding))) AS t(i)))"
      s"""WITH src AS ($E),
         |$lshBankSql,
         |bkept AS (SELECT * FROM bk QUALIFY
         |  count(*) OVER (PARTITION BY tbl, bucket) <= ${DedupOps.MaxBandBucket}),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
         |  FROM bkept x JOIN bkept y
         |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |SELECT c.va AS vec_a, c.vb AS vec_b,
         |  CAST(round($dot / ($na * $nb) * 10000) AS BIGINT) AS cos_e4
         |FROM cand c JOIN src a ON a.vec_id = c.va JOIN src b ON b.vec_id = c.vb
         |WHERE CAST(round($dot / ($na * $nb) * 10000) AS BIGINT) >= 9000""".stripMargin
    },

    "q_sim_ann" -> {
      // LSH-banded ANN with exact rerank, replicated end-to-end: the bucket
      // bank (literal hyperplanes), the distinct candidate pairs, the
      // cosine rerank and the per-query top-k window all mirror
      // SimilarityOps.topK over VecCandidates.Lsh.
      val dot = "(SELECT sum(CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) " +
        "FROM unnest(range(1, 1 + len(e.embedding))) AS t(i))"
      val nq = "sqrt((SELECT sum(CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)) FROM unnest(range(1, 1 + len(q.embedding))) AS t(i)))"
      val ne = "sqrt((SELECT sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) FROM unnest(range(1, 1 + len(e.embedding))) AS t(i)))"
      s"""WITH src AS (SELECT vec_id, embedding FROM embeddings),
         |$lshBankSql,
         |cand AS (
         |  SELECT DISTINCT qb.vec_id AS qid, ebk.vec_id AS nid
         |  FROM bk ebk JOIN bk qb
         |    ON ebk.tbl = qb.tbl AND ebk.bucket = qb.bucket
         |  WHERE qb.vec_id % 25 = 0 AND ebk.vec_id <> qb.vec_id),
         |scored AS (
         |  SELECT c.qid, c.nid,
         |    CAST(round($dot / ($nq * $ne) * 1000000) AS BIGINT) AS cos_e6
         |  FROM cand c JOIN embeddings q ON q.vec_id = c.qid
         |  JOIN embeddings e ON e.vec_id = c.nid)
         |SELECT qid, nid, rank, cos_e6 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rank
         |  FROM scored)
         |WHERE rank <= 10""".stripMargin
    },

    // hard-negatives twin: brute-force cosine over the planted corpus,
    // the duplicate ceiling applied BEFORE the per-query rank
    "q_negatives" ->
      s"""WITH src AS ($E),
         |q AS (SELECT vec_id AS qid, embedding AS qemb FROM src
         |  WHERE vec_id % 25 = 0),
         |scored AS (
         |  SELECT q.qid, e.vec_id AS nid,
         |    ${cosE6Sql("e.embedding", "q.qemb")} AS cos_e6
         |  FROM src e, q WHERE e.vec_id <> q.qid)
         |SELECT qid, nid, rank, cos_e6 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY cos_e6 DESC, nid) AS rank
         |  FROM scored WHERE cos_e6 < 990000)
         |WHERE rank <= 10""".stripMargin,

    "q_sim_topk" -> {
      val dot = "(SELECT sum(CAST(q.qemb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) " +
        "FROM unnest(range(1, 1 + len(e.embedding))) AS t(i))"
      val nq = "sqrt((SELECT sum(CAST(q.qemb[i] AS DOUBLE) * CAST(q.qemb[i] AS DOUBLE)) FROM unnest(range(1, 1 + len(q.qemb))) AS t(i)))"
      val ne = "sqrt((SELECT sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) FROM unnest(range(1, 1 + len(e.embedding))) AS t(i)))"
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qemb FROM embeddings WHERE vec_id % 25 = 0),
         |scored AS (
         |  SELECT q.qid, e.vec_id AS nid,
         |    CAST(round($dot / ($nq * $ne) * 1000000) AS BIGINT) AS cos_e6
         |  FROM embeddings e, q WHERE e.vec_id <> q.qid)
         |SELECT qid, nid, rank, cos_e6 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rank
         |  FROM scored)
         |WHERE rank <= 10""".stripMargin
    },

    "q_sim_ivf" -> {
      def cosE6(a: String, b: String): String = cosE6Sql(a, b)
      // bounded coarse quantizer: K = min(IvfMaxCentroids, ceil(sqrt(n)))
      // target centroids via the residue rule mixId(vec_id) % mod == 3 % mod —
      // the EXACT rule the IVF quantizer computes from its count() (floor
      // division both sides; 3 % mod keeps small corpora non-empty)
      s"""WITH n AS (SELECT count(*) AS c FROM embeddings),
         |md AS (SELECT greatest(c // greatest(least(${SimilarityOps.IvfMaxCentroids},
         |  CAST(ceil(sqrt(c)) AS BIGINT)), 1), 1) AS m FROM n),
         |cent AS (
         |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings, md
         |  WHERE ${mixIdSql("vec_id")} % m = 3 % m),
         |assigned AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosE6("e.embedding", "c.cemb")} DESC, c.cid) AS rn
         |    FROM embeddings e, cent c) WHERE rn = 1),
         |probes AS (
         |  SELECT qid, qemb, cid FROM (
         |    SELECT q.vec_id AS qid, q.embedding AS qemb, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosE6("q.embedding", "c.cemb")} DESC, c.cid) AS rn
         |    FROM embeddings q, cent c WHERE q.vec_id % 25 = 0) WHERE rn <= 4),
         |cand AS (
         |  SELECT DISTINCT p.qid, a.vec_id AS nid, ${cosE6("p.qemb", "a.embedding")} AS cos_e6
         |  FROM probes p JOIN assigned a ON a.cid = p.cid WHERE a.vec_id <> p.qid)
         |SELECT qid, nid, rank, cos_e6 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rank
         |  FROM cand)
         |WHERE rank <= 10""".stripMargin
    },

    "q_pipeline" ->
      s"""WITH RECURSIVE base AS ($C),
         |corpus AS (
         |  SELECT doc_id, text FROM base
         |  WHERE ($QualityScoreSql) >= 400
         |    AND len(regexp_extract_all(text, '[^ ]+')) >= 20),
         |$clusterCtesSql,
         |$SurvivorCtesSql,
         |toks AS (
         |  SELECT doc_id, ${tokenHashSql("tok")} AS h FROM (
         |    SELECT doc_id, unnest(regexp_extract_all(text, '[^ ]+')) AS tok FROM corpus)),
         |fps AS (
         |  SELECT c.doc_id,
         |    coalesce((SELECT CAST(sum(h) AS BIGINT) % 2305843009213693951
         |      FROM toks WHERE toks.doc_id = c.doc_id), 0) AS fp
         |  FROM corpus c)
         |SELECT s.doc_id, s.cluster_id, s.text_len,
         |  CASE WHEN f.fp % 1000 < 800 THEN 'train'
         |       WHEN f.fp % 1000 < 900 THEN 'valid' ELSE 'test' END AS split
         |FROM surv s JOIN fps f ON f.doc_id = s.doc_id""".stripMargin,

    "q_sim_pq" -> {
      def de6(a: String, b: String): String = pqSubDistSql(a, b)
      // codebook = first 16 vectors (by vec_id) of the residue class —
      // the EXACT rule the PQ codebook computes from its count(); ci is the code
      s"""WITH n AS (SELECT count(*) AS cnt FROM embeddings),
         |p AS (SELECT greatest(cnt // ${SimilarityOps.PqKsub}, 1) AS md FROM n),
         |samp AS (
         |  SELECT ci, cemb FROM (
         |    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, embedding AS cemb
         |    FROM embeddings, p WHERE ${mixIdSql("vec_id")} % md = 3 % md)
         |  WHERE ci < ${SimilarityOps.PqKsub}),
         |subs AS (SELECT unnest(range(0, 8)) AS j),
         |codes AS (
         |  SELECT vec_id, j, ci AS code FROM (
         |    SELECT e.vec_id, subs.j, s.ci,
         |      row_number() OVER (PARTITION BY e.vec_id, subs.j
         |        ORDER BY ${de6("e.embedding", "s.cemb")} ASC, s.ci) AS rn
         |    FROM embeddings e, subs, samp s) WHERE rn = 1),
         |dtab AS (
         |  SELECT q.vec_id AS qid, subs.j, s.ci, ${de6("q.embedding", "s.cemb")} AS dist
         |  FROM embeddings q, subs, samp s WHERE q.vec_id % 25 = 0),
         |scored AS (
         |  SELECT d.qid, c.vec_id AS nid, CAST(sum(d.dist) AS BIGINT) AS adist_e6
         |  FROM codes c JOIN dtab d ON d.j = c.j AND d.ci = c.code
         |  WHERE c.vec_id <> d.qid
         |  GROUP BY 1, 2)
         |SELECT qid, nid, rank, adist_e6 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist_e6 ASC, nid) AS rank
         |  FROM scored)
         |WHERE rank <= 10""".stripMargin
    },

    "q_sim_ivfpq" -> {
      def cosE6(a: String, b: String): String = cosE6Sql(a, b)
      def rde6(a: String, ca: String, b: String, cb: String): String =
        pqResSubDistSql(a, ca, b, cb)
      // coarse quantizer = the IVF rule; codebook = RESIDUALS of
      // the sampled vectors against their own assigned centroid; codes and
      // the per-(query, probed-list) distance tables are residual
      // sub-distances — exactly topK's Ivf x Pq residual encoding
      s"""WITH n AS (SELECT count(*) AS cnt FROM embeddings),
         |cmod AS (SELECT greatest(cnt // greatest(least(${SimilarityOps.IvfMaxCentroids},
         |  CAST(ceil(sqrt(cnt)) AS BIGINT)), 1), 1) AS cm FROM n),
         |cent AS (
         |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings, cmod
         |  WHERE ${mixIdSql("vec_id")} % cm = 3 % cm),
         |pmod AS (SELECT greatest(cnt // ${SimilarityOps.PqKsub}, 1) AS pm FROM n),
         |samp AS (
         |  SELECT ci, sid, semb FROM (
         |    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, vec_id AS sid,
         |      embedding AS semb
         |    FROM embeddings, pmod WHERE ${mixIdSql("vec_id")} % pm = 3 % pm)
         |  WHERE ci < ${SimilarityOps.PqKsub}),
         |subs AS (SELECT unnest(range(0, 8)) AS j),
         |assigned AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosE6("e.embedding", "c.cemb")} DESC, c.cid) AS rn
         |    FROM embeddings e, cent c) WHERE rn = 1),
         |sampc AS (
         |  SELECT s.ci, s.semb, c.cemb AS scent
         |  FROM samp s JOIN assigned a ON a.vec_id = s.sid
         |    JOIN cent c ON c.cid = a.cid),
         |codes AS (
         |  SELECT vec_id, j, ci AS code FROM (
         |    SELECT e.vec_id, subs.j, s.ci,
         |      row_number() OVER (PARTITION BY e.vec_id, subs.j
         |        ORDER BY ${rde6("e.embedding", "ce.cemb", "s.semb", "s.scent")} ASC, s.ci) AS rn
         |    FROM embeddings e JOIN assigned ae ON ae.vec_id = e.vec_id
         |      JOIN cent ce ON ce.cid = ae.cid, subs, sampc s) WHERE rn = 1),
         |probes AS (
         |  SELECT qid, cid FROM (
         |    SELECT q.vec_id AS qid, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosE6("q.embedding", "c.cemb")} DESC, c.cid) AS rn
         |    FROM embeddings q, cent c WHERE q.vec_id % 25 = 0) WHERE rn <= 4),
         |dtab AS (
         |  SELECT p.qid, p.cid, subs.j, s.ci,
         |    ${rde6("q.embedding", "pc.cemb", "s.semb", "s.scent")} AS dist
         |  FROM probes p JOIN embeddings q ON q.vec_id = p.qid
         |    JOIN cent pc ON pc.cid = p.cid, subs, sampc s),
         |cands AS (
         |  SELECT DISTINCT p.qid, a.vec_id AS nid
         |  FROM probes p JOIN assigned a ON a.cid = p.cid WHERE a.vec_id <> p.qid),
         |scored AS (
         |  SELECT c.qid, c.nid, CAST(sum(d.dist) AS BIGINT) AS adist_e6
         |  FROM cands c JOIN assigned an ON an.vec_id = c.nid
         |    JOIN codes k ON k.vec_id = c.nid
         |    JOIN dtab d ON d.qid = c.qid AND d.cid = an.cid
         |      AND d.j = k.j AND d.ci = k.code
         |  GROUP BY 1, 2)
         |SELECT qid, nid, rank, adist_e6 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist_e6 ASC, nid) AS rank
         |  FROM scored)
         |WHERE rank <= 10""".stripMargin
    },

    "q_sim_autotune" -> {
      def cosE6(a: String, b: String): String = cosE6Sql(a, b)
      // calibration twin: ONE probe pass at max(candidates) keeping the
      // probe RANK (each vector is on exactly one list, so a candidate's
      // rank IS its list's probe position), each smaller nprobe is a rank
      // filter; recall_pm = floor(1000·hits/total) against the exact
      // top-k; chosen = smallest candidate reaching 950‰, else the largest
      s"""WITH n AS (SELECT count(*) AS c FROM embeddings),
         |md AS (SELECT greatest(c // greatest(least(${SimilarityOps.IvfMaxCentroids},
         |  CAST(ceil(sqrt(c)) AS BIGINT)), 1), 1) AS m FROM n),
         |cent AS (
         |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings, md
         |  WHERE ${mixIdSql("vec_id")} % m = 3 % m),
         |assigned AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosE6("e.embedding", "c.cemb")} DESC, c.cid) AS rn
         |    FROM embeddings e, cent c) WHERE rn = 1),
         |probes AS (
         |  SELECT qid, qemb, cid, rn AS prn FROM (
         |    SELECT q.vec_id AS qid, q.embedding AS qemb, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosE6("q.embedding", "c.cemb")} DESC, c.cid) AS rn
         |    FROM embeddings q, cent c WHERE q.vec_id % 25 = 0) WHERE rn <= 8),
         |cand AS (
         |  SELECT p.qid, a.vec_id AS nid, p.prn,
         |    ${cosE6("p.qemb", "a.embedding")} AS cos_e6
         |  FROM probes p JOIN assigned a ON a.cid = p.cid WHERE a.vec_id <> p.qid),
         |exact AS (
         |  SELECT qid, nid FROM (
         |    SELECT q.vec_id AS qid, e.vec_id AS nid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosE6("e.embedding", "q.embedding")} DESC, e.vec_id) AS rnk
         |    FROM embeddings e, embeddings q
         |    WHERE q.vec_id % 25 = 0 AND e.vec_id <> q.vec_id) WHERE rnk <= 10),
         |tot AS (SELECT greatest(count(*), 1) AS t FROM exact),
         |nps AS (SELECT unnest([1, 2, 4, 8]) AS np),
         |ivf AS (
         |  SELECT np, qid, nid FROM (
         |    SELECT nps.np, c.qid, c.nid,
         |      row_number() OVER (PARTITION BY nps.np, c.qid
         |        ORDER BY c.cos_e6 DESC, c.nid) AS rnk
         |    FROM cand c JOIN nps ON c.prn <= nps.np) WHERE rnk <= 10),
         |hits AS (
         |  SELECT i.np, count(*) AS h FROM ivf i
         |  JOIN exact x ON x.qid = i.qid AND x.nid = i.nid GROUP BY 1),
         |rec AS (
         |  SELECT CAST(nps.np AS BIGINT) AS nprobe,
         |    coalesce(h, 0) * 1000 // t AS recall_pm
         |  FROM nps LEFT JOIN hits ON hits.np = nps.np, tot)
         |SELECT nprobe, recall_pm,
         |  nprobe = coalesce(min(CASE WHEN recall_pm >= 950 THEN nprobe END) OVER (),
         |    max(nprobe) OVER ()) AS chosen
         |FROM rec""".stripMargin
    },

    "q_lang_id" ->
      s"""WITH padded AS (SELECT doc_id, ' ' || text || ' ' AS pt FROM documents)
         |SELECT doc_id, $langIdCaseSql AS lang_pred
         |FROM (SELECT doc_id, pt, $langIdBestSql AS best FROM padded)""".stripMargin,

    // lang spans twin: same chunking by 1-based inclusive list slices,
    // same marker CASE per chunk, gaps-and-islands by index-minus-rank
    "q_lang_spans" -> {
      val w = LangSpanWidth
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '),
         |    t -> len(t) > 0) AS ws
         |  FROM documents),
         |ch AS (SELECT doc_id, ws,
         |    unnest(range(0, (len(ws) + $w - 1) // $w)) AS ci
         |  FROM toks WHERE len(ws) > 0),
         |ct AS (SELECT doc_id, ci,
         |  ' ' || array_to_string(ws[ci*$w + 1 : ci*$w + $w], ' ') || ' ' AS pt
         |  FROM ch),
         |sc AS (SELECT doc_id, ci, $langIdCaseSql AS lang
         |  FROM (SELECT doc_id, ci, pt, $langIdBestSql AS best FROM ct)),
         |gr AS (SELECT doc_id, ci, lang,
         |  ci - row_number() OVER (PARTITION BY doc_id, lang ORDER BY ci) AS grp
         |  FROM sc)
         |SELECT doc_id, lang, min(ci) AS start_chunk, max(ci) AS end_chunk,
         |  CAST(count(*) AS BIGINT) AS n_chunks
         |FROM gr GROUP BY doc_id, lang, grp""".stripMargin
    },

    "q_quality" ->
      s"""SELECT doc_id, $QualityScoreSql AS score FROM documents""".stripMargin,

    // calibrate twin: rank() + count() windows, same min-rank tie rule
    "q_calibrate" ->
      s"""WITH sc AS (
         |  SELECT doc_id, lang, $QualityScoreSql AS score FROM documents),
         |rk AS (
         |  SELECT doc_id, lang, score,
         |    CAST(rank() OVER (PARTITION BY lang ORDER BY score) AS BIGINT) AS r,
         |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
         |  FROM sc)
         |SELECT doc_id, lang, score,
         |  CASE WHEN n > 1 THEN ((r - 1) * 1000) // (n - 1) ELSE 0 END AS pct_pm
         |FROM rk""".stripMargin,

    "q_sessions" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts_us,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      AS BIGINT) AS sess_seq
        |  FROM g)
        |SELECT user_id, sess_seq, count(*) AS n_events,
        |  min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM s GROUP BY 1, 2""".stripMargin,

    "q_retention" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |fd AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY 1),
        |j AS (SELECT e.user_id, f.cohort,
        |    datediff('day', f.cohort, e.day) AS day_offset
        |  FROM ev e JOIN fd f USING (user_id))
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day, day_offset,
        |  count(DISTINCT user_id) AS active_users
        |FROM j GROUP BY cohort, day_offset""".stripMargin,

    "q_asof" ->
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
        |  CAST(round(l.value * 1000000) AS BIGINT) AS click_e6,
        |  epoch_us(r.ts) AS view_ts_us,
        |  CAST(round(r.value * 1000000) AS BIGINT) AS view_e6
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts""".stripMargin,

    "q_topk_group" ->
      s"""WITH scored AS (SELECT doc_id, lang, $QualityScoreSql AS score FROM documents)
         |SELECT doc_id, lang, score, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rank
         |  FROM scored)
         |WHERE rank <= 3""".stripMargin,

    "q_hll" -> hllSql(graft.core.Hll.M),

    "q_hll_m256" -> hllSql(256),

    "q_kmv" -> {
      val numer =
        (KmvK - 1).toDouble * operators.SketchOps.KmvDomain.toDouble
      s"""WITH $fpsCtesSql,
         |dh AS (SELECT DISTINCT lang, fp AS h FROM fps),
         |sm AS (SELECT lang, h FROM dh
         |  QUALIFY row_number() OVER (PARTITION BY lang ORDER BY h) <= $KmvK),
         |ag AS (SELECT lang, CAST(count(*) AS BIGINT) AS k_used,
         |    max(h) AS kth_h FROM sm GROUP BY 1),
         |ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM dh GROUP BY 1)
         |SELECT ag.lang, k_used, kth_h,
         |  CASE WHEN k_used < $KmvK THEN k_used
         |    ELSE CAST(round($numer / CAST(kth_h AS DOUBLE)) AS BIGINT)
         |  END AS est,
         |  n_exact
         |FROM ag JOIN ex ON ag.lang = ex.lang""".stripMargin
    },

    "q_kmv_jaccard" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(regexp_extract_all(text, '[^ ]+')) AS tok
         |  FROM documents),
         |th AS (SELECT DISTINCT source AS g,
         |  ${mixIdSql(tokenHashSql("tok"))} AS h FROM toks),
         |sk AS (SELECT g, h FROM th
         |  QUALIFY row_number() OVER (PARTITION BY g ORDER BY h) <= $KmvK),
         |gs AS (SELECT DISTINCT g FROM sk),
         |prs AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
         |u AS (
         |  SELECT p.ga, p.gb, s.h,
         |    max(CASE WHEN s.g = p.ga THEN 1 ELSE 0 END) AS ina,
         |    max(CASE WHEN s.g = p.gb THEN 1 ELSE 0 END) AS inb
         |  FROM prs p JOIN sk s ON s.g = p.ga OR s.g = p.gb
         |  GROUP BY 1, 2, 3),
         |r AS (SELECT * FROM u
         |  QUALIFY row_number() OVER (PARTITION BY ga, gb ORDER BY h) <= $KmvK)
         |SELECT ga, gb, CAST(count(*) AS BIGINT) AS k_used,
         |  CAST(sum(ina * inb) AS BIGINT) AS n_common,
         |  (CAST(sum(ina * inb) AS BIGINT) * 1000)
         |    // CAST(count(*) AS BIGINT) AS j_pm
         |FROM r GROUP BY 1, 2""".stripMargin,

    "q_split" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${tokenHashSql("tok")} AS h FROM (
         |    SELECT doc_id, unnest(regexp_extract_all(text, '[^ ]+')) AS tok FROM documents)),
         |fps AS (
         |  SELECT d.doc_id, d.source,
         |    coalesce((SELECT CAST(sum(h) AS BIGINT) % 2305843009213693951
         |      FROM toks WHERE toks.doc_id = d.doc_id), 0) AS fp,
         |    TRY_CAST(substr(d.source, 4) AS BIGINT) AS srcnum
         |  FROM documents d)
         |SELECT doc_id, source, fp % 1000 AS bucket,
         |  CASE WHEN fp % 1000 < 800 THEN 'train'
         |       WHEN fp % 1000 < 900 THEN 'valid' ELSE 'test' END AS split,
         |  CASE WHEN (fp // 1000) % 1000 < 100 + 45 * (srcnum % 20)
         |       THEN 1 ELSE 0 END AS kept
         |FROM fps""".stripMargin,

    "q_token_stats" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${tokenHashSql("tok")} AS h FROM (
         |    SELECT doc_id, unnest(regexp_extract_all(text, '[^ ]+')) AS tok FROM documents))
         |SELECT d.doc_id, CAST(len(regexp_extract_all(d.text, '[^ ]+')) AS BIGINT) AS n_tokens,
         |  coalesce((SELECT CAST(sum(h) AS BIGINT) % 2305843009213693951 FROM toks WHERE toks.doc_id = d.doc_id), 0) AS fingerprint
         |FROM documents d""".stripMargin,

    "q_token_bpe" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${Fns.BpeTokenPattern}')) AS BIGINT) AS n_bpe
         |FROM documents""".stripMargin,

    "q_cms" -> {
      import graft.operators.SketchOps.{CmsD, CmsSeed, CmsW}
      s"""WITH th AS (
         |  SELECT tok, ${tokenHashSql("tok")} AS h FROM (
         |    SELECT unnest(regexp_extract_all(text, '[^ ]+')) AS tok FROM documents)),
         |js AS (SELECT unnest(range($CmsD)) AS j),
         |cms AS (
         |  SELECT j AS row_j, ${mixIdSql(s"h + j * $CmsSeed")} % $CmsW AS col_w,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM th, js GROUP BY 1, 2),
         |top AS (
         |  SELECT tok, h, CAST(count(*) AS BIGINT) AS n_true
         |  FROM th GROUP BY 1, 2
         |  ORDER BY n_true DESC, tok LIMIT 20),
         |probes AS (
         |  SELECT tok, n_true, j AS row_j,
         |    ${mixIdSql(s"h + j * $CmsSeed")} % $CmsW AS col_w
         |  FROM top, js)
         |SELECT p.tok, p.n_true,
         |  CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS n_est
         |FROM probes p LEFT JOIN cms c
         |  ON c.row_j = p.row_j AND c.col_w = p.col_w
         |GROUP BY 1, 2""".stripMargin
    },

    // ground truth directly — the sketch path must land on exactly this
    "q_heavy_exact" ->
      """SELECT tok, CAST(count(*) AS BIGINT) AS n_true FROM (
        |  SELECT unnest(regexp_extract_all(text, '[^ ]+')) AS tok FROM documents)
        |GROUP BY 1 HAVING count(*) >= 200""".stripMargin,

    // BPE merge-round twin: vocabulary word counts, per-word adjacent
    // character pairs via unnest(range), weighted sum, deterministic cut
    // winnow twin: same packed rightmost-min key over the chain-hash
    // grams, sliding window frame, distinct keys decoded back
    "q_winnow" ->
      s"""WITH $winnowCtesSql
         |SELECT doc_id, CAST(${1L << 20} - (k % ${1L << 21}) AS BIGINT) AS pos,
         |  CAST(k // ${1L << 21} AS BIGINT) AS h FROM sel""".stripMargin,

    // winnow-pairs twin: distinct decoded hashes, QUALIFY bucket cap,
    // per-hash self-join with the shared-count floor
    "q_winnow_pairs" ->
      s"""WITH $winnowCtesSql,
         |fps AS (SELECT DISTINCT doc_id, k // ${1L << 21} AS h FROM sel),
         |fk AS (SELECT doc_id, h FROM fps QUALIFY
         |  count(*) OVER (PARTITION BY h) <= ${DedupOps.MaxBandBucket})
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM fk a JOIN fk b ON b.h = a.h AND b.doc_id > a.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared""".stripMargin,

    // ppjoin twin — INDEPENDENT brute force: all-pairs token
    // intersection with the exact integer threshold (no prefix logic)
    "q_ppjoin" ->
      s"""WITH toks AS (SELECT DISTINCT doc_id,
         |    unnest(regexp_extract_all(text, '[^ ]+')) AS tok FROM documents),
         |sz AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
         |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |  FROM toks a JOIN toks b ON b.tok = a.tok AND b.doc_id > a.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(c AS BIGINT) AS inter,
         |  CAST(sa.sz + sb.sz - c AS BIGINT) AS union_sz,
         |  (1000 * c) // (sa.sz + sb.sz - c) AS jac_pm
         |FROM i JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         |WHERE 1000 * c >= $PpJoinThrPm * (sa.sz + sb.sz - c)""".stripMargin,

    // bpe-train twin: unrolled merge rounds — pc = weighted adjacent
    // pair counts over the split symbol strings, top = the argmax merge,
    // w{r} = the greedy left-to-right fold applied via list_reduce over
    // a '#'-seeded token chain (boundary-space ends_with = token-exact
    // last-symbol test); MATERIALIZED (chain reuse)
    "q_bpe_train" -> {
      val sel = (1 to BpeTrainRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, x AS sym_a, y AS sym_b, cnt FROM top$r")
        .mkString("\nUNION ALL\n")
      s"""WITH $bpeStagesSql
         |$sel""".stripMargin
    },

    // bpe-apply twin: the shared trainer stages, then token counts per
    // vocabulary word joined back through the corpus' word explode
    "q_bpe_apply" ->
      s"""WITH $bpeStagesSql,
         |tok AS (SELECT w, len(string_split(trim(s), ' ')) AS ntok
         |  FROM w$BpeTrainRounds),
         |dw AS (SELECT doc_id, unnest(regexp_extract_all(text, '[^ ]+')) AS w
         |  FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens
         |FROM dw JOIN tok USING (w) GROUP BY 1""".stripMargin,

    "q_bpe_pairs" ->
      """WITH w AS (
        |  SELECT w, count(*) AS wc FROM (
        |    SELECT unnest(regexp_extract_all(text, '[^ ]+')) AS w
        |    FROM documents)
        |  GROUP BY 1),
        |pw AS (
        |  SELECT wc, substr(w, i, 2) AS pair FROM (
        |    SELECT w, wc, unnest(range(1, length(w))) AS i
        |    FROM w WHERE length(w) >= 2)),
        |pc AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt FROM pw GROUP BY 1)
        |SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair) AS rank
        |FROM pc ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,

    "q_balance" ->
      s"""WITH r AS (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY ${mixIdSql("doc_id")}, doc_id) AS lang_rank
         |  FROM documents),
         |nm AS (SELECT min(n) AS nmin FROM (
         |  SELECT count(*) AS n FROM r GROUP BY lang))
         |SELECT doc_id, lang, lang_rank FROM r, nm
         |WHERE lang_rank <= nmin""".stripMargin,

    "q_vocab" ->
      s"""SELECT tok, n FROM (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '${Fns.BpeTokenPattern}')) AS tok
         |    FROM documents)
         |  GROUP BY tok)
         |ORDER BY n DESC, tok LIMIT 50""".stripMargin,

    // direct arithmetic reconstruction of the link targets — never touches
    // the html, so any extraction defect on the Spark side mismatches
    "q_links" ->
      """WITH l AS (
        |  SELECT doc_id, (doc_id*31 + j*1009 + 7) % 100000 AS t
        |  FROM documents, (SELECT unnest(range(0, 3)) AS j))
        |SELECT 'site' || CAST(doc_id % 97 AS VARCHAR) || '.example.org' AS src_host,
        |       'site' || CAST(t % 97 AS VARCHAR) || '.example.org' AS dst_host,
        |       count(*) AS n_links
        |FROM l GROUP BY 1, 2""".stripMargin,

    // closed-form canonical URL per logical page lid = doc_id % 100 — the
    // Spark side must reduce all four surface forms to exactly this
    "q_url_canon" ->
      """SELECT 'https://site' || CAST((doc_id % 100) % 13 AS VARCHAR)
        |         || '.example.org/doc/' || CAST(doc_id % 100 AS VARCHAR)
        |         || '?a=1&b=2' AS curl,
        |       count(*) AS n_caps,
        |       max(1704067200000000 + doc_id * 1000000) AS last_us
        |FROM documents GROUP BY 1""".stripMargin,

    // frontier twin: closed-form canonical url/host (the q_url_canon
    // ground-truth construction), stalest-first slot per host
    "q_frontier" ->
      s"""WITH cand AS (
         |  SELECT 'https://site' || CAST((doc_id % 100) % 13 AS VARCHAR)
         |      || '.example.org/doc/' || CAST(doc_id % 100 AS VARCHAR)
         |      || '?a=1&b=2' AS curl,
         |    'site' || CAST((doc_id % 100) % 13 AS VARCHAR)
         |      || '.example.org' AS host,
         |    max(1704067200000000 + doc_id * 1000000) AS last_us
         |  FROM documents GROUP BY 1, 2),
         |sl AS (
         |  SELECT curl, host,
         |    row_number() OVER (PARTITION BY host ORDER BY last_us, curl) - 1
         |      AS slot
         |  FROM cand)
         |SELECT curl, host, slot,
         |  $FrontierBaseUs + slot * $FrontierDelayUs AS fetch_us
         |FROM sl""".stripMargin,

    "q_url_hosts" ->
      s"""WITH u AS (
        |  SELECT length(text) AS len,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://'
        |          WHEN doc_id % 3 = 1 THEN 'https://' ELSE 'http://' END)
        |    || 'Host' || (doc_id % 41) || '.Example.org'
        |    || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
        |    || '/p/' || doc_id
        |    || (CASE WHEN doc_id % 7 = 0 THEN '?q=x' ELSE '' END) AS url
        |  FROM documents)
        |SELECT lower(regexp_extract(url, '${Fns.UrlHostRegex}', 1)) AS host,
        |  count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS total_len
        |FROM u GROUP BY 1""".stripMargin,

    "q_rep_ngrams" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |sh AS (${shinglesSql(distinct = false)}),
         |c AS (SELECT doc_id, sh, count(*) AS c FROM sh GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST((max(c) * 1000) // CAST(sum(c) AS BIGINT) AS BIGINT) AS rep_pm
         |FROM c GROUP BY 1""".stripMargin,

    "q_pages_invariant" ->
      """SELECT 'https://example.org/doc/' || doc_id AS url, sha256(text) AS text_sha,
        |  1704067200000000 + doc_id * 1000000 AS warc_us, lang
        |FROM documents""".stripMargin,

    "q_tag_filter" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE regexp_matches(text, 'the [a-z]+ (slow|fast)') AND lang <> 'zh'""".stripMargin,

    // single-quoted DuckDB strings keep backslashes literal; the kv twin
    // writes the raw name value, the hstore twin its backslash-escaped form
    "q_tag_string" ->
      """SELECT doc_id,
        |  'lang=' || lang || ',name=doc "' || doc_id || '" \,source=' || source AS kv,
        |  '"lang"=>"' || lang || '","name"=>"doc \"' || doc_id || '\" \\","source"=>"' || source || '"' AS hstore
        |FROM documents""".stripMargin,

    "q_tag_rules" ->
      """SELECT doc_id, CAST(CASE
        |  WHEN lang = 'en' THEN 1
        |  WHEN source IN ('src1', 'src2', 'src3') THEN 0
        |  WHEN regexp_matches(lang, '^(de|fr)$') THEN 1
        |  WHEN lang IS NOT NULL THEN 0
        |  ELSE 0 END AS BIGINT) AS keep
        |FROM documents""".stripMargin,

    "q_timestamp_iso" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS iso FROM events""".stripMargin,

    "q_string_table" ->
      """WITH cnts AS (
        |  SELECT tok, count(*) AS cnt FROM (
        |    SELECT unnest(regexp_extract_all(text, '[^ ]+')) AS tok FROM documents)
        |  GROUP BY 1)
        |SELECT tok, cnt, rank FROM (
        |  SELECT *, row_number() OVER (ORDER BY cnt DESC, tok) AS rank FROM cnts)
        |WHERE rank <= 100""".stripMargin,

    "q_fanout" ->
      """SELECT 'lang' AS dim, lang AS key, count(*) AS n FROM documents GROUP BY 2
        |UNION ALL
        |SELECT 'source' AS dim, source AS key, count(*) AS n FROM documents GROUP BY 2""".stripMargin,

    // geojson twin: printf %.10g == core.Wkt.fmtG (the q_wkt parity),
    // ORDER-pinned string_agg
    "q_geojson" ->
      """WITH pts AS (
        |  SELECT DISTINCT l_orderkey AS way_id, l_linenumber AS seq,
        |    (l_orderkey * 2654435761) % 3400000000 - 1700000000
        |      + (((l_orderkey*10 + l_linenumber) * 1103515245) % 20000000 - 10000000) AS x,
        |    (l_orderkey * 2246822519) % 1600000000 - 800000000
        |      + (((l_orderkey*10 + l_linenumber) * 69069) % 20000000 - 10000000) AS y
        |  FROM lineitem WHERE l_orderkey % 17 = 0),
        |cs AS (SELECT way_id,
        |    string_agg('[' || printf('%.10g', x / 10000000.0) || ','
        |      || printf('%.10g', y / 10000000.0) || ']', ',' ORDER BY seq)
        |      AS coords
        |  FROM pts GROUP BY 1)
        |SELECT way_id,
        |  '{"type":"Feature","properties":{"way_id":' || CAST(way_id AS VARCHAR)
        |  || '},"geometry":{"type":"LineString","coordinates":['
        |  || coords || ']}}' AS gj
        |FROM cs""".stripMargin,

    "q_wkt" ->
      s"""WITH p AS ($P)
         |SELECT pid, 'POINT(' || printf('%.10g', lon_fix / 10000000.0) || ' ' ||
         |  printf('%.10g', lat_fix / 10000000.0) || ')' AS wkt
         |FROM p WHERE pid % 101 = 0""".stripMargin,

    "q_multimodal" ->
      """WITH m AS (
        |  SELECT 'https://example.org/doc/' || doc_id AS url,
        |    CAST(12 + length(text) + 14 AS BIGINT) AS n
        |  FROM documents)
        |SELECT url, n AS byte_len,
        |  CAST(320 + (n * 7919) % 1280 AS INTEGER) AS width,
        |  CAST(240 + (n * 104729) % 720 AS INTEGER) AS height,
        |  CAST(1 + n % 24 AS INTEGER) AS n_frames
        |FROM m""".stripMargin,

    "q_change_groups" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_id % 7 = 0 THEN 'd'
        |         WHEN event_id % 3 = 0 THEN 'c' ELSE 'm' END AS op
        |  FROM events),
        |g AS (
        |  SELECT user_id, op, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    - row_number() OVER (PARTITION BY user_id, op ORDER BY ts, event_id) AS grp
        |  FROM ev)
        |SELECT user_id, op, count(*) AS run_len, min(event_id) AS min_event
        |FROM g GROUP BY user_id, op, grp""".stripMargin,

    "q_route_assembly" ->
      s"""WITH $routeSql,
         |resolved AS (
         |  SELECT m.rel_id, m.member_pos, m.mtype, m.ref, e.payload, e.found
         |  FROM members m LEFT JOIN (
         |    SELECT 'n' AS t, id, payload, 1 AS found FROM nodes
         |    UNION ALL SELECT 'w', id, payload, 1 FROM ways
         |    UNION ALL SELECT 'r', id, payload, 1 FROM rels) e
         |  ON e.t = m.mtype AND e.id = m.ref)
         |SELECT rel_id, count(*) AS n_members,
         |  CAST(sum(CASE WHEN mtype = 'n' AND found IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nodes,
         |  CAST(sum(CASE WHEN mtype = 'w' AND found IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ways,
         |  CAST(sum(CASE WHEN mtype = 'r' AND found IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rels,
         |  CAST(to_json(list_sort(list(struct_pack(member_pos := member_pos,
         |    mtype := mtype, ref := ref, payload := payload)))) AS VARCHAR) AS members,
         |  CAST(sum(payload) AS BIGINT) AS payload_sum
         |FROM resolved GROUP BY 1
         |HAVING count(*) = count(found)""".stripMargin,

    // check-refs twin: dangling (mtype, ref) members via NOT EXISTS
    // against the unioned entity projection
    "q_check_refs" ->
      s"""WITH $routeSql,
         |ents AS (
         |  SELECT 'n' AS mtype, id AS ref FROM nodes
         |  UNION ALL SELECT 'w', id FROM ways
         |  UNION ALL SELECT 'r', id FROM rels),
         |dangling AS (
         |  SELECT m.mtype, count(*) AS m, count(DISTINCT m.rel_id) AS r
         |  FROM members m
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM ents e WHERE e.mtype = m.mtype AND e.ref = m.ref)
         |  GROUP BY 1)
         |SELECT t.mtype, coalesce(d.m, 0) AS n_missing,
         |  coalesce(d.r, 0) AS n_rels
         |FROM (VALUES ('n'), ('w'), ('r')) t(mtype)
         |LEFT JOIN dangling d ON d.mtype = t.mtype""".stripMargin,

    "q_orphans" ->
      s"""WITH $routeSql
         |SELECT 'n' AS mtype, count(*) AS n_orphans FROM nodes
         |  WHERE NOT EXISTS (SELECT 1 FROM members WHERE mtype = 'n' AND ref = nodes.id)
         |UNION ALL
         |SELECT 'w', count(*) FROM ways
         |  WHERE NOT EXISTS (SELECT 1 FROM members WHERE mtype = 'w' AND ref = ways.id)
         |UNION ALL
         |SELECT 'r', count(*) FROM rels
         |  WHERE NOT EXISTS (SELECT 1 FROM members WHERE mtype = 'r' AND ref = rels.id)""".stripMargin,

    // Golden-parquet oracle (assembly is not ANSI-SQL-expressible): the
    // committed golden is regenerated only by an explicit MakeGoldens run,
    // so the driver gate catches any unintended assembly-semantics drift
    // with a full rows+schema+hash compare.
    "q_area_assembly" ->
      s"""SELECT area_id, orig_id, from_way, n_outer, n_inner, status, wkt, tags_json
         |FROM read_parquet('${MakeGoldens.GoldenDir}/q_area_assembly/*.parquet')""".stripMargin,

    "q_frames" ->
      """WITH m AS (
        |  SELECT 'https://example.org/doc/' || doc_id AS url,
        |    1 + (12 + length(text) + 14) % 24 AS nf
        |  FROM documents)
        |SELECT url, frame_idx FROM (
        |  SELECT url, CAST(unnest(range(0, nf, 4)) AS BIGINT) AS frame_idx FROM m)
        |QUALIFY row_number() OVER (PARTITION BY url ORDER BY frame_idx) <= 8""".stripMargin,

    "q_salted_density" -> {
      val spread = spreadSql("cx")
      val spready = spreadSql("cy")
      s"""WITH p AS ($P), xy AS (
         |  SELECT least(((lon_fix + 1800000000) * 256) // 3600000000, 255) AS cx,
         |         least(((lat_fix + 900000000) * 256) // 1800000000, 255) AS cy
         |  FROM p)
         |SELECT (65536 | $spread | ($spready << 1)) AS cell, count(*) AS cnt
         |FROM xy GROUP BY 1""".stripMargin
    },

    "q_knn_geo_auto" -> knnGeoSql(499),

    "q_pagerank" -> pageRankSql(5),

    "q_ppr" -> pprSql(5),

    // poly-sample twin: candidates from a range cross product, the hex
    // half-planes as the exact inside test, QUALIFY first-k
    "q_poly_sample" -> {
      val verts = Seq(("cx + r", "cy"), ("cx + h", "cy + s"), ("cx - h", "cy + s"),
        ("cx - r", "cy"), ("cx - h", "cy - s"), ("cx + h", "cy - s"))
      val halfPlanes = verts.indices.map { i =>
        val (x1, y1) = verts(i); val (x2, y2) = verts((i + 1) % verts.length)
        s"(((($x2) - ($x1)) * (py - ($y1)) - (($y2) - ($y1)) * (px - ($x1))) >= 0)"
      }.mkString("\n  AND ")
      val m2 = 2L * PolySampleM
      s"""WITH hexes AS (${Synth.hexCorpusSql(PolySamplePolys)}),
         |cand AS (
         |  SELECT poly_id, cx, cy, r, h, s, jj.j AS j,
         |    (cx - r) + ${mixIdSql(s"poly_id * $m2 + jj.j * 2")} % (2*r + 1) AS px,
         |    (cy - s) + ${mixIdSql(s"poly_id * $m2 + jj.j * 2 + 1")} % (2*s + 1) AS py
         |  FROM hexes, range(0, $PolySampleM) jj(j)),
         |hits AS (SELECT poly_id, j, px, py FROM cand WHERE $halfPlanes)
         |SELECT poly_id, j, px, py FROM hits
         |QUALIFY row_number() OVER (PARTITION BY poly_id ORDER BY j) <= $PolySampleK"""
        .stripMargin
    },

    // buffer twin: same doubled-coordinate exact point-to-segment
    // distance; perpendicular branch in HUGEINT
    "q_buffer" -> {
      val pX = 3600000000L / (1L << BufferLevel)
      val pY = 1800000000L / (1L << BufferLevel)
      val gmax = (1L << BufferLevel) - 1
      val r2d = 4L * BufferRadius * BufferRadius
      s"""WITH pts AS (
         |  SELECT DISTINCT l_orderkey AS way_id, l_linenumber AS seq,
         |    (l_orderkey * 2654435761) % 3400000000 - 1700000000
         |      + (((l_orderkey*10 + l_linenumber) * 1103515245) % 20000000 - 10000000) AS x,
         |    (l_orderkey * 2246822519) % 1600000000 - 800000000
         |      + (((l_orderkey*10 + l_linenumber) * 69069) % 20000000 - 10000000) AS y
         |  FROM lineitem),
         |raw AS (
         |  SELECT x AS x2c, y AS y2c,
         |    lag(x) OVER (PARTITION BY way_id ORDER BY seq) AS x1c,
         |    lag(y) OVER (PARTITION BY way_id ORDER BY seq) AS y1c
         |  FROM pts),
         |segs AS (SELECT * FROM raw WHERE x1c IS NOT NULL),
         |rng AS (
         |  SELECT *,
         |    greatest((least(x1c, x2c) - $BufferRadius + 1800000000) // $pX, 0) AS bxlo,
         |    least((greatest(x1c, x2c) + $BufferRadius + 1800000000) // $pX, $gmax) AS bxhi,
         |    greatest((least(y1c, y2c) - $BufferRadius + 900000000) // $pY, 0) AS bylo,
         |    least((greatest(y1c, y2c) + $BufferRadius + 900000000) // $pY, $gmax) AS byhi
         |  FROM segs),
         |ex AS (SELECT x1c, y1c, x2c, y2c, bylo, byhi,
         |    unnest(range(bxlo, bxhi + 1)) AS bx FROM rng),
         |ey AS (SELECT x1c, y1c, x2c, y2c, bx,
         |    unnest(range(bylo, byhi + 1)) AS by FROM ex),
         |dd AS (
         |  SELECT bx, by,
         |    (x2c - x1c) * 2 AS vx, (y2c - y1c) * 2 AS vy,
         |    bx * ${2L * pX} + $pX - 3600000000 - x1c * 2 AS wx,
         |    by * ${2L * pY} + $pY - 1800000000 - y1c * 2 AS wy,
         |    bx * ${2L * pX} + $pX - 3600000000 - x2c * 2 AS ux,
         |    by * ${2L * pY} + $pY - 1800000000 - y2c * 2 AS uy
         |  FROM ey),
         |hit AS (
         |  SELECT bx, by FROM dd
         |  WHERE CASE
         |    WHEN vx * wx + vy * wy <= 0 THEN wx * wx + wy * wy <= $r2d
         |    WHEN vx * wx + vy * wy >= vx * vx + vy * vy
         |      THEN ux * ux + uy * uy <= $r2d
         |    ELSE CAST(vx * wy - vy * wx AS HUGEINT) * (vx * wy - vy * wx)
         |      <= CAST($r2d AS HUGEINT) * (vx * vx + vy * vy)
         |    END)
         |SELECT bx, by, CAST(count(*) AS BIGINT) AS n_segs
         |FROM hit GROUP BY 1, 2""".stripMargin
    },

    // road-density twin: floor-div midpoints, the hex half-planes, and
    // the shared per-segment-rounded haversine mm
    "q_road_density" -> {
      val verts = Seq(("cx + r", "cy"), ("cx + hh", "cy + s"), ("cx - hh", "cy + s"),
        ("cx - r", "cy"), ("cx - hh", "cy - s"), ("cx + hh", "cy - s"))
      val halfPlanes = verts.indices.map { i =>
        val (x1, y1) = verts(i); val (x2, y2) = verts((i + 1) % verts.length)
        s"(((($x2) - ($x1)) * (my - ($y1)) - (($y2) - ($y1)) * (mx - ($x1))) >= 0)"
      }.mkString("\n  AND ")
      s"""WITH pts AS (
         |  SELECT DISTINCT l_orderkey AS way_id, l_linenumber AS seq,
         |    (l_orderkey * 2654435761) % 3400000000 - 1700000000
         |      + (((l_orderkey*10 + l_linenumber) * 1103515245) % 20000000 - 10000000) AS x,
         |    (l_orderkey * 2246822519) % 1600000000 - 800000000
         |      + (((l_orderkey*10 + l_linenumber) * 69069) % 20000000 - 10000000) AS y
         |  FROM lineitem),
         |raw AS (SELECT way_id, seq, x, y,
         |    lag(x) OVER w AS px, lag(y) OVER w AS py
         |  FROM pts WINDOW w AS (PARTITION BY way_id ORDER BY seq)),
         |segs AS (SELECT * FROM raw WHERE px IS NOT NULL),
         |mid AS (SELECT way_id*10 + seq AS pid,
         |    ((x + px + 3600000000) // 2) - 1800000000 AS mx,
         |    ((y + py + 1800000000) // 2) - 900000000 AS my,
         |    CAST(round((${haversineSql("px / 10000000.0", "py / 10000000.0",
                "x / 10000000.0", "y / 10000000.0")}) * 1000.0) AS BIGINT) AS len_mm
         |  FROM segs),
         |hexes AS (SELECT poly_id, cx, cy, r, h AS hh, s
         |  FROM (${Synth.hexCorpusSql(RoadPolys)})),
         |hit AS (SELECT mid.pid, hx.poly_id, len_mm
         |  FROM mid JOIN hexes hx
         |    ON abs(mx - hx.cx) <= hx.r AND abs(my - hx.cy) <= hx.s
         |  WHERE $halfPlanes)
         |SELECT poly_id, CAST(count(*) AS BIGINT) AS n_segs,
         |  CAST(sum(len_mm) AS BIGINT) AS len_mm
         |FROM hit GROUP BY 1""".stripMargin
    },

    // STR twin: the same rank-cut arithmetic via window row_numbers
    "q_str_part" ->
      s"""WITH p AS ($P),
         |xr AS (SELECT pid, lon_fix, lat_fix,
         |    row_number() OVER (ORDER BY lon_fix, pid) AS rk FROM p),
         |sl AS (SELECT *,
         |    ((rk - 1) * $StrPartS) // (SELECT count(*) FROM p) AS slab
         |  FROM xr),
         |yr AS (SELECT *,
         |    row_number() OVER (PARTITION BY slab ORDER BY lat_fix, pid) AS yrk,
         |    count(*) OVER (PARTITION BY slab) AS m
         |  FROM sl),
         |ck AS (SELECT *, ((yrk - 1) * $StrPartS) // m AS cellk FROM yr)
         |SELECT CAST(slab * $StrPartS + cellk AS BIGINT) AS part_id,
         |  CAST(count(*) AS BIGINT) AS n_pts,
         |  min(lon_fix) AS min_x, max(lon_fix) AS max_x,
         |  min(lat_fix) AS min_y, max(lat_fix) AS max_y
         |FROM ck GROUP BY 1""".stripMargin,

    // revgeo twin: half-plane containment winner, else bbox-prefiltered
    // nearest center with the same (d2, poly_id) deterministic rank
    "q_revgeo" -> {
      val verts = Seq(("cx + r", "cy"), ("cx + hh", "cy + s"), ("cx - hh", "cy + s"),
        ("cx - r", "cy"), ("cx - hh", "cy - s"), ("cx + hh", "cy - s"))
      val halfPlanes = verts.indices.map { i =>
        val (x1, y1) = verts(i); val (x2, y2) = verts((i + 1) % verts.length)
        s"(((($x2) - ($x1)) * (py - ($y1)) - (($y2) - ($y1)) * (px - ($x1))) >= 0)"
      }.mkString("\n  AND ")
      s"""WITH hexes AS (SELECT poly_id, cx, cy, r, h AS hh, s
         |  FROM (${Synth.hexCorpusSql(RevgeoPolys)})),
         |p AS (SELECT * FROM ($P) WHERE pid % $RevgeoSampleMod = 0),
         |cand AS (SELECT p.pid, hx.poly_id, p.lon_fix AS px, p.lat_fix AS py,
         |    cx, cy, r, hh, s
         |  FROM p JOIN hexes hx
         |    ON abs(p.lon_fix - hx.cx) <= hx.r AND abs(p.lat_fix - hx.cy) <= hx.s),
         |ins AS (SELECT pid, poly_id FROM cand WHERE $halfPlanes),
         |win AS (SELECT pid, min(poly_id) AS poly_id FROM ins GROUP BY 1),
         |rest AS (SELECT * FROM p WHERE pid NOT IN (SELECT pid FROM win)),
         |near AS (SELECT r2.pid, hx.poly_id,
         |    (r2.lon_fix - hx.cx)*(r2.lon_fix - hx.cx)
         |      + (r2.lat_fix - hx.cy)*(r2.lat_fix - hx.cy) AS d2
         |  FROM rest r2 JOIN hexes hx
         |    ON abs(r2.lon_fix - hx.cx) <= $RevgeoRadius
         |   AND abs(r2.lat_fix - hx.cy) <= $RevgeoRadius
         |  WHERE (r2.lon_fix - hx.cx)*(r2.lon_fix - hx.cx)
         |      + (r2.lat_fix - hx.cy)*(r2.lat_fix - hx.cy)
         |      <= ${RevgeoRadius * RevgeoRadius}),
         |nw AS (SELECT pid, poly_id FROM near
         |  QUALIFY row_number() OVER (PARTITION BY pid ORDER BY d2, poly_id) = 1)
         |SELECT pid, poly_id, 'in' AS method FROM win
         |UNION ALL SELECT pid, poly_id, 'near' FROM nw""".stripMargin
    },

    // IoU twin: both corpora through the tagged raster CTEs, pair counts
    // via the cell equi-join, exact cross-multiplied threshold
    "q_iou" ->
      s"""WITH hexesa AS (${Synth.hexCorpusSql(IouPolys)}),
         |hexesb AS (SELECT poly_id, cx + $IouShiftFix AS cx, cy, r, h, s
         |  FROM (${Synth.hexCorpusSql(IouPolys)})),
         |${hexRasterCtesSqlFrom("hexesa", "a")},
         |${hexRasterCtesSqlFrom("hexesb", "b")},
         |sa AS (SELECT poly_id AS pa, CAST(count(*) AS BIGINT) AS na
         |  FROM zcellsa GROUP BY 1),
         |sb AS (SELECT poly_id AS pb, CAST(count(*) AS BIGINT) AS nb
         |  FROM zcellsb GROUP BY 1),
         |ix AS (
         |  SELECT a.poly_id AS pa, b.poly_id AS pb,
         |    CAST(count(*) AS BIGINT) AS inter
         |  FROM zcellsa a JOIN zcellsb b
         |    ON a.cell_x = b.cell_x AND a.cell_y = b.cell_y
         |  GROUP BY 1, 2)
         |SELECT pa, pb, (inter * 1000) // (na + nb - inter) AS iou_pm
         |FROM ix JOIN sa USING (pa) JOIN sb USING (pb)
         |WHERE inter * 1000 >= $IouThrPm * (na + nb - inter)""".stripMargin,

    // mosaic twin: argmax via QUALIFY ordered (c DESC, lang DESC) —
    // the exact tie order of max(struct(cnt, lang))
    "q_mosaic" ->
      s"""WITH gd AS (
         |  SELECT lang,
         |    least((((doc_id * 2654435761) % 3600000000 - 1800000000)
         |      + 1800000000) * ${1 << MosaicLevel} // 3600000000, ${(1 << MosaicLevel) - 1}) AS bx,
         |    least((((doc_id * 2246822519) % 1800000000 - 900000000)
         |      + 900000000) * ${1 << MosaicLevel} // 1800000000, ${(1 << MosaicLevel) - 1}) AS by
         |  FROM documents WHERE doc_id % 3 = 0),
         |cl AS (SELECT bx, by, lang, CAST(count(*) AS BIGINT) AS c
         |  FROM gd GROUP BY 1, 2, 3),
         |tt AS (SELECT bx, by, CAST(sum(c) AS BIGINT) AS total
         |  FROM cl GROUP BY 1, 2)
         |SELECT cl.bx, cl.by, lang, (c * 1000) // total AS share_pm
         |FROM cl JOIN tt ON tt.bx = cl.bx AND tt.by = cl.by
         |QUALIFY row_number() OVER (
         |  PARTITION BY cl.bx, cl.by ORDER BY c DESC, lang DESC) = 1""".stripMargin,

    // tile-encode twin: same lag-window deltas, string_agg with explicit
    // ORDER (the Spark side sorts the collected structs)
    "q_tile_encode" -> {
      val g = 1L << TileEncLevel
      s"""WITH pts AS (
         |  SELECT DISTINCT l_orderkey AS way_id, l_linenumber AS seq,
         |    (l_orderkey * 2654435761) % 3400000000 - 1700000000
         |      + (((l_orderkey*10 + l_linenumber) * 1103515245) % 20000000 - 10000000) AS x,
         |    (l_orderkey * 2246822519) % 1600000000 - 800000000
         |      + (((l_orderkey*10 + l_linenumber) * 69069) % 20000000 - 10000000) AS y
         |  FROM lineitem),
         |tl AS (SELECT way_id, seq, x, y,
         |    least(((x + 1800000000) * $g) // 3600000000, ${g - 1}) AS cell_x,
         |    least(((y + 900000000) * $g) // 1800000000, ${g - 1}) AS cell_y
         |  FROM pts),
         |dd AS (SELECT way_id, cell_x, cell_y, seq,
         |    x - coalesce(lag(x) OVER w, cell_x * 7031250 - 1800000000) AS dx,
         |    y - coalesce(lag(y) OVER w, cell_y * 3515625 - 900000000) AS dy
         |  FROM tl WINDOW w AS (
         |    PARTITION BY way_id, cell_x, cell_y ORDER BY seq)),
         |zz AS (SELECT way_id, cell_x, cell_y, seq,
         |    CAST(CASE WHEN dx >= 0 THEN 2*dx ELSE -2*dx - 1 END AS VARCHAR)
         |      || ',' ||
         |    CAST(CASE WHEN dy >= 0 THEN 2*dy ELSE -2*dy - 1 END AS VARCHAR) AS ps
         |  FROM dd)
         |SELECT cell_x, cell_y, way_id, CAST(count(*) AS BIGINT) AS n_pts,
         |  string_agg(ps, ',' ORDER BY seq) AS enc
         |FROM zz GROUP BY 1, 2, 3""".stripMargin
    },

    // isochrone twin: INDEPENDENT adjacency (|Δbx|+|Δby| = 1 predicate
    // join), recursive min-hop reach
    "q_isochrone" -> {
      val g = 1L << DilateLevel
      s"""WITH RECURSIVE p AS ($P),
         |occ AS (
         |  SELECT bx, by FROM (
         |    SELECT least(((lon_fix + 1800000000) * $g) // 3600000000, ${g - 1}) AS bx,
         |      least(((lat_fix + 900000000) * $g) // 1800000000, ${g - 1}) AS by,
         |      count(*) AS c
         |    FROM p GROUP BY 1, 2) WHERE c >= 3),
         |cid AS (SELECT bx, by, bx * $g + by AS cid FROM occ),
         |e AS (SELECT a.cid AS src, b.cid AS dst FROM cid a JOIN cid b
         |  ON b.bx BETWEEN a.bx - 1 AND a.bx + 1
         |    AND b.by BETWEEN a.by - 1 AND a.by + 1
         |    AND abs(a.bx - b.bx) + abs(a.by - b.by) = 1),
         |seeds AS (SELECT cid FROM cid WHERE cid % $IsoSeedMod = 3),
         |reach AS (
         |  SELECT cid AS node, 0 AS hops FROM seeds
         |  UNION
         |  SELECT e.dst, r.hops + 1 FROM reach r JOIN e ON e.src = r.node
         |  WHERE r.hops < $IsoMaxHops)
         |SELECT node // $g AS bx, node % $g AS by, CAST(min(hops) AS BIGINT) AS hops
         |FROM reach GROUP BY 1, 2""".stripMargin
    },

    // polylabel twin: neighbor-count stamps for the boundary, per-poly
    // pairwise Chebyshev min, QUALIFY argmax with the same tiebreak
    "q_polylabel" ->
      s"""WITH hexesl AS (${Synth.hexCorpusSql(RegionsPolys)}),
         |${hexRasterCtesSqlFrom("hexesl", "l", PolyLabelLevel)},
         |c AS (SELECT poly_id, cell_x, cell_y FROM zcellsl),
         |st AS (
         |  SELECT poly_id, cell_x + 1 AS cell_x, cell_y FROM c
         |  UNION ALL SELECT poly_id, cell_x - 1, cell_y FROM c
         |  UNION ALL SELECT poly_id, cell_x, cell_y + 1 FROM c
         |  UNION ALL SELECT poly_id, cell_x, cell_y - 1 FROM c),
         |nn AS (SELECT poly_id, cell_x, cell_y, count(*) AS nn
         |  FROM st GROUP BY 1, 2, 3),
         |bd AS (SELECT c.poly_id, c.cell_x AS bxx, c.cell_y AS byy
         |  FROM c LEFT JOIN nn ON nn.poly_id = c.poly_id
         |    AND nn.cell_x = c.cell_x AND nn.cell_y = c.cell_y
         |  WHERE coalesce(nn.nn, 0) < 4),
         |dm AS (SELECT c.poly_id, c.cell_x, c.cell_y,
         |    min(greatest(abs(c.cell_x - bd.bxx), abs(c.cell_y - bd.byy))) AS dist
         |  FROM c JOIN bd ON bd.poly_id = c.poly_id GROUP BY 1, 2, 3)
         |SELECT poly_id, cell_x AS lx, cell_y AS ly, CAST(dist AS BIGINT) AS dist
         |FROM dm QUALIFY row_number() OVER (
         |  PARTITION BY poly_id ORDER BY dist DESC, cell_x, cell_y) = 1""".stripMargin,

    // quadtree twin: Scala-generated per-level rollup CTEs, the same
    // parent-gated leaf rule per level
    "q_quadtree" -> {
      val L = QuadMaxLevel
      val g = 1 << L
      val rollups = (L - 1 to 0 by -1).map(lv =>
        s"c$lv AS (SELECT bx // 2 AS bx, by // 2 AS by, " +
          s"CAST(sum(cnt) AS BIGINT) AS cnt FROM c${lv + 1} GROUP BY 1, 2)")
        .mkString(",\n")
      val leaves = (0 to L).map { lv =>
        if (lv == 0)
          s"SELECT CAST(0 AS BIGINT) AS lv, bx, by, cnt FROM c0 WHERE cnt <= $QuadCap"
        else {
          val fits = if (lv == L) "TRUE" else s"c$lv.cnt <= $QuadCap"
          s"""SELECT CAST($lv AS BIGINT) AS lv, c$lv.bx, c$lv.by, c$lv.cnt
             |FROM c$lv JOIN c${lv - 1} p
             |  ON p.bx = c$lv.bx // 2 AND p.by = c$lv.by // 2
             |WHERE $fits AND p.cnt > $QuadCap""".stripMargin
        }
      }.mkString("\nUNION ALL\n")
      s"""WITH p AS ($P),
         |c$L AS (
         |  SELECT least(((lon_fix + 1800000000) * $g) // 3600000000, ${g - 1}) AS bx,
         |    least(((lat_fix + 900000000) * $g) // 1800000000, ${g - 1}) AS by,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM p GROUP BY 1, 2),
         |$rollups
         |$leaves""".stripMargin
    },

    // poly-compact twin: the shared hex-raster CTEs feeding the same
    // unrolled sibling promotion, poly_id riding every group key
    "q_poly_compact" ->
      s"""WITH $polyCompactCtesSql
         |SELECT lv, poly_id, bx, by FROM pcover""".stripMargin,

    // compact-pip twin: every point probes the compacted cover with its
    // level-l ancestor cells, half-plane refine against the hexagons
    "q_compact_pip" -> {
      val L = RasterizeLevel
      val g = 1L << L
      val verts = Seq(("hx.cx + hx.r", "hx.cy"), ("hx.cx + hx.h", "hx.cy + hx.s"),
        ("hx.cx - hx.h", "hx.cy + hx.s"), ("hx.cx - hx.r", "hx.cy"),
        ("hx.cx - hx.h", "hx.cy - hx.s"), ("hx.cx + hx.h", "hx.cy - hx.s"))
      val halfPlanes = verts.indices.map { i =>
        val (x1, y1) = verts(i); val (x2, y2) = verts((i + 1) % verts.length)
        s"((($x2) - ($x1)) * (c.lat_fix - ($y1)) - " +
          s"(($y2) - ($y1)) * (c.lon_fix - ($x1)) >= 0)"
      }.mkString("\n  AND ")
      s"""WITH $polyCompactCtesSql,
         |p AS ($P),
         |pr AS (
         |  SELECT pid, lon_fix, lat_fix, l AS lv,
         |    fx // (1::BIGINT << ($L - l)) AS bx,
         |    fy // (1::BIGINT << ($L - l)) AS by
         |  FROM (
         |    SELECT pid, lon_fix, lat_fix,
         |      least(((lon_fix + 1800000000) * $g) // 3600000000, ${g - 1}) AS fx,
         |      least(((lat_fix + 900000000) * $g) // 1800000000, ${g - 1}) AS fy,
         |      unnest(range(0, ${L + 1})) AS l
         |    FROM p)),
         |cand AS (SELECT pid, lon_fix, lat_fix, poly_id
         |  FROM pr JOIN pcover USING (lv, bx, by))
         |SELECT c.poly_id, CAST(count(*) AS BIGINT) AS n_points
         |FROM cand c JOIN hexesq hx ON hx.poly_id = c.poly_id
         |WHERE $halfPlanes
         |GROUP BY 1""".stripMargin
    },

    // compact twin: unrolled bottom-up sibling promotion — k{lv} is the
    // live cell set at level lv, f{lv} its complete (count = 4) parents;
    // leaves at lv are the cells whose parent is not complete
    "q_cell_compact" -> {
      val L = CompactLevel
      val g = 1L << L
      val sets = (L to 1 by -1).map { lv =>
        val src = if (lv == L)
          s"""k$L AS (SELECT DISTINCT
             |  least(((lon_fix + 1800000000) * $g) // 3600000000, ${g - 1}) AS bx,
             |  least(((lat_fix + 900000000) * $g) // 1800000000, ${g - 1}) AS by
             |FROM p)""".stripMargin
        else s"k$lv AS (SELECT bx, by FROM f${lv + 1})"
        val full = s"f$lv AS (SELECT bx // 2 AS bx, by // 2 AS by " +
          s"FROM k$lv GROUP BY 1, 2 HAVING count(*) = 4)"
        s"$src,\n$full"
      }.mkString(",\n")
      val leaves = (L to 1 by -1).map { lv =>
        s"""SELECT CAST($lv AS BIGINT) AS lv, k.bx, k.by FROM k$lv k
           |LEFT JOIN f$lv f ON f.bx = k.bx // 2 AND f.by = k.by // 2
           |WHERE f.bx IS NULL""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH p AS ($P),
         |$sets
         |$leaves
         |UNION ALL SELECT CAST(0 AS BIGINT) AS lv, bx, by FROM f1""".stripMargin
    },

    // adjacency twin: the shared hex-raster CTEs, one directed join per
    // geometric edge direction
    "q_adjacency" ->
      s"""WITH hexesj AS (
         |  SELECT * FROM (${Synth.hexCorpusSql(RegionsPolys)})
         |  UNION ALL
         |  SELECT poly_id + $RegionsPolys, cx + $AdjShiftFix, cy, r, h, s
         |  FROM (${Synth.hexCorpusSql(RegionsPolys)})),
         |${hexRasterCtesSqlFrom("hexesj", "j")},
         |c AS (SELECT poly_id, cell_x, cell_y FROM zcellsj),
         |ar AS (
         |  SELECT least(a.poly_id, b.poly_id) AS poly_a,
         |    greatest(a.poly_id, b.poly_id) AS poly_b, 1 AS is_border
         |  FROM c a JOIN c b ON b.cell_x = a.cell_x + 1 AND b.cell_y = a.cell_y
         |  WHERE a.poly_id <> b.poly_id
         |  UNION ALL
         |  SELECT least(a.poly_id, b.poly_id), greatest(a.poly_id, b.poly_id), 1
         |  FROM c a JOIN c b ON b.cell_x = a.cell_x AND b.cell_y = a.cell_y + 1
         |  WHERE a.poly_id <> b.poly_id
         |  UNION ALL
         |  SELECT a.poly_id, b.poly_id, 0
         |  FROM c a JOIN c b ON b.cell_x = a.cell_x AND b.cell_y = a.cell_y
         |  WHERE a.poly_id < b.poly_id)
         |SELECT poly_a, poly_b, CAST(sum(is_border) AS BIGINT) AS n_border,
         |  CAST(sum(1 - is_border) AS BIGINT) AS n_shared
         |FROM ar GROUP BY 1, 2""".stripMargin,

    // antimeridian twin: same orientation CASEs; `//` and Spark `div`
    // agree (both truncate toward zero), so the split latitude matches
    "q_antimeridian" ->
      s"""WITH s0 AS (
        |  SELECT doc_id AS seg_id,
        |    ((${mixIdSql("doc_id*4 + 1")} * 2654435761) % 1800000000 - 900000000) * 2 AS x1,
        |    (${mixIdSql("doc_id*4 + 2")} * 2246822519) % 1200000000 - 600000000 AS y1,
        |    ((${mixIdSql("doc_id*4 + 3")} * 2654435761) % 1800000000 - 900000000) * 2 AS x2,
        |    (${mixIdSql("doc_id*4 + 4")} * 2246822519) % 1200000000 - 600000000 AS y2
        |  FROM documents),
        |o AS (
        |  SELECT seg_id, abs(x2 - x1) > 1800000000 AS cr,
        |    CASE WHEN abs(x2 - x1) > 1800000000 AND x1 < x2 THEN x2 ELSE x1 END AS ax,
        |    CASE WHEN abs(x2 - x1) > 1800000000 AND x1 < x2 THEN y2 ELSE y1 END AS ay,
        |    CASE WHEN abs(x2 - x1) > 1800000000 AND x1 < x2 THEN x1 ELSE x2 END AS bx,
        |    CASE WHEN abs(x2 - x1) > 1800000000 AND x1 < x2 THEN y1 ELSE y2 END AS by
        |  FROM s0),
        |w AS (SELECT *, ay + ((by - ay) * (1800000000 - ax))
        |    // ((bx + 3600000000) - ax) AS ys FROM o)
        |SELECT seg_id, CAST(1 AS BIGINT) AS piece, ax AS x1, ay AS y1,
        |  CAST(1800000000 AS BIGINT) AS x2, ys AS y2 FROM w WHERE cr
        |UNION ALL
        |SELECT seg_id, CAST(2 AS BIGINT), CAST(-1800000000 AS BIGINT), ys,
        |  bx, by FROM w WHERE cr
        |UNION ALL
        |SELECT seg_id, CAST(0 AS BIGINT), ax, ay, bx, by FROM w
        |WHERE NOT cr""".stripMargin,

    // visibility twin: same occupancy CTE as disttrans, identical
    // floor-div DDA cell rule, probe steps via unnest(range)
    "q_visibility" -> {
      val g = 1L << DilateLevel
      val values = losPairs.map(p =>
        s"(${p._1}, ${p._2}, ${p._3}, ${p._4}, ${p._5})").mkString(", ")
      s"""WITH p AS ($P),
         |occ AS (
         |  SELECT bx, by FROM (
         |    SELECT least(((lon_fix + 1800000000) * $g) // 3600000000, ${g - 1}) AS bx,
         |      least(((lat_fix + 900000000) * $g) // 1800000000, ${g - 1}) AS by,
         |      count(*) AS c
         |    FROM p GROUP BY 1, 2) WHERE c >= 3),
         |pr(pair_id, x0, y0, x1, y1) AS (VALUES $values),
         |st AS (SELECT *, greatest(abs(x1 - x0), abs(y1 - y0)) AS n FROM pr),
         |probes AS (
         |  SELECT pair_id,
         |    (2 * n * x0 + 2 * (x1 - x0) * t + n) // (2 * n) AS bx,
         |    (2 * n * y0 + 2 * (y1 - y0) * t + n) // (2 * n) AS by
         |  FROM (SELECT *, unnest(range(1, n)) AS t FROM st)),
         |hits AS (SELECT pair_id, count(*) AS nb FROM probes
         |  JOIN occ USING (bx, by) GROUP BY 1)
         |SELECT CAST(pr.pair_id AS BIGINT) AS pair_id,
         |  CAST(coalesce(nb, 0) AS BIGINT) AS n_blockers,
         |  CAST(CASE WHEN coalesce(nb, 0) = 0 THEN 1 ELSE 0 END AS BIGINT) AS visible
         |FROM pr LEFT JOIN hits USING (pair_id)""".stripMargin
    },

    // disttrans twin: same capped stamps via a range cross product
    "q_disttrans" -> {
      val g = 1L << DilateLevel
      s"""WITH p AS ($P),
         |occ AS (
         |  SELECT bx, by FROM (
         |    SELECT least(((lon_fix + 1800000000) * $g) // 3600000000, ${g - 1}) AS bx,
         |      least(((lat_fix + 900000000) * $g) // 1800000000, ${g - 1}) AS by,
         |      count(*) AS c
         |    FROM p GROUP BY 1, 2) WHERE c >= 3),
         |st AS (
         |  SELECT bx + dx.d AS gx, by + dy.d AS gy,
         |    greatest(abs(dx.d), abs(dy.d)) AS dd
         |  FROM occ, range(-$DistTransK, ${DistTransK + 1}) dx(d),
         |    range(-$DistTransK, ${DistTransK + 1}) dy(d))
         |SELECT gx, gy, CAST(min(dd) AS BIGINT) AS dist
         |FROM st WHERE gx BETWEEN 0 AND ${g - 1} AND gy BETWEEN 0 AND ${g - 1}
         |GROUP BY 1, 2""".stripMargin
    },

    // regions twin: the shared hex-raster CTEs, shifted-neighbor edges,
    // min-reachable-id labels via the recursive closure (the q_wcc shape)
    "q_regions" -> {
      val g = 1L << RasterizeLevel
      s"""WITH RECURSIVE hexesr AS (${Synth.hexCorpusSql(RegionsPolys)}),
         |${hexRasterCtesSqlFrom("hexesr", "r")},
         |mcell AS (SELECT DISTINCT cell_x AS bx, cell_y AS by FROM zcellsr),
         |cid AS (SELECT bx, by, bx * $g + by AS cid FROM mcell),
         |ed0 AS (SELECT a.cid AS src, b.cid AS dst FROM cid a JOIN cid b
         |  ON (b.bx = a.bx + 1 AND b.by = a.by)
         |    OR (b.bx = a.bx AND b.by = a.by + 1)),
         |edges AS (SELECT src, dst FROM ed0 UNION SELECT dst, src FROM ed0),
         |reach AS (
         |  SELECT src AS a, dst AS b FROM edges
         |  UNION
         |  SELECT r2.a, e.dst FROM reach r2 JOIN edges e ON r2.b = e.src),
         |lbl AS (SELECT c.cid, c.bx, c.by,
         |    least(c.cid, coalesce(min(r3.b), c.cid)) AS region
         |  FROM cid c LEFT JOIN reach r3 ON r3.a = c.cid
         |  GROUP BY c.cid, c.bx, c.by)
         |SELECT region, CAST(count(*) AS BIGINT) AS n_cells,
         |  min(bx) AS minx, max(bx) AS maxx, min(by) AS miny, max(by) AS maxy
         |FROM lbl GROUP BY 1""".stripMargin
    },

    // contours twin: stamps via a 0..1 offset range cross product, the
    // SAME Scala-generated mask CASE rendered in DuckDB list syntax
    "q_contours" -> {
      val g = 1L << DilateLevel
      s"""WITH p AS ($P),
         |occ AS (
         |  SELECT bx, by FROM (
         |    SELECT least(((lon_fix + 1800000000) * $g) // 3600000000, ${g - 1}) AS bx,
         |      least(((lat_fix + 900000000) * $g) // 1800000000, ${g - 1}) AS by,
         |      count(*) AS c
         |    FROM p GROUP BY 1, 2) WHERE c >= 3),
         |st AS (
         |  SELECT bx - dx.d AS gx, by - dy.d AS gy,
         |    CASE WHEN dx.d = 0 AND dy.d = 0 THEN 1
         |         WHEN dx.d = 1 AND dy.d = 0 THEN 2
         |         WHEN dx.d = 1 AND dy.d = 1 THEN 4 ELSE 8 END AS bit
         |  FROM occ, range(0, 2) dx(d), range(0, 2) dy(d)),
         |mk AS (
         |  SELECT gx, gy, CAST(sum(bit) AS BIGINT) AS mask
         |  FROM st GROUP BY 1, 2
         |  HAVING sum(bit) <> 0 AND sum(bit) <> 15),
         |sg AS (SELECT gx, gy,
         |  unnest(${graft.operators.SpatialOps.msCaseSql(duck = true)}) AS seg
         |  FROM mk)
         |SELECT gx, gy, seg[1] AS x1, seg[2] AS y1, seg[3] AS x2, seg[4] AS y2
         |FROM sg""".stripMargin
    },

    // chaikin twin: per-round list comprehensions over 1-based edges,
    // same non-negative-offset floor emulation, zipped unnest explode
    "q_chaikin" -> {
      val off = 2000000000L
      def once(l: String): String =
        s"""(CASE WHEN len($l) >= 2 THEN list_concat(list_concat(
           |  [$l[1]],
           |  flatten([[ (3 * ($l[i] + $off) + ($l[i+1] + $off)) // 4 - $off,
           |             (($l[i] + $off) + 3 * ($l[i+1] + $off)) // 4 - $off ]
           |           FOR i IN range(1, len($l))])),
           |  [$l[len($l)]]) ELSE $l END)""".stripMargin.replace("\n", " ")
      def smooth(l: String): String =
        (1 to ChaikinRounds).foldLeft(l)((acc, _) => once(acc))
      s"""WITH li AS ($WayPtsSql),
         |t AS (
         |  SELECT way_id, list(x ORDER BY seq) AS xs, list(y ORDER BY seq) AS ys
         |  FROM li WHERE way_id % $ChaikinSample = 0 GROUP BY 1),
         |sm AS (SELECT way_id, ${smooth("xs")} AS sx, ${smooth("ys")} AS sy
         |  FROM t)
         |SELECT way_id,
         |  CAST(unnest(range(1, len(sx) + 1)) - 1 AS BIGINT) AS idx,
         |  unnest(sx) AS x, unnest(sy) AS y
         |FROM sm""".stripMargin
    },

    // decay twin: shift spelled as integer division by a CASE power
    "q_decay" -> {
      val g = 1L << DecayLevel
      val pow = (0 to 16).map(a => s"WHEN $a THEN ${1L << a}").mkString(" ")
      s"""WITH p AS ($P),
         |wp AS (
         |  SELECT least(((lon_fix + 1800000000) * $g) // 3600000000, ${g - 1}) AS bx,
         |    least(((lat_fix + 900000000) * $g) // 1800000000, ${g - 1}) AS by,
         |    65536 // (CASE least(pid % 32, 16) $pow END) AS w
         |  FROM p)
         |SELECT bx, by, CAST(sum(w) AS BIGINT) AS heat,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM wp GROUP BY 1, 2 HAVING sum(w) > 0""".stripMargin
    },

    // INDEPENDENT formulation: shard weights unnested from a range table
    // and the winner picked by a QUALIFY window (engine: literal struct
    // array + array_max ordering); ties break to the larger shard id
    "q_rendezvous" ->
      s"""WITH w AS (
         |  SELECT doc_id, s.s AS shard,
         |    ${mixIdSql("doc_id * 31 + s.s * 1009 + 7")} AS w
         |  FROM documents, range(0, $RendezvousShards) s(s))
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard, w FROM w
         |QUALIFY row_number() OVER (
         |  PARTITION BY doc_id ORDER BY w DESC, shard DESC) = 1""".stripMargin,

    // INDEPENDENT formulation: cross-multiplied cos² inequality spelled
    // over HAVING-capped term counts; same exact-rational metric contract
    "q_host_sim" ->
      s"""WITH tc AS (
         |  SELECT 'site' || CAST(doc_id % 97 AS VARCHAR) AS key, tok,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)
         |  GROUP BY 1, 2),
         |keep AS (SELECT tok FROM tc GROUP BY tok
         |  HAVING count(*) <= $HostSimDfCap),
         |ct AS (SELECT tc.key, tc.tok, tc.c FROM tc JOIN keep USING (tok)),
         |nrm AS (SELECT key, CAST(sum(c * c) AS BIGINT) AS n2 FROM ct GROUP BY 1),
         |dots AS (
         |  SELECT a.key AS key_a, b.key AS key_b,
         |    CAST(sum(a.c * b.c) AS BIGINT) AS dot
         |  FROM ct a JOIN ct b ON a.tok = b.tok AND a.key < b.key
         |  GROUP BY 1, 2)
         |SELECT key_a, key_b,
         |  CAST((dot * dot * 1000) // (na.n2 * nb.n2) AS BIGINT) AS cos2_pm
         |FROM dots
         |JOIN nrm na ON na.key = key_a
         |JOIN nrm nb ON nb.key = key_b
         |WHERE dot * dot * 1000 >= $HostSimThrPm * na.n2 * nb.n2""".stripMargin,

    // weighted twin: identical word-graph CTEs carrying the count as w
    "q_textrank_w" -> pageRankWeightedSql(TextRankIters, edgesWith =
      s"""toks AS (
         |  SELECT doc_id, ws, unnest(range(0, len(ws))) AS pos
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
         |bi AS (SELECT ws[pos+1] AS wa, ws[pos+2] AS wb FROM toks
         |       WHERE pos + 2 <= len(ws)),
         |cw AS (SELECT least(wa, wb) AS a, greatest(wa, wb) AS b,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM bi WHERE wa <> wb
         |  GROUP BY 1, 2 HAVING count(*) >= ${TextRankMinCount}),
         |edges AS (SELECT a AS src, b AS dst, c AS w FROM cw
         |  UNION ALL SELECT b, a, c FROM cw)""".stripMargin,
      idCol = "word"),

    // same unrolled integer-PageRank twin, edges swapped for the word
    // co-occurrence graph (tokens via string_split positions, unordered
    // bigram threshold, both directions)
    "q_textrank" -> pageRankSql(TextRankIters, edgesWith =
      s"""toks AS (
         |  SELECT doc_id, ws, unnest(range(0, len(ws))) AS pos
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
         |bi AS (SELECT ws[pos+1] AS wa, ws[pos+2] AS wb FROM toks
         |       WHERE pos + 2 <= len(ws)),
         |cw AS (SELECT least(wa, wb) AS a, greatest(wa, wb) AS b
         |  FROM bi WHERE wa <> wb
         |  GROUP BY 1, 2 HAVING count(*) >= $TextRankMinCount),
         |edges AS (SELECT a AS src, b AS dst FROM cw
         |  UNION ALL SELECT b, a FROM cw)""".stripMargin,
      idCol = "word"),

    "q_hits" -> hitsSql(3),

    "q_kcore" -> kCoreSql(KCoreK, KCoreMaxRounds),

    // INDEPENDENT formulation: QUALIFY-style row_number winner instead of
    // the struct-max; prefix DESC is tie-break hygiene only (two equal-
    // length prefixes matching one path are necessarily equal)
    "q_robots" ->
      s"""WITH u AS (
         |  SELECT doc_id AS url_id,
         |    'site' || (doc_id % 13) || '.example.org' AS host,
         |    '/sec' || (doc_id % 7) || '/page/' || doc_id AS path
         |  FROM documents),
         |hs AS (SELECT DISTINCT doc_id % 13 AS h FROM documents),
         |secs AS (SELECT h, unnest(range(0, 7)) AS s FROM hs),
         |r AS (
         |  SELECT 'site' || h || '.example.org' AS host, '/' AS prefix,
         |    CAST(1 AS BIGINT) AS allow FROM hs
         |  UNION ALL
         |  SELECT 'site' || h || '.example.org', '/sec' || s, (h + s) % 2
         |  FROM secs WHERE (h * 7 + s) % 3 <> 0
         |  UNION ALL
         |  SELECT 'site' || h || '.example.org', '/sec' || s || '/page/1',
         |    CAST(0 AS BIGINT)
         |  FROM secs WHERE (h + s) % 5 = 0),
         |hit AS (
         |  SELECT url_id, prefix, allow,
         |    row_number() OVER (PARTITION BY url_id
         |      ORDER BY length(prefix) DESC, allow DESC, prefix DESC) AS rn
         |  FROM u JOIN r USING (host)
         |  WHERE starts_with(path, prefix))
         |SELECT u.url_id, coalesce(h.prefix, '') AS prefix,
         |  CAST(coalesce(h.allow, 1) AS BIGINT) AS allow
         |FROM u LEFT JOIN (SELECT * FROM hit WHERE rn = 1) h USING (url_id)""".stripMargin,

    "q_sssp" ->
      s"""WITH RECURSIVE $linkEdgesSql,
         |reach AS (
         |  SELECT doc_id AS node_id, 0 AS hops FROM documents
         |  WHERE doc_id % $SsspSourceMod = 0
         |  UNION
         |  SELECT e.dst, r.hops + 1 FROM reach r JOIN edges e ON e.src = r.node_id
         |  WHERE r.hops < $SsspMaxHops)
         |SELECT node_id, CAST(min(hops) AS BIGINT) AS hops
         |FROM reach GROUP BY 1""".stripMargin,

    // σ twin — INDEPENDENT formulation: enumerate ALL walks up to the hop
    // bound (UNION ALL keeps multiplicity); σ(v) = number of walks of
    // length d(v), which equals the shortest-path count because a
    // minimal-length walk cannot revisit a vertex
    "q_path_counts" ->
      s"""WITH RECURSIVE $linkEdgesSql,
         |walks AS (
         |  SELECT doc_id AS node_id, 0 AS hops FROM documents
         |  WHERE doc_id % $PathCntSeedMod = 1
         |  UNION ALL
         |  SELECT e.dst, w.hops + 1 FROM walks w JOIN edges e ON e.src = w.node_id
         |  WHERE w.hops < $PathCntMaxHops),
         |d AS (SELECT node_id, min(hops) AS hops FROM walks GROUP BY 1)
         |SELECT d.node_id, CAST(d.hops AS BIGINT) AS hops,
         |  CAST(count(*) AS BIGINT) AS sigma
         |FROM walks w JOIN d ON d.node_id = w.node_id AND d.hops = w.hops
         |GROUP BY 1, 2""".stripMargin,

    // betweenness twin: the walks-based (d, σ) table plus unrolled
    // backward levels — every per-edge term is one integer floor div
    "q_betweenness" -> {
      val H = PathCntMaxHops
      val bws = (H - 1 to 0 by -1).map { h =>
        val deep = if (h == H - 1) "0"
          else s"coalesce((SELECT delta FROM bw${h + 1} b WHERE b.node_id = e.dst), 0)"
        s"""bw$h AS MATERIALIZED (
           |  SELECT v.node_id,
           |    CAST(sum((v.sigma * (1000000 + $deep)) // w.sigma) AS BIGINT) AS delta
           |  FROM edges e JOIN d v ON v.node_id = e.src AND v.hops = $h
           |  JOIN d w ON w.node_id = e.dst AND w.hops = ${h + 1}
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      val allBw = (H - 1 to 0 by -1).map(h => s"SELECT * FROM bw$h")
        .mkString(" UNION ALL ")
      s"""WITH RECURSIVE $linkEdgesSql,
         |walks AS (
         |  SELECT doc_id AS node_id, 0 AS hops FROM documents
         |  WHERE doc_id % $PathCntSeedMod = 1
         |  UNION ALL
         |  SELECT e.dst, w.hops + 1 FROM walks w JOIN edges e ON e.src = w.node_id
         |  WHERE w.hops < $H),
         |d AS MATERIALIZED (
         |  SELECT w.node_id, CAST(dd.hops AS BIGINT) AS hops,
         |    CAST(count(*) AS BIGINT) AS sigma
         |  FROM walks w JOIN (SELECT node_id, min(hops) AS hops FROM walks
         |    GROUP BY 1) dd
         |    ON dd.node_id = w.node_id AND dd.hops = w.hops
         |  GROUP BY 1, 2),
         |$bws
         |SELECT d.node_id, d.hops, d.sigma, coalesce(b.delta, 0) AS delta_e6
         |FROM d LEFT JOIN ($allBw) b USING (node_id)""".stripMargin
    },

    // bipartite twin — INDEPENDENT formulation: min-hop recursive closure
    // on the symmetrized edge set; a witness edge has both endpoints at
    // equal BFS parity
    "q_bipartite" ->
      s"""WITH RECURSIVE $linkEdgesSql,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |sym AS (SELECT a AS src, b AS dst FROM und
         |  UNION ALL SELECT b, a FROM und),
         |reach AS (
         |  SELECT doc_id AS node_id, 0 AS hops FROM documents
         |  WHERE doc_id % $SsspSourceMod = 0
         |  UNION
         |  SELECT e.dst, r.hops + 1 FROM reach r JOIN sym e ON e.src = r.node_id
         |  WHERE r.hops < $SsspMaxHops),
         |d AS (SELECT node_id, min(hops) AS hops FROM reach GROUP BY 1)
         |SELECT u.a, u.b, CAST(d1.hops AS BIGINT) AS da,
         |  CAST(d2.hops AS BIGINT) AS db
         |FROM und u JOIN d d1 ON d1.node_id = u.a JOIN d d2 ON d2.node_id = u.b
         |WHERE (d1.hops + d2.hops) % 2 = 0""".stripMargin,

    // MIS twin — the SAME deterministic round structure unrolled (the
    // pageRankSql generator pattern): pN = priorities, loseN = beaten
    // nodes, winN = round winners, remN/reN = shrunken graph
    "q_mis" -> lubySql(MisRounds, MisPrioMul, removeNeighbors = true),

    // coloring twin: the same rounds with winner-only removal
    "q_coloring" -> lubySql(ColoringRounds, ColorPrioMul,
      removeNeighbors = false),

    // hyperball twin: sparse register rows, per-round register-max merge
    // along edges, the q_hll finish chain replicated per radius
    "q_hyperball" -> {
      import graft.core.Hll
      val m = Hll.M
      val R = HyperBallRounds
      val fp = s"(${mixIdSql("nid")} * ${1L << 29} + ${mixIdSql("nid * 1009 + 3")})"
      val w = s"($fp >> ${Hll.log2m(m)})"
      val rounds = (1 to R).map { r =>
        s"""hb$r AS MATERIALIZED (
           |  SELECT node_id, reg, max(mrho) AS mrho FROM (
           |    SELECT node_id, reg, mrho FROM hb${r - 1}
           |    UNION ALL
           |    SELECT e.src AS node_id, s.reg, s.mrho
           |    FROM edges e JOIN hb${r - 1} s ON s.node_id = e.dst)
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      val ests = (0 to R).map { r =>
        s"""agg$r AS (SELECT node_id, count(*) AS n_regs,
           |  CAST(sum(CAST(1 AS BIGINT) << (${Hll.RhoCap} - mrho)) AS BIGINT) AS pop_sum
           |  FROM hb$r GROUP BY 1),
           |ex$r AS (SELECT node_id, n_regs,
           |  pop_sum + ($m - n_regs) * ${Hll.Scale} AS reg_sum,
           |  $m - n_regs AS vz FROM agg$r),
           |hx$r AS (SELECT *, ${m.toDouble} / CAST(greatest(vz, 1) AS DOUBLE) AS x
           |  FROM ex$r),
           |${lnStagesSql(s"hl$r", s"hx$r")}""".stripMargin
      }.mkString(",\n")
      val sel = (0 to R).map { r =>
        s"""SELECT node_id, CAST($r AS BIGINT) AS r, n_regs, reg_sum,
           |  CASE WHEN vz > 0 AND reg_sum >= ${Hll.lcThreshold(m)}
           |    THEN CAST(round((${m.toDouble} * (kl + srs)) * 1000.0) AS BIGINT)
           |    ELSE CAST(round((${Hll.estNumerator(m)} / reg_sum) * 1000.0) AS BIGINT)
           |  END AS est_e3
           |FROM hl${r}5""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $linkEdgesSql,
         |vs AS (SELECT DISTINCT src AS nid FROM edges
         |  UNION SELECT dst FROM edges),
         |rr AS (SELECT nid AS node_id, $fp % $m AS reg,
         |  least(bit_count((($w & (-$w)) - 1)) + 1, ${Hll.RhoCap}) AS rho
         |  FROM vs),
         |hb0 AS MATERIALIZED (
         |  SELECT node_id, reg, max(rho) AS mrho FROM rr GROUP BY 1, 2),
         |$rounds,
         |$ests
         |$sel""".stripMargin
    },

    // wsample twin: the shared lnDet CTE stages produce lnE6(1/u), then
    // the integer race key and the tie-broken top-k cut
    "q_wsample" ->
      s"""WITH ws0 AS (
         |  SELECT doc_id, n_chars AS w,
         |    1048576.0 / CAST((${mixIdSql("doc_id")} % 1048576) + 1 AS DOUBLE) AS x
         |  FROM documents WHERE n_chars > 0),
         |${lnStagesSql("ws", "ws0")}
         |SELECT doc_id, w,
         |  (CAST(round((kl + srs) * 1000000.0) AS BIGINT) * 1000000) // w
         |    AS race_key
         |FROM ws5 ORDER BY race_key, doc_id LIMIT $WSampleK""".stripMargin,

    "q_wsample_group" ->
      s"""WITH gs0 AS (
         |  SELECT lang, doc_id, n_chars AS w,
         |    1048576.0 / CAST((${mixIdSql("doc_id")} % 1048576) + 1 AS DOUBLE) AS x
         |  FROM documents WHERE n_chars > 0),
         |${lnStagesSql("gs", "gs0")},
         |keyed AS (
         |  SELECT lang, doc_id AS id, w,
         |    (CAST(round((kl + srs) * 1000000.0) AS BIGINT) * 1000000) // w
         |      AS race_key
         |  FROM gs5)
         |SELECT lang, id, w, race_key,
         |  CAST(row_number() OVER (PARTITION BY lang ORDER BY race_key, id)
         |    AS BIGINT) AS rn
         |FROM keyed
         |QUALIFY rn <= $WSampleGroupK""".stripMargin,

    // ktruss twin — INDEPENDENT formulation: triangles by the unoriented
    // canonical 3-join per unrolled peel round (ke0..keT — linkEdgesSql
    // owns the name e0); MATERIALIZED against exponential inlining
    "q_ktruss" -> {
      val stages = (1 to KTrussRounds).map { r =>
        s"""t$r AS MATERIALIZED (
           |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
           |  FROM ke${r - 1} e1 JOIN ke${r - 1} e2 ON e2.a = e1.b
           |  JOIN ke${r - 1} e3 ON e3.a = e1.a AND e3.b = e2.b),
           |s$r AS MATERIALIZED (
           |  SELECT a, b, count(*) AS sup FROM (
           |    SELECT x AS a, y AS b FROM t$r
           |    UNION ALL SELECT y, z FROM t$r
           |    UNION ALL SELECT x, z FROM t$r) GROUP BY 1, 2),
           |ke$r AS MATERIALIZED (
           |  SELECT e.a, e.b FROM ke${r - 1} e JOIN s$r s USING (a, b)
           |  WHERE s.sup >= ${KTrussK - 2})""".stripMargin
      }.mkString(",\n")
      val T = KTrussRounds
      s"""WITH $linkEdgesSql,
         |ke0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
         |  greatest(src, dst) AS b FROM edges WHERE src <> dst),
         |$stages,
         |tf AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM ke$T e1 JOIN ke$T e2 ON e2.a = e1.b
         |  JOIN ke$T e3 ON e3.a = e1.a AND e3.b = e2.b),
         |sf AS (SELECT a, b, CAST(count(*) AS BIGINT) AS sup FROM (
         |    SELECT x AS a, y AS b FROM tf
         |    UNION ALL SELECT y, z FROM tf
         |    UNION ALL SELECT x, z FROM tf) GROUP BY 1, 2)
         |SELECT e.a, e.b, coalesce(sf.sup, 0) AS sup
         |FROM ke$T e LEFT JOIN sf USING (a, b)""".stripMargin
    },

    // topo twin: Kahn rounds unrolled — per round the zero-in-degree
    // slice peels (EXCEPT of the remaining dst set), survivors after the
    // horizon carry layer -1; MATERIALIZED against exponential inlining
    "q_topo" -> {
      val stages = (0 until TopoRounds).map { r =>
        s"""z$r AS MATERIALIZED (
           |  SELECT node_id FROM n$r
           |  EXCEPT SELECT DISTINCT dst AS node_id FROM t${r}e),
           |n${r + 1} AS MATERIALIZED (
           |  SELECT DISTINCT dst AS node_id FROM t${r}e),
           |t${r + 1}e AS MATERIALIZED (
           |  SELECT src, dst FROM t${r}e
           |  WHERE src NOT IN (SELECT node_id FROM z$r))""".stripMargin
      }.mkString(",\n")
      val sel = (0 until TopoRounds).map(r =>
        s"SELECT node_id, CAST($r AS BIGINT) AS layer FROM z$r")
        .mkString("\nUNION ALL ")
      s"""WITH $linkEdgesSql,
         |t0e AS MATERIALIZED (SELECT src, dst FROM edges),
         |n0 AS MATERIALIZED (
         |  SELECT src AS node_id FROM t0e UNION SELECT dst FROM t0e),
         |$stages
         |$sel
         |UNION ALL
         |SELECT node_id, CAST(-1 AS BIGINT) AS layer FROM n$TopoRounds"""
        .stripMargin
    },

    // redirects twin — INDEPENDENT formulation: per-source reachability
    // CLOSURE (UNION dedupes, so cycles terminate); the final is the
    // unique reachable node with no outgoing edge, absent on a cycle
    "q_redirects" ->
      s"""WITH RECURSIVE red AS (
         |  SELECT doc_id AS src, ${mixIdSql("doc_id * 29 + 5")} %
         |    (SELECT count(*) FROM documents) AS dst
         |  FROM documents WHERE doc_id % 3 <> 0),
         |walk AS (
         |  SELECT src, src AS cur FROM red
         |  UNION
         |  SELECT w.src, r.dst FROM walk w JOIN red r ON r.src = w.cur),
         |term AS (
         |  SELECT w.src, w.cur AS final FROM walk w
         |  LEFT JOIN red r ON r.src = w.cur WHERE r.src IS NULL)
         |SELECT r0.src, t.final,
         |  CAST(CASE WHEN t.final IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_cycle
         |FROM (SELECT DISTINCT src FROM red) r0 LEFT JOIN term t USING (src)""".stripMargin,

    // SCC twin — INDEPENDENT formulation: full reachability closure,
    // mutual pairs, label = min mutually-reachable id (incl. self)
    "q_scc" ->
      s"""WITH RECURSIVE $linkEdgesSql,
         |e2 AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
         |reach AS (
         |  SELECT src AS a, dst AS b FROM e2
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN e2 e ON e.src = r.b),
         |vs AS (SELECT src AS id FROM e2 UNION SELECT dst FROM e2),
         |mutual AS (
         |  SELECT r1.a AS u, r1.b AS v
         |  FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a)
         |SELECT n.id AS node_id, least(n.id, coalesce(min(m.v), n.id)) AS scc_id
         |FROM vs n LEFT JOIN mutual m ON m.u = n.id GROUP BY n.id""".stripMargin,

    // MST twin — INDEPENDENT characterization: with a total order on
    // weights, e=(a,b,w) ∈ MST ⟺ the minimax path weight between a and b
    // equals w (no lighter-edge path connects them); minimax via the
    // min/max-semiring recursive closure (the q_frechet oracle shape)
    "q_mst" ->
      s"""WITH RECURSIVE e0 AS (
         |  SELECT doc_id AS src, j,
         |    ${mixIdSql("doc_id * 97 + j * 31")} % $MstNodes AS dst
         |  FROM documents, range(1, 3) jj(j) WHERE doc_id < $MstNodes),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM e0 WHERE src <> dst),
         |ew AS (SELECT a, b,
         |    (${mixIdSql("a * 31 + b * 13 + 7")} % 100000) * ${MstNodes * MstNodes}
         |      + a * $MstNodes + b AS w
         |  FROM und),
         |edges AS (SELECT a AS u, b AS v, w FROM ew
         |  UNION ALL SELECT b, a, w FROM ew),
         |reach AS (
         |  SELECT u AS s2, v AS t2, w AS mw FROM edges
         |  UNION
         |  SELECT r.s2, e.v, greatest(r.mw, e.w)
         |  FROM reach r JOIN edges e ON e.u = r.t2),
         |mm AS (SELECT s2, t2, min(mw) AS minimax FROM reach GROUP BY 1, 2)
         |SELECT a, b, w FROM ew
         |JOIN mm ON mm.s2 = ew.a AND mm.t2 = ew.b
         |WHERE mm.minimax = ew.w""".stripMargin,

    // closeness twin: tagged recursive reach per landmark, min dist per
    // (lm, node) pair, integer harmonic terms
    "q_closeness" ->
      s"""WITH RECURSIVE $linkEdgesSql,
         |reach AS (
         |  SELECT doc_id AS lm, doc_id AS node_id, 0 AS hops FROM documents
         |  WHERE doc_id % $ClosenessLmMod = 3 AND doc_id <= $ClosenessLmCap
         |  UNION
         |  SELECT r.lm, e.dst, r.hops + 1
         |  FROM reach r JOIN edges e ON e.src = r.node_id
         |  WHERE r.hops < $ClosenessMaxHops),
         |md AS (SELECT lm, node_id, min(hops) AS d FROM reach GROUP BY 1, 2)
         |SELECT node_id, CAST(count(*) AS BIGINT) AS n_lm,
         |  CAST(sum(CASE WHEN d > 0 THEN 1000000 // d ELSE 0 END) AS BIGINT)
         |    AS close_e6
         |FROM md GROUP BY 1""".stripMargin,

    // min-over-bounded-hop-paths == Bellman-Ford after the same number
    // of rounds (the Spark side's early exit only fires once converged,
    // when extra rounds are identity)
    "q_wsssp" ->
      s"""WITH RECURSIVE $linkEdgesSql,
         |we AS (SELECT src, dst,
         |  ${mixIdSql("src * 31 + dst * 13 + 7")} % 1000 + 1 AS w FROM edges),
         |reach AS (
         |  SELECT doc_id AS node_id, CAST(0 AS BIGINT) AS dist, 0 AS hops
         |  FROM documents WHERE doc_id % $SsspSourceMod = 0
         |  UNION
         |  SELECT e.dst, r.dist + e.w, r.hops + 1
         |  FROM reach r JOIN we e ON e.src = r.node_id
         |  WHERE r.hops < $SsspMaxHops)
         |SELECT node_id, CAST(min(dist) AS BIGINT) AS dist
         |FROM reach GROUP BY 1""".stripMargin,

    // double-sweep twin: two recursive-CTE BFS passes, argmax by
    // (hops DESC, node) — the exact rule doubleSweepDiameter applies
    "q_diameter" ->
      s"""WITH RECURSIVE $linkEdgesSql,
         |sym AS (SELECT src, dst FROM edges
         |  UNION SELECT dst AS src, src AS dst FROM edges),
         |s0 AS (SELECT min(src) AS sid FROM sym),
         |b1 AS (
         |  SELECT sid AS node_id, 0 AS hops FROM s0
         |  UNION
         |  SELECT e.dst, b.hops + 1 FROM b1 b JOIN sym e ON e.src = b.node_id
         |  WHERE b.hops < 30),
         |d1 AS (SELECT node_id, min(hops) AS hops FROM b1 GROUP BY 1),
         |f1 AS (SELECT node_id AS fid, hops AS e1 FROM d1
         |  ORDER BY hops DESC, node_id LIMIT 1),
         |b2 AS (
         |  SELECT fid AS node_id, 0 AS hops FROM f1
         |  UNION
         |  SELECT e.dst, b.hops + 1 FROM b2 b JOIN sym e ON e.src = b.node_id
         |  WHERE b.hops < 30),
         |d2 AS (SELECT node_id, min(hops) AS hops FROM b2 GROUP BY 1),
         |f2 AS (SELECT node_id AS pid2, hops AS e2 FROM d2
         |  ORDER BY hops DESC, node_id LIMIT 1)
         |SELECT s0.sid AS seed, f1.fid AS far_node, f1.e1 AS seed_ecc,
         |  f2.pid2 AS peak_node, f2.e2 AS diameter_lb
         |FROM s0, f1, f2""".stripMargin,

    // walks twin: unrolled steps over the sorted capped adjacency lists,
    // the same mixId index rule per (walk, step)
    "q_walks" -> {
      val steps = 4
      val hops = (1 to steps).map { t =>
        s"""s$t AS (
           |  SELECT walk_id,
           |    ns[${mixIdSql(s"walk_id * ${steps + 1} + $t")} % len(ns) + 1] AS cur
           |  FROM s${t - 1} JOIN nb ON nb.src = s${t - 1}.cur)""".stripMargin
      }.mkString(",\n")
      val sel = (0 to steps).map(t =>
        s"SELECT walk_id, CAST($t AS BIGINT) AS step, cur AS node FROM s$t")
        .mkString("\nUNION ALL ")
      s"""WITH $linkEdgesSql,
         |de AS (SELECT DISTINCT src, dst FROM edges),
         |nb AS (SELECT src, list_sort(list(dst))[1:1024] AS ns
         |  FROM de GROUP BY 1),
         |s0 AS (SELECT src * 2 + w.w AS walk_id, src AS cur
         |  FROM nb CROSS JOIN (SELECT unnest([0, 1]) AS w) w),
         |$hops
         |$sel""".stripMargin
    },

    "q_reciprocity" ->
      s"""WITH $linkEdgesSql,
         |de AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
         |m AS (SELECT a.src, count(*) AS mutual FROM de a
         |  JOIN de b ON b.src = a.dst AND b.dst = a.src GROUP BY 1),
         |o AS (SELECT src, count(*) AS outdeg FROM de GROUP BY 1)
         |SELECT o.src AS node_id, o.outdeg, coalesce(m.mutual, 0) AS mutual,
         |  (coalesce(m.mutual, 0) * 1000) // o.outdeg AS recip_pm
         |FROM o LEFT JOIN m USING (src)""".stripMargin,

    // gazetteer twin: the same exact substring-count formula over the
    // planted corpus, winner per doc via QUALIFY
    "q_geonames" ->
      """WITH gaz AS (
        |  SELECT n_nationkey AS gaz_key, n_name AS gaz_name,
        |    r_name AS gaz_group
        |  FROM nation JOIN region ON n_regionkey = r_regionkey),
        |pl AS (
        |  SELECT d.doc_id,
        |    upper(d.text || ' Visit ' || n1.n_name || ' and ' || n2.n_name
        |      || ' or ' || n1.n_name || '.') AS ut
        |  FROM documents d
        |  JOIN nation n1 ON d.doc_id % 25 = n1.n_nationkey
        |  JOIN nation n2 ON (d.doc_id * 7 + 3) % 25 = n2.n_nationkey),
        |sc AS (
        |  SELECT doc_id, gaz_key, gaz_name, gaz_group,
        |    (length(ut) - length(replace(ut, upper(gaz_name), '')))
        |      // length(gaz_name) AS n_mentions
        |  FROM pl CROSS JOIN gaz)
        |SELECT doc_id, gaz_key AS nation_key, gaz_name AS nation,
        |  gaz_group AS region, n_mentions
        |FROM sc WHERE n_mentions > 0
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |  ORDER BY n_mentions DESC, gaz_key) = 1""".stripMargin,

    // independent formulation: the orientation trick is a Spark-side
    // perf strategy; the oracle counts triangles directly as the ordered
    // 3-clique join a < b < c, each corner credited once
    "q_triangles" ->
      s"""WITH $linkEdgesSql,
         |ec AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM ec e1 JOIN ec e2 ON e2.a = e1.b
         |  JOIN ec e3 ON e3.a = e1.a AND e3.b = e2.b),
         |pn AS (SELECT unnest([x, y, z]) AS node_id FROM tri)
         |SELECT node_id, CAST(count(*) AS BIGINT) AS n_tri
         |FROM pn GROUP BY 1""".stripMargin,

    // INDEPENDENT formulation: per-round argmax spelled as a QUALIFY
    // row_number window (engine: max(struct)); rounds unrolled as CTEs
    "q_communities" -> {
      val rounds = (1 to LpaRounds).map { r =>
        s"""v$r AS (SELECT adj.u AS node, l.lab, count(*) AS c
           |  FROM adj JOIN lab${r - 1} l ON l.node = adj.v GROUP BY 1, 2),
           |lab$r AS (SELECT node, lab FROM v$r QUALIFY
           |  row_number() OVER (PARTITION BY node ORDER BY c DESC, lab ASC) = 1)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $linkEdgesSql,
         |ec AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |adj AS (SELECT a AS u, b AS v FROM ec UNION ALL SELECT b, a FROM ec),
         |lab0 AS (SELECT DISTINCT u AS node, u AS lab FROM adj),
         |$rounds
         |SELECT node AS node_id, lab AS community FROM lab$LpaRounds"""
        .stripMargin
    },

    // INDEPENDENT formulation: triangles re-counted by the unoriented
    // 3-join closure (as q_triangles), degrees from the doubled edge list
    "q_clustering" ->
      s"""WITH $linkEdgesSql,
         |ec AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |dg AS (SELECT u AS node_id, CAST(count(*) AS BIGINT) AS deg
         |  FROM (SELECT a AS u FROM ec UNION ALL SELECT b FROM ec)
         |  GROUP BY 1),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM ec e1 JOIN ec e2 ON e2.a = e1.b
         |  JOIN ec e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tc AS (SELECT node_id, CAST(count(*) AS BIGINT) AS n_tri
         |  FROM (SELECT unnest([x, y, z]) AS node_id FROM tri) GROUP BY 1)
         |SELECT dg.node_id, deg, coalesce(n_tri, 0) AS n_tri,
         |  (2000 * coalesce(n_tri, 0)) // (deg * (deg - 1)) AS coeff_pm
         |FROM dg LEFT JOIN tc ON tc.node_id = dg.node_id
         |WHERE deg >= 2""".stripMargin,

    // INDEPENDENT formulation: anti-join spelled as NOT EXISTS, pivot
    // contributions re-derived through the shared lnDet CTE stages
    "q_linkpred" ->
      s"""WITH $linkEdgesSql,
         |ec AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |adj AS (SELECT a AS u, b AS v FROM ec UNION ALL SELECT b, a FROM ec),
         |dg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1),
         |px AS (SELECT u AS pu, CAST(deg AS DOUBLE) AS x FROM dg
         |  WHERE deg BETWEEN 2 AND ${GraphOps.LinkPredHubCap}),
         |${lnStagesSql("lk", "px")},
         |piv AS (SELECT pu AS u, ${1000000000000L} //
         |  CAST(round((kl + srs) * 1000000.0) AS BIGINT) AS c
         |  FROM lk5),
         |nbr AS (SELECT adj.u, adj.v, piv.c FROM adj JOIN piv USING (u)),
         |agg AS (
         |  SELECT n1.v AS node_a, n2.v AS node_b,
         |    CAST(count(*) AS BIGINT) AS cn, CAST(sum(n1.c) AS BIGINT) AS aa_e6
         |  FROM nbr n1 JOIN nbr n2 ON n1.u = n2.u AND n1.v < n2.v
         |  GROUP BY 1, 2)
         |SELECT node_a, node_b, cn, aa_e6 FROM agg
         |WHERE cn >= 2 AND NOT EXISTS (
         |  SELECT 1 FROM ec WHERE a = node_a AND b = node_b)""".stripMargin,

    "q_quantiles" ->
      """WITH hist AS (
        |  SELECT lang, n_chars AS v, count(*) AS cnt FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, v, CAST(cnt AS BIGINT) AS cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM hist),
        |q AS (SELECT *, unnest([500, 900, 990]) AS q_pm FROM cum)
        |SELECT lang, q_pm, v AS value, n FROM q
        |WHERE cum >= (n * q_pm + 999) // 1000
        |  AND cum - cnt < (n * q_pm + 999) // 1000""".stripMargin,

    "q_quantiles_w" ->
      """WITH hist AS (
        |  SELECT lang, n_chars // 100 AS v, sum(n_chars) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, v, CAST(cnt AS BIGINT) AS cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM hist),
        |q AS (SELECT *, unnest([500, 900, 990]) AS q_pm FROM cum)
        |SELECT lang, q_pm, v AS value, n FROM q
        |WHERE cum >= (n * q_pm + 999) // 1000
        |  AND cum - cnt < (n * q_pm + 999) // 1000""".stripMargin,

    "q_quantiles_samp" ->
      s"""WITH sk AS (
         |  SELECT lang, n_chars AS v, doc_id,
         |    ${mixIdSql("doc_id * 2654435761 + 97")} AS skk
         |  FROM documents
         |  QUALIFY row_number() OVER (PARTITION BY lang ORDER BY skk, doc_id)
         |    <= $SampQuantK),
         |r AS (
         |  SELECT lang, v, doc_id,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY v, doc_id)
         |      AS BIGINT) AS vr,
         |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS m
         |  FROM sk),
         |q AS (SELECT *, unnest([500, 900, 990]) AS q_pm FROM r)
         |SELECT lang, q_pm, v AS est, m AS n_sampled FROM q
         |WHERE vr = (m * q_pm + 999) // 1000""".stripMargin,

    "q_interval_join" ->
      """WITH l AS (
        |  SELECT event_id AS lid, user_id AS key, epoch_us(ts) AS ls,
        |    epoch_us(ts) + (event_id % 48 + 1) * 3600000000 AS le
        |  FROM events WHERE event_type = 'error'),
        |r AS (
        |  SELECT event_id AS rid, user_id AS key, epoch_us(ts) AS rs,
        |    epoch_us(ts) + (event_id % 36 + 1) * 3600000000 AS re
        |  FROM events WHERE event_type = 'purchase')
        |SELECT lid, rid, l.key AS key,
        |  least(le, re) - greatest(ls, rs) AS overlap_us
        |FROM l JOIN r ON l.key = r.key
        |WHERE ls <= re AND rs <= le""".stripMargin,

    "q_postings" ->
      """WITH tf AS (
        |  SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(text, '[^ ]+')) AS tok
        |    FROM documents)
        |  GROUP BY 1, 2)
        |SELECT tok, df, postings FROM (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS df,
        |    CAST(to_json(list_sort(list(struct_pack(doc_id := doc_id,
        |      tf := tf)))[1:20]) AS VARCHAR) AS postings
        |  FROM tf GROUP BY 1)
        |WHERE df >= 3""".stripMargin,

    "q_bm25" -> bm25Sql(Seq("spark", "merge", "window")),

    // phrase twin — same offset-vote characterization over a list-indexed
    // positional token table
    "q_phrase" -> {
      val values = phraseSet.map { case (id, ts) =>
        s"($id, [${ts.map(t => s"'$t'").mkString(", ")}])"
      }.mkString(", ")
      s"""WITH ph(phrase_id, terms) AS (VALUES $values),
         |pt0 AS (SELECT phrase_id, len(terms) AS plen,
         |  unnest(range(0, len(terms))) AS i, terms FROM ph),
         |pt AS (SELECT phrase_id, plen, i, terms[i + 1] AS tok FROM pt0),
         |s1 AS (SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS a
         |  FROM documents),
         |tp0 AS (SELECT doc_id, unnest(range(0, len(a))) AS pos, a FROM s1),
         |tp AS (SELECT doc_id, pos, a[pos + 1] AS tok FROM tp0),
         |m AS (
         |  SELECT phrase_id, doc_id, pos - i AS start, plen,
         |    count(DISTINCT i) AS nhit
         |  FROM tp JOIN pt USING (tok) GROUP BY 1, 2, 3, 4)
         |SELECT CAST(phrase_id AS BIGINT) AS phrase_id, doc_id,
         |  CAST(count(*) AS BIGINT) AS n_matches
         |FROM m WHERE nhit = plen AND start >= 0 GROUP BY 1, 2""".stripMargin
    },

    "q_sql_fns" ->
      """SELECT doc_id,
        |  'lang=' || lang || ',source=' || source AS kv,
        |  '"lang"=>"' || lang || '","source"=>"' || source || '"' AS hs,
        |  'host' || (doc_id % 7) || '.example.org' AS host
        |FROM documents""".stripMargin,

    "q_sql_geo" -> {
      val mm = haversineSql("lon_fix / 10000000.0", "lat_fix / 10000000.0",
        "10.0", "20.0")
      s"""WITH p AS ($P),
         |px AS (SELECT pid, lon_fix, lat_fix, ${geohashBinsSql(5)},
         |         CAST(pid % 1000 + 1 AS DOUBLE) AS x
         |       FROM p WHERE pid % 101 = 0),
         |${lnStagesSql("lg", "px")}
         |SELECT pid,
         |  'POINT(' || printf('%.10g', lon_fix / 10000000.0) || ' ' ||
         |    printf('%.10g', lat_fix / 10000000.0) || ')' AS wkt,
         |  CAST(round(($mm) * 1000) AS BIGINT) AS mm,
         |  CAST(2000000000000 AS BIGINT) AS a2,
         |  (lon_fix BETWEEN -900000000 AND 900000000)
         |    AND (lat_fix BETWEEN -900000000 AND 900000000) AS inside,
         |  CAST(round((kl + srs) * 1000000) AS BIGINT) AS ln6,
         |  ${geohashCharsSql(5)} AS gh
         |FROM lg5""".stripMargin
    },

    "q_compaction" ->
      s"""WITH f AS (
         |  SELECT lang AS part_key, doc_id AS file_id,
         |    CAST(n_chars AS BIGINT) AS bytes
         |  FROM documents)
         |SELECT part_key, file_id, bytes,
         |  CAST(COALESCE(SUM(bytes) OVER (PARTITION BY part_key
         |    ORDER BY file_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS BIGINT) // $CompactionTarget AS grp
         |FROM f""".stripMargin,

    "q_centroid" ->
      s"""WITH hexes AS (${Synth.hexCorpusSql(CentroidPolys)}),
         |verts AS (
         |  SELECT poly_id, k,
         |    CASE k WHEN 0 THEN cx + r WHEN 1 THEN cx + h WHEN 2 THEN cx - h
         |         WHEN 3 THEN cx - r WHEN 4 THEN cx - h ELSE cx + h END
         |      + ((poly_id * 48271 + k * 7919) % 600001 - 300000) AS x,
         |    CASE k WHEN 0 THEN cy WHEN 1 THEN cy + s WHEN 2 THEN cy + s
         |         WHEN 3 THEN cy WHEN 4 THEN cy - s ELSE cy - s END
         |      + ((poly_id * 69621 + k * 104729) % 600001 - 300000) AS y
         |  FROM hexes, (SELECT unnest(range(0, 6)) AS k)),
         |e AS (
         |  SELECT a.poly_id,
         |    CAST(a.x AS HUGEINT) * b.y - CAST(b.x AS HUGEINT) * a.y AS cr,
         |    CAST(a.x + b.x AS HUGEINT) AS sx, CAST(a.y + b.y AS HUGEINT) AS sy
         |  FROM verts a JOIN verts b
         |    ON b.poly_id = a.poly_id AND b.k = (a.k + 1) % 6),
         |agg AS (
         |  SELECT poly_id, sum(cr) AS a2, sum(sx * cr) AS cxn, sum(sy * cr) AS cyn
         |  FROM e GROUP BY 1),
         |n AS (
         |  SELECT poly_id,
         |    CASE WHEN a2 < 0 THEN -cxn ELSE cxn END AS nx,
         |    CASE WHEN a2 < 0 THEN -cyn ELSE cyn END AS ny,
         |    CASE WHEN a2 < 0 THEN -3 * a2 ELSE 3 * a2 END AS d
         |  FROM agg)
         |SELECT poly_id,
         |  CAST((nx - (((nx % d) + d) % d)) // d AS BIGINT) AS cx_fix,
         |  CAST((ny - (((ny % d) + d) % d)) // d AS BIGINT) AS cy_fix
         |FROM n""".stripMargin,

    "q_hull" ->
      s"""WITH raw AS ($WayPtsSql),
         |pts AS (SELECT DISTINCT way_id, x, y FROM raw),
         |e AS (
         |  SELECT a.way_id, a.x AS ax, a.y AS ay, b.x AS ox, b.y AS oy
         |  FROM pts a JOIN pts b
         |    ON b.way_id = a.way_id AND (a.x <> b.x OR a.y <> b.y)
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM pts p
         |    WHERE p.way_id = a.way_id
         |      AND (p.x <> a.x OR p.y <> a.y) AND (p.x <> b.x OR p.y <> b.y)
         |      AND ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) < 0
         |        OR ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) = 0
         |          AND NOT ((p.x - a.x) * (b.x - a.x) + (p.y - a.y) * (b.y - a.y) > 0
         |            AND (p.x - a.x) * (b.x - a.x) + (p.y - a.y) * (b.y - a.y)
         |              < (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)))))),
         |agg AS (
         |  SELECT way_id,
         |    sum(CAST(ax AS HUGEINT) * oy - CAST(ox AS HUGEINT) * ay) AS a2,
         |    count(*) AS nh
         |  FROM e GROUP BY 1),
         |ways AS (SELECT DISTINCT way_id FROM pts)
         |SELECT w.way_id, CAST(coalesce(a2, 0) AS BIGINT) AS hull_area2,
         |  coalesce(nh, 0) AS n_hull
         |FROM ways w LEFT JOIN agg a ON a.way_id = w.way_id""".stripMargin,

    "q_way_cross" -> {
      val cases = (6 to 9).map(l =>
        s"WHEN n <= ${1L << (2 * l)} THEN ${1L << l}").mkString(" ")
      val sides = Seq("rx0" -> "ry0", "rx1" -> "ry0", "rx0" -> "ry1", "rx1" -> "ry1")
        .map { case (rx, ry) => s"(x1 - x0) * ($ry - y0) - (y1 - y0) * ($rx - x0)" }
      s"""WITH ks AS (
         |  SELECT DISTINCT l_orderkey AS way_id, l_linenumber AS seq FROM lineitem),
         |li AS (
         |  SELECT way_id, seq,
         |    ${mixIdSql("way_id * 2")} - 1073741824
         |      + (((way_id*10 + seq) * 1103515245) % 20000000 - 10000000) AS x,
         |    ${mixIdSql("way_id * 2 + 1")} % 1600000000 - 800000000
         |      + (((way_id*10 + seq) * 69069) % 20000000 - 10000000) AS y
         |  FROM ks),
         |segs0 AS (
         |  SELECT way_id, seq,
         |    lag(x) OVER (PARTITION BY way_id ORDER BY seq) AS x0,
         |    lag(y) OVER (PARTITION BY way_id ORDER BY seq) AS y0,
         |    x AS x1, y AS y1
         |  FROM li),
         |loc AS (SELECT * FROM segs0
         |  WHERE x0 IS NOT NULL
         |    AND abs(x1 - x0) <= $WayCrossSpan AND abs(y1 - y0) <= $WayCrossSpan),
         |lv AS (SELECT CASE $cases ELSE 1024 END AS g
         |  FROM (SELECT count(*) AS n FROM loc)),
         |cx AS (SELECT loc.*, g, unnest(range(
         |    least(((least(x0, x1) + 1800000000) * g) // 3600000000, g - 1),
         |    least(((greatest(x0, x1) + 1800000000) * g) // 3600000000, g - 1) + 1)) AS cell_x
         |  FROM loc, lv),
         |cov0 AS (SELECT *, unnest(range(
         |    least(((least(y0, y1) + 900000000) * g) // 1800000000, g - 1),
         |    least(((greatest(y0, y1) + 900000000) * g) // 1800000000, g - 1) + 1)) AS cell_y
         |  FROM cx),
         |rect AS (SELECT *,
         |    ((cell_x * 3600000000 + g - 1) // g - 1800000000) AS rx0,
         |    CASE WHEN cell_x = g - 1 THEN 1800000000
         |         ELSE (((cell_x + 1) * 3600000000 + g - 1) // g - 1800000000) - 1 END AS rx1,
         |    ((cell_y * 1800000000 + g - 1) // g - 900000000) AS ry0,
         |    CASE WHEN cell_y = g - 1 THEN 900000000
         |         ELSE (((cell_y + 1) * 1800000000 + g - 1) // g - 900000000) - 1 END AS ry1
         |  FROM cov0),
         |cov AS (
         |  SELECT way_id, seq, x0, y0, x1, y1, cell_x, cell_y FROM rect
         |  WHERE least(${sides.mkString(", ")}) <= 0
         |    AND greatest(${sides.mkString(", ")}) >= 0),
         |d AS (
         |  SELECT a.way_id AS way_a, b.way_id AS way_b, a.seq AS seq_a, b.seq AS seq_b,
         |    a.x0 AS ax0, a.y0 AS ay0, a.x1 AS ax1, a.y1 AS ay1,
         |    b.x0 AS bx0, b.y0 AS by0, b.x1 AS bx1, b.y1 AS by1,
         |    (b.x1 - b.x0) * (a.y0 - b.y0) - (b.y1 - b.y0) * (a.x0 - b.x0) AS d1,
         |    (b.x1 - b.x0) * (a.y1 - b.y0) - (b.y1 - b.y0) * (a.x1 - b.x0) AS d2,
         |    (a.x1 - a.x0) * (b.y0 - a.y0) - (a.y1 - a.y0) * (b.x0 - a.x0) AS d3,
         |    (a.x1 - a.x0) * (b.y1 - a.y0) - (a.y1 - a.y0) * (b.x1 - a.x0) AS d4
         |  FROM cov a JOIN cov b
         |    ON b.cell_x = a.cell_x AND b.cell_y = a.cell_y
         |    AND a.way_id < b.way_id),
         |hit AS (
         |  SELECT DISTINCT way_a, way_b, seq_a, seq_b FROM d
         |  WHERE sign(d1) * sign(d2) <= 0 AND sign(d3) * sign(d4) <= 0
         |    AND (NOT (d1 = 0 AND d2 = 0 AND d3 = 0 AND d4 = 0)
         |      OR (least(ax0, ax1) <= greatest(bx0, bx1)
         |        AND greatest(ax0, ax1) >= least(bx0, bx1)
         |        AND least(ay0, ay1) <= greatest(by0, by1)
         |        AND greatest(ay0, ay1) >= least(by0, by1))))
         |SELECT way_a, way_b, CAST(count(*) AS BIGINT) AS n_crossings
         |FROM hit GROUP BY 1, 2""".stripMargin
    },

    "q_planarize" -> {
      // INDEPENDENT formulation: no cell cover — bbox IEJoin prefilter
      // over all segment pairs, then the rational intersection computed
      // directly in HUGEINT (numerators reach coord·den ≈ 10^24): den
      // normalized positive via sign(), parameter ranges checked as
      // 0 ≤ tn,un ≤ den, and floor division emulated over DuckDB's
      // truncating `//` (negative non-exact quotients step down 1).
      s"""WITH ks AS (
         |  SELECT DISTINCT l_orderkey AS way_id, l_linenumber AS seq FROM lineitem),
         |li AS (
         |  SELECT way_id, seq,
         |    ${mixIdSql("way_id * 2")} - 1073741824
         |      + (((way_id*10 + seq) * 1103515245) % 20000000 - 10000000) AS x,
         |    ${mixIdSql("way_id * 2 + 1")} % 1600000000 - 800000000
         |      + (((way_id*10 + seq) * 69069) % 20000000 - 10000000) AS y
         |  FROM ks),
         |segs0 AS (
         |  SELECT way_id, seq,
         |    lag(x) OVER (PARTITION BY way_id ORDER BY seq) AS x0,
         |    lag(y) OVER (PARTITION BY way_id ORDER BY seq) AS y0,
         |    x AS x1, y AS y1
         |  FROM li),
         |-- MATERIALIZED: DuckDB 1.0.0's IEJoin hits an internal 'flat
         |-- vector' assertion when its inputs are lazy window-derived
         |-- vectors; materializing the segment list sidesteps it
         |loc AS MATERIALIZED (SELECT * FROM segs0
         |  WHERE x0 IS NOT NULL
         |    AND abs(x1 - x0) <= $WayCrossSpan AND abs(y1 - y0) <= $WayCrossSpan),
         |prj AS (
         |  SELECT a.way_id AS way_a, a.seq AS seq_a,
         |         b.way_id AS way_b, b.seq AS seq_b,
         |    a.x0 AS jax0, a.y0 AS jay0, a.x1 AS jax1, a.y1 AS jay1,
         |    b.x0 AS jbx0, b.y0 AS jby0, b.x1 AS jbx1, b.y1 AS jby1
         |  FROM loc a JOIN loc b ON a.way_id < b.way_id
         |    AND least(a.x0, a.x1) <= greatest(b.x0, b.x1)
         |    AND greatest(a.x0, a.x1) >= least(b.x0, b.x1)
         |    AND least(a.y0, a.y1) <= greatest(b.y0, b.y1)
         |    AND greatest(a.y0, a.y1) >= least(b.y0, b.y1)),
         |pr AS (
         |  -- HUGEINT casts kept OUT of the IEJoin's projection (DuckDB
         |  -- 1.0.0 internal 'flat vector' assertion when they ride it)
         |  SELECT way_a, seq_a, way_b, seq_b,
         |    CAST(jax0 AS HUGEINT) AS ax0, CAST(jay0 AS HUGEINT) AS ay0,
         |    CAST(jax1 AS HUGEINT) AS ax1, CAST(jay1 AS HUGEINT) AS ay1,
         |    CAST(jbx0 AS HUGEINT) AS bx0, CAST(jby0 AS HUGEINT) AS by0,
         |    CAST(jbx1 AS HUGEINT) AS bx1, CAST(jby1 AS HUGEINT) AS by1
         |  FROM prj),
         |r0 AS (
         |  SELECT *,
         |    (ax1-ax0)*(by1-by0) - (ay1-ay0)*(bx1-bx0) AS den0,
         |    (bx0-ax0)*(by1-by0) - (by0-ay0)*(bx1-bx0) AS tn0,
         |    (bx0-ax0)*(ay1-ay0) - (by0-ay0)*(ax1-ax0) AS un0
         |  FROM pr),
         |r1 AS (
         |  SELECT *, abs(den0) AS den,
         |    CAST(sign(den0) AS HUGEINT) * tn0 AS tn,
         |    CAST(sign(den0) AS HUGEINT) * un0 AS un
         |  FROM r0 WHERE den0 <> 0),
         |hit AS (
         |  SELECT *, ax0*den + tn*(ax1-ax0) AS pxn, ay0*den + tn*(ay1-ay0) AS pyn
         |  FROM r1 WHERE tn BETWEEN 0 AND den AND un BETWEEN 0 AND den)
         |SELECT way_a, seq_a, way_b, seq_b,
         |  CAST(CASE WHEN pxn < 0 AND pxn % den <> 0
         |            THEN pxn // den - 1 ELSE pxn // den END AS BIGINT) AS px,
         |  CAST(CASE WHEN pyn < 0 AND pyn % den <> 0
         |            THEN pyn // den - 1 ELSE pyn // den END AS BIGINT) AS py
         |FROM hit""".stripMargin
    },

    "q_way_poly" -> {
      // INDEPENDENT formulation: no cell cover — bbox IEJoin prefilter,
      // then strict separating-axis over the hexagon's six closed-form
      // half-planes plus the segment-normal axis (complete for convex
      // polygon × segment; the Spark kernel instead ray-casts endpoints
      // and straddle-tests each edge). Strictly-outside-both per
      // half-plane == separated; the segment normal axis needs the
      // hexagon's support value max(|nx|·r, |nx|·h + |ny|·s). All exact
      // int64: candidates are bbox-bounded so |px| ≤ r + span ≈ 2.8e7.
      s"""WITH ks AS (
         |  SELECT DISTINCT l_orderkey AS way_id, l_linenumber AS seq FROM lineitem),
         |li AS (
         |  SELECT way_id, seq,
         |    ${mixIdSql("way_id * 2")} - 1073741824
         |      + (((way_id*10 + seq) * 1103515245) % 20000000 - 10000000) AS x,
         |    ${mixIdSql("way_id * 2 + 1")} % 1600000000 - 800000000
         |      + (((way_id*10 + seq) * 69069) % 20000000 - 10000000) AS y
         |  FROM ks),
         |segs0 AS (
         |  SELECT way_id, seq,
         |    lag(x) OVER (PARTITION BY way_id ORDER BY seq) AS x0,
         |    lag(y) OVER (PARTITION BY way_id ORDER BY seq) AS y0,
         |    x AS x1, y AS y1
         |  FROM li),
         |loc AS (SELECT * FROM segs0
         |  WHERE x0 IS NOT NULL
         |    AND abs(x1 - x0) <= $WayCrossSpan AND abs(y1 - y0) <= $WayCrossSpan),
         |hexes AS (${Synth.hexCorpusSql(PipLargePolys)}),
         |cand AS (
         |  SELECT l.way_id, l.seq, h.poly_id,
         |    l.x0 - h.cx AS px0, l.y0 - h.cy AS py0,
         |    l.x1 - h.cx AS px1, l.y1 - h.cy AS py1,
         |    -(l.y1 - l.y0) AS nx, l.x1 - l.x0 AS ny,
         |    h.r AS r, h.h AS hh, h.s AS s
         |  FROM loc l JOIN hexes h
         |    ON least(l.x0, l.x1) <= h.cx + h.r AND greatest(l.x0, l.x1) >= h.cx - h.r
         |   AND least(l.y0, l.y1) <= h.cy + h.s AND greatest(l.y0, l.y1) >= h.cy - h.s)
         |SELECT way_id, poly_id, CAST(count(*) AS BIGINT) AS n_segs
         |FROM cand
         |WHERE NOT (py0 > s AND py1 > s)
         |  AND NOT (-py0 > s AND -py1 > s)
         |  AND NOT (2*s*px0 + r*py0 > 2*s*r AND 2*s*px1 + r*py1 > 2*s*r)
         |  AND NOT (-(2*s*px0 + r*py0) > 2*s*r AND -(2*s*px1 + r*py1) > 2*s*r)
         |  AND NOT (2*s*px0 - r*py0 > 2*s*r AND 2*s*px1 - r*py1 > 2*s*r)
         |  AND NOT (-(2*s*px0 - r*py0) > 2*s*r AND -(2*s*px1 - r*py1) > 2*s*r)
         |  AND abs(nx*px0 + ny*py0) <= greatest(abs(nx)*r, abs(nx)*hh + abs(ny)*s)
         |GROUP BY 1, 2""".stripMargin
    },

    "q_staypoints" ->
      s"""WITH $stayCtesSql
         |SELECT entity, start_ts, end_ts, n_pings,
         |  min_x, max_x, min_y, max_y FROM stay""".stripMargin,

    "q_od" ->
      s"""WITH $stayCtesSql,
         |oc AS (SELECT entity, start_ts, end_ts,
         |    ((min_x + max_x) // 2) // $OdCellFix AS cx,
         |    ((min_y + max_y) // 2) // $OdCellFix AS cy
         |  FROM stay),
         |tp AS (SELECT entity, start_ts,
         |    lag(cx) OVER w AS from_cx, lag(cy) OVER w AS from_cy,
         |    lag(end_ts) OVER w AS from_end, cx AS to_cx, cy AS to_cy
         |  FROM oc WINDOW w AS (PARTITION BY entity ORDER BY start_ts))
         |SELECT from_cx, from_cy, to_cx, to_cy,
         |  CAST(count(*) AS BIGINT) AS n_trips,
         |  CAST(sum(start_ts - from_end) AS BIGINT) AS transit_sum
         |FROM tp WHERE from_cx IS NOT NULL
         |GROUP BY 1, 2, 3, 4""".stripMargin,

    // funnel twin: the same chained filtered min-aggs
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type AS et, epoch_us(ts) AS tu
        |  FROM events),
        |v AS (SELECT user_id, min(tu) AS t1 FROM e WHERE et = 'view'
        |  GROUP BY 1),
        |c AS (SELECT e.user_id, min(tu) AS t2 FROM e JOIN v USING (user_id)
        |  WHERE et = 'click' AND tu > t1 GROUP BY 1),
        |p AS (SELECT e.user_id, min(tu) AS t3 FROM e JOIN c USING (user_id)
        |  WHERE et = 'purchase' AND tu > t2 GROUP BY 1)
        |SELECT v.user_id, t1, t2, t3,
        |  CAST(1 + CAST(t2 IS NOT NULL AS INT)
        |    + CAST(t3 IS NOT NULL AS INT) AS BIGINT) AS stage
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)"""
        .stripMargin,

    // covisit twin: distinct entity-cell pairs, triangle self-join,
    // QUALIFY top-3 with the same deterministic rank
    "q_covisit" ->
      s"""WITH $trackCtesSql,
         |ec AS (SELECT DISTINCT entity,
         |    ((x + 2000000000) // $CovisitPitch) * 1024
         |      + ((y + 2000000000) // $CovisitPitch) AS cell
         |  FROM tr),
         |pr AS (SELECT a.cell AS cell_a, b.cell AS cell_b,
         |    CAST(count(*) AS BIGINT) AS n_ent
         |  FROM ec a JOIN ec b ON b.entity = a.entity AND a.cell < b.cell
         |  GROUP BY 1, 2)
         |SELECT cell_a, cell_b, n_ent FROM pr WHERE n_ent >= 2
         |QUALIFY row_number() OVER (
         |  PARTITION BY cell_a ORDER BY n_ent DESC, cell_b) <= 3""".stripMargin,

    // transitions twin: run-collapse then lag, QUALIFY top-k with the
    // same (n DESC, tx, ty) deterministic rank
    "q_transitions" ->
      s"""WITH $trackCtesSql,
         |cl AS (SELECT entity, ts,
         |    (x + 2000000000) // $TransCellFix AS cx,
         |    (y + 2000000000) // $TransCellFix AS cy
         |  FROM tr),
         |rw AS (SELECT entity, ts, cx, cy,
         |    lag(cx) OVER w AS pcx, lag(cy) OVER w AS pcy
         |  FROM cl WINDOW w AS (PARTITION BY entity ORDER BY ts)),
         |runs AS (SELECT entity, ts, cx, cy FROM rw
         |  WHERE pcx IS NULL OR cx <> pcx OR cy <> pcy),
         |tp AS (SELECT entity, cx AS tx, cy AS ty,
         |    lag(cx) OVER w AS fx, lag(cy) OVER w AS fy
         |  FROM runs WINDOW w AS (PARTITION BY entity ORDER BY ts)),
         |tc AS (SELECT fx, fy, tx, ty, CAST(count(*) AS BIGINT) AS n
         |  FROM tp WHERE fx IS NOT NULL GROUP BY 1, 2, 3, 4),
         |tt AS (SELECT *, sum(n) OVER (PARTITION BY fx, fy) AS tot FROM tc)
         |SELECT fx, fy, tx, ty, n, CAST(n * 1000 // tot AS BIGINT) AS p_pm
         |FROM tt
         |QUALIFY row_number() OVER (
         |  PARTITION BY fx, fy ORDER BY n DESC, tx, ty) <= $TransTopK""".stripMargin,

    // INDEPENDENT formulation: no cell grid — candidates via DuckDB's
    // native IEJoin on the time window (ts BETWEEN), exact planar filter
    "q_colocate" ->
      s"""WITH p AS ($P),
         |obs AS (SELECT pid % $GeofenceEntities AS entity, pid AS ts,
         |  ${mixIdSql("pid * 2")} % 1800000000 - 900000000 AS x,
         |  ${mixIdSql("pid * 2 + 1")} % 1200000000 - 600000000 AS y FROM p),
         |pairs AS (
         |  SELECT a.entity AS ea, b.entity AS eb,
         |    (a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y) AS d2
         |  FROM obs a JOIN obs b
         |    ON b.ts > a.ts AND b.ts <= a.ts + $ColocTau
         |  WHERE a.entity <> b.entity
         |    AND (a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y)
         |      <= ${ColocRadius * ColocRadius})
         |SELECT least(ea, eb) AS ent_a, greatest(ea, eb) AS ent_b,
         |  CAST(count(*) AS BIGINT) AS n_contacts, min(d2) AS min_d2
         |FROM pairs GROUP BY 1, 2""".stripMargin,

    "q_sample_sys" ->
      s"""WITH d AS (
         |  SELECT doc_id, strlen(text) + 1 AS weight FROM documents),
         |c AS (SELECT doc_id, weight,
         |    sum(weight) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS hi
         |  FROM d),
         |t AS (SELECT sum(weight) AS tot FROM d)
         |SELECT doc_id, CAST(weight AS BIGINT) AS weight FROM c, t
         |WHERE (hi * $SampleSysK) // tot
         |    > ((hi - weight) * $SampleSysK) // tot""".stripMargin,

    "q_snap" -> {
      val cases = (6 to 8).map(l =>
        s"WHEN n <= ${1L << (2 * l)} THEN ${1L << l}").mkString(" ")
      val r = SnapRadius
      val r2 = SnapRadius * SnapRadius
      s"""WITH li AS ($WayPtsSql),
         |segs0 AS (
         |  SELECT way_id, seq,
         |    lag(x) OVER (PARTITION BY way_id ORDER BY seq) AS x0,
         |    lag(y) OVER (PARTITION BY way_id ORDER BY seq) AS y0,
         |    x AS x1, y AS y1
         |  FROM li),
         |loc AS (SELECT * FROM segs0
         |  WHERE x0 IS NOT NULL
         |    AND abs(x1 - x0) <= $WayCrossSpan AND abs(y1 - y0) <= $WayCrossSpan),
         |lv AS (SELECT CASE $cases ELSE 512 END AS g
         |  FROM (SELECT count(*) AS n FROM loc)),
         |sx AS (SELECT loc.*, g, unnest(range(
         |    greatest(least(((least(x0, x1) - $r + 1800000000) * g) // 3600000000, g - 1), 0),
         |    greatest(least(((greatest(x0, x1) + $r + 1800000000) * g) // 3600000000, g - 1), 0) + 1)) AS cell_x
         |  FROM loc, lv),
         |scov AS (SELECT *, unnest(range(
         |    greatest(least(((least(y0, y1) - $r + 900000000) * g) // 1800000000, g - 1), 0),
         |    greatest(least(((greatest(y0, y1) + $r + 900000000) * g) // 1800000000, g - 1), 0) + 1)) AS cell_y
         |  FROM sx),
         |p AS ($P),
         |pc AS (SELECT pid, lon_fix AS px, lat_fix AS py,
         |    least(((lon_fix + 1800000000) * g) // 3600000000, g - 1) AS cell_x,
         |    least(((lat_fix + 900000000) * g) // 1800000000, g - 1) AS cell_y
         |  FROM p, lv),
         |hit AS (SELECT DISTINCT pid, way_id, seq
         |  FROM pc JOIN scov USING (cell_x, cell_y)
         |  WHERE CASE
         |    WHEN (px-x0)*(x1-x0) + (py-y0)*(y1-y0) <= 0
         |      THEN (px-x0)*(px-x0) + (py-y0)*(py-y0) <= $r2
         |    WHEN (px-x0)*(x1-x0) + (py-y0)*(y1-y0)
         |        >= (x1-x0)*(x1-x0) + (y1-y0)*(y1-y0)
         |      THEN (px-x1)*(px-x1) + (py-y1)*(py-y1) <= $r2
         |    ELSE CAST((x1-x0)*(py-y0) - (y1-y0)*(px-x0) AS HUGEINT)
         |        * ((x1-x0)*(py-y0) - (y1-y0)*(px-x0))
         |      <= CAST($r2 AS HUGEINT)
         |        * ((x1-x0)*(x1-x0) + (y1-y0)*(y1-y0)) END)
         |SELECT pid, way_id, CAST(count(*) AS BIGINT) AS n_segs
         |FROM hit GROUP BY 1, 2""".stripMargin
    },

    "q_layout_overlap" ->
      """WITH f AS (
        |  SELECT lang AS part_key, doc_id AS file_id,
        |    (doc_id % 50) * 400 AS mn,
        |    (doc_id % 50) * 400 + CAST(n_chars AS BIGINT) * 4 AS mx
        |  FROM documents),
        |g AS (SELECT * FROM f WHERE mx - mn <= 1600),
        |ov AS (
        |  SELECT a.part_key, a.file_id, CAST(count(*) AS BIGINT) AS n
        |  FROM g a JOIN g b ON a.part_key = b.part_key
        |    AND a.file_id <> b.file_id
        |    AND a.mn <= b.mx AND b.mn <= a.mx
        |  GROUP BY 1, 2)
        |SELECT f.part_key, f.file_id, COALESCE(ov.n, 0) AS n_overlaps
        |FROM f LEFT JOIN ov ON ov.file_id = f.file_id""".stripMargin,

    "q_decontam" -> {
      // sliding-window twin of TextHash.slidingNgramHashes: same mod-chain
      // as the q_boilerplate chunks, advanced one token per window
      val chain = (1 to DecontamN).map(k => tokenHashSql(s"ws[p + $k]"))
        .foldLeft("0")((acc, t) =>
          s"(($acc * 1000003 + ($t) % 1000000007) % 1000000007)")
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS ws FROM documents),
         |grams AS (
         |  SELECT doc_id, $chain AS h
         |  FROM (SELECT doc_id, ws,
         |          unnest(range(0, len(ws) - ${DecontamN - 1})) AS p FROM toks)),
         |bench AS (SELECT DISTINCT h FROM grams WHERE doc_id % 11 = 0),
         |cg AS (SELECT doc_id, h FROM grams WHERE doc_id % 11 <> 0)
         |SELECT doc_id, count(*) AS n_ngrams, count(b.h) AS n_hits,
         |  count(b.h) * 1000 // count(*) AS contam_pm
         |FROM cg LEFT JOIN bench b ON b.h = cg.h
         |GROUP BY 1""".stripMargin
    },

    "q_common_spans" -> {
      val chain = (1 to DecontamN).map(k => tokenHashSql(s"ws[p + $k]"))
        .foldLeft("0")((acc, t) =>
          s"(($acc * 1000003 + ($t) % 1000000007) % 1000000007)")
      s"""WITH corpus AS ($C),
         |toks AS (
         |  SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS ws FROM corpus),
         |grams AS (
         |  SELECT doc_id, $chain AS h
         |  FROM (SELECT doc_id, ws,
         |          unnest(range(0, len(ws) - ${DecontamN - 1})) AS p FROM toks))
         |SELECT h, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
         |FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin
    },

    "q_pmi" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ws, unnest(range(0, len(ws))) AS pos
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
         |uni AS (SELECT ws[pos+1] AS w FROM toks),
         |bi AS (SELECT ws[pos+1] AS wa, ws[pos+2] AS wb FROM toks
         |       WHERE pos + 2 <= len(ws)),
         |cu AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
         |nn AS (SELECT (SELECT count(*) FROM uni) AS nu,
         |              (SELECT count(*) FROM bi) AS nb),
         |cab AS (SELECT wa, wb, count(*) AS cab FROM bi
         |        GROUP BY 1, 2 HAVING count(*) >= 3),
         |px AS (
         |  SELECT c0.wa, c0.wb, c0.cab,
         |    (CAST(c0.cab AS DOUBLE) * nn.nu * nn.nu) /
         |      (CAST(nn.nb AS DOUBLE) * ca.c * cb.c) AS x
         |  FROM cab c0
         |  JOIN cu ca ON ca.w = c0.wa
         |  JOIN cu cb ON cb.w = c0.wb
         |  CROSS JOIN nn),
         |${lnStagesSql("pm", "px")}
         |SELECT wa, wb, cab,
         |  CAST(round((kl + srs) * 1000000) AS BIGINT) AS pmi_e6
         |FROM pm5""".stripMargin,

    "q_simplify" -> {
      // Unrolled Douglas-Peucker: stage t refines the active intervals of
      // stage t-1 (argmax point by (|cross|, p2, idx), split iff strictly
      // beyond tol); SimplifyStages covers full depth for <=7-point ways.
      // All products in HUGEINT: a cross product of world-scale fix
      // coords exceeds int64.
      val tol2 = SimplifyTolFix * SimplifyTolFix
      val stages = (0 until SimplifyStages).map { st =>
        s"""cand$st AS (
           |  SELECT a.way_id, a.i, a.j, p.idx AS k,
           |    abs(CAST(pj.x - pi.x AS HUGEINT) * (pi.y - p.y)
           |      - CAST(pj.y - pi.y AS HUGEINT) * (pi.x - p.x)) AS acr,
           |    CAST(pj.x - pi.x AS HUGEINT) * (pj.x - pi.x)
           |      + CAST(pj.y - pi.y AS HUGEINT) * (pj.y - pi.y) AS l2,
           |    CAST(p.x - pi.x AS HUGEINT) * (p.x - pi.x)
           |      + CAST(p.y - pi.y AS HUGEINT) * (p.y - pi.y) AS p2
           |  FROM a$st a
           |  JOIN pts pi ON pi.way_id = a.way_id AND pi.idx = a.i
           |  JOIN pts pj ON pj.way_id = a.way_id AND pj.idx = a.j
           |  JOIN pts p  ON p.way_id = a.way_id AND p.idx > a.i AND p.idx < a.j),
           |sp$st AS (
           |  SELECT way_id, i, j, k FROM (
           |    SELECT * FROM cand$st
           |    QUALIFY row_number() OVER (PARTITION BY way_id, i, j
           |      ORDER BY acr DESC, p2 DESC, k) = 1)
           |  WHERE CASE WHEN l2 = 0 THEN p2 > $tol2
           |        ELSE acr * acr > $tol2 * l2 END),
           |a${st + 1} AS (
           |  SELECT way_id, i, k AS j FROM sp$st WHERE k > i + 1
           |  UNION ALL SELECT way_id, k AS i, j FROM sp$st WHERE j > k + 1)"""
          .stripMargin
      }.mkString(",\n")
      val keeps = (0 until SimplifyStages)
        .map(st => s"UNION ALL SELECT way_id, k AS idx FROM sp$st").mkString("\n")
      s"""WITH li AS (
         |  SELECT DISTINCT l_orderkey AS way_id, l_linenumber AS seq,
         |    ((l_orderkey * 2654435761) % 3400000000 - 1700000000)
         |      + (((l_orderkey*10 + l_linenumber) * 1103515245) % 20000000 - 10000000) AS x,
         |    ((l_orderkey * 2246822519) % 1600000000 - 800000000)
         |      + (((l_orderkey*10 + l_linenumber) * 69069) % 20000000 - 10000000) AS y
         |  FROM lineitem),
         |pts AS (
         |  SELECT way_id, seq, x, y,
         |    row_number() OVER (PARTITION BY way_id ORDER BY seq) - 1 AS idx
         |  FROM li),
         |a0 AS (
         |  SELECT way_id, 0 AS i, max(idx) AS j FROM pts
         |  GROUP BY way_id HAVING max(idx) >= 2),
         |$stages,
         |kept AS (
         |  SELECT way_id, idx FROM (
         |    SELECT way_id, idx, max(idx) OVER (PARTITION BY way_id) AS mx
         |    FROM pts) WHERE idx = 0 OR idx = mx
         |  $keeps)
         |SELECT p.way_id, p.seq, p.x, p.y
         |FROM kept JOIN pts p ON p.way_id = kept.way_id AND p.idx = kept.idx""".stripMargin
    },

    "q_geofence" ->
      s"""WITH p AS ($P),
         |hits AS (
         |  SELECT p.pid % $GeofenceEntities AS entity, p.pid AS ts, pe.poly_id
         |  FROM p, ${Synth.polygonEdgesValuesSql}
         |  GROUP BY 1, 2, pe.poly_id, p.lon_fix, p.lat_fix
         |  HAVING bool_and((x2 - x1) * (p.lat_fix - y1) - (y2 - y1) * (p.lon_fix - x1) >= 0)),
         |ep AS (SELECT DISTINCT entity, poly_id FROM hits),
         |track AS (SELECT pid % $GeofenceEntities AS entity, pid AS ts FROM p),
         |m AS (
         |  SELECT t.entity, t.ts, ep.poly_id,
         |    CASE WHEN h.poly_id IS NULL THEN 0 ELSE 1 END AS mem
         |  FROM track t JOIN ep ON ep.entity = t.entity
         |  LEFT JOIN hits h ON h.entity = t.entity AND h.ts = t.ts
         |    AND h.poly_id = ep.poly_id),
         |lg AS (SELECT *, lag(mem) OVER (PARTITION BY entity, poly_id ORDER BY ts) AS pm
         |  FROM m)
         |SELECT entity, ts, poly_id,
         |  CASE WHEN mem = 1 THEN 'enter' ELSE 'exit' END AS kind
         |FROM lg WHERE pm IS NOT NULL AND pm <> mem""".stripMargin,

    "q_lm_score" -> {
      // bigram/unigram keys via the sliding chain hash (n=2 / n=1); the
      // per-position ln rides the proven lnDet CTE stages, quantized e6
      // per row so the doc rollup is pure integer arithmetic
      def chain(n: Int) = (1 to n).map(k => tokenHashSql(s"ws[p + $k]"))
        .foldLeft("0")((acc, t) =>
          s"(($acc * 1000003 + ($t) % 1000000007) % 1000000007)")
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS ws FROM documents),
         |uni AS (
         |  SELECT doc_id, p, ${chain(1)} AS h
         |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws))) AS p FROM toks)),
         |big AS (
         |  SELECT doc_id, p, ${chain(2)} AS h
         |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 1)) AS p FROM toks)),
         |cu AS (SELECT h, count(*) AS c FROM uni WHERE doc_id % 7 = 0 GROUP BY 1),
         |cb AS (SELECT h, count(*) AS c FROM big WHERE doc_id % 7 = 0 GROUP BY 1),
         |vv AS (SELECT count(*) AS v FROM cu),
         |px AS (
         |  SELECT b.doc_id,
         |    CAST(COALESCE(u2.c, 0) + vv.v AS DOUBLE)
         |      / CAST(COALESCE(b2.c, 0) + 1 AS DOUBLE) AS x
         |  FROM big b
         |  JOIN uni u ON u.doc_id = b.doc_id AND u.p = b.p
         |  LEFT JOIN cb b2 ON b2.h = b.h
         |  LEFT JOIN cu u2 ON u2.h = u.h
         |  CROSS JOIN vv),
         |${lnStagesSql("lm", "px")}
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(CAST(round((kl + srs) * 1000000) AS BIGINT)) AS BIGINT)
         |    // count(*) AS nll_e6
         |FROM lm5 GROUP BY 1""".stripMargin
    },

    "q_pii" -> {
      val (em, ip, id) = (Fns.PiiEmailRegex, Fns.PiiIpRegex, Fns.PiiIdRegex)
      s"""WITH s AS (
         |  SELECT doc_id, text || ' contact user' || CAST(doc_id % 50 AS VARCHAR)
         |    || '@mail.example.com from 10.20.' || CAST(doc_id % 250 AS VARCHAR)
         |    || '.' || CAST(doc_id % 100 AS VARCHAR)
         |    || ' id 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$id', '<ID>', 'g') AS red,
         |  CAST(len(regexp_extract_all(t, '$em')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(t, '$id')) AS BIGINT) AS n_id
         |FROM s""".stripMargin
    },

    "q_rollup" ->
      """SELECT coalesce(lang, '(all)') AS lang,
        |  coalesce(source, '(all)') AS source,
        |  CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY ROLLUP(lang, source)""".stripMargin,

    "q_pivot" -> {
      val cols = PivotLangs.map(l =>
        s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS n_$l")
        .mkString(",\n        |  ")
      s"""SELECT source,
         |  $cols
         |FROM documents GROUP BY source""".stripMargin
    },

    "q_moving" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS tsus,
         |    CAST(round(value * 1000) AS BIGINT) AS ve3
         |  FROM events)
         |SELECT event_id, user_id,
         |  count(*) OVER w AS n_1h,
         |  CAST(sum(ve3) OVER w AS BIGINT) AS sum_e3_1h
         |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsus
         |  RANGE BETWEEN $MovingWindowUs PRECEDING AND CURRENT ROW)""".stripMargin,

    // adversarial twin: quadratic NOT EXISTS dominance test vs the
    // engine's sort-based frontier
    "q_skyline" ->
      """WITH pts AS (
        |  SELECT CAST(round(value * 1000) AS BIGINT) AS a,
        |    epoch_us(ts) AS b, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT a AS ve3, b AS tsus, n AS n_events FROM pts p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts q
        |  WHERE q.a >= p.a AND q.b >= p.b AND (q.a > p.a OR q.b > p.b))""".stripMargin,

    // adversarial twin: full transitive closure vs the engine's
    // logarithmic pointer-jumping loop
    "q_wcc" ->
      s"""WITH RECURSIVE e0 AS (
         |  SELECT doc_id AS src, doc_id + 1 AS dst FROM documents
         |  WHERE (doc_id + 1) % $WccChain != 0
         |    AND doc_id + 1 < (SELECT count(*) FROM documents)),
         |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |reach AS (
         |  SELECT src AS a, dst AS b FROM edges
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |nodes AS (SELECT DISTINCT src AS id FROM edges)
         |SELECT id AS node_id, least(id, coalesce(min(b), id)) AS component
         |FROM nodes LEFT JOIN reach ON a = id GROUP BY id""".stripMargin,

    "q_zscore" ->
      s"""WITH st AS (
         |  SELECT lang, count(*) AS n, sum(n_chars) AS sx,
         |    sum(n_chars * n_chars) AS sq
         |  FROM documents GROUP BY 1)
         |SELECT doc_id, d.lang, n_chars,
         |  CAST(CASE WHEN n * n_chars - sx > 0 THEN 1 ELSE -1 END AS BIGINT)
         |    AS side
         |FROM documents d JOIN st USING (lang)
         |WHERE (n * n_chars - sx) * (n * n_chars - sx) * (n - 1) >
         |  $ZscoreThrSq * n * (n * sq - sx * sx)""".stripMargin,

    "q_line_interp" ->
      s"""WITH w AS ($WayPtsSql),
         |s AS (SELECT way_id, seq,
         |    lag(x) OVER (PARTITION BY way_id ORDER BY seq) AS x0,
         |    lag(y) OVER (PARTITION BY way_id ORDER BY seq) AS y0,
         |    x AS x1, y AS y1 FROM w),
         |g AS (SELECT *,
         |    sqrt(CAST((x1-x0)*(x1-x0) + (y1-y0)*(y1-y0) AS DOUBLE)) AS len
         |  FROM s WHERE x0 IS NOT NULL),
         |c AS (SELECT *, sum(len) OVER (PARTITION BY way_id ORDER BY seq
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM g),
         |h AS (SELECT *, max(cum) OVER (PARTITION BY way_id) / 2 AS half
         |  FROM c),
         |p AS (SELECT *, row_number() OVER (PARTITION BY way_id ORDER BY seq)
         |    AS rn
         |  FROM h WHERE cum >= half)
         |SELECT way_id,
         |  CAST(round(x0 + (CASE WHEN len > 0
         |    THEN (half - (cum - len)) / len ELSE 0 END) * (x1 - x0))
         |    AS BIGINT) AS mx,
         |  CAST(round(y0 + (CASE WHEN len > 0
         |    THEN (half - (cum - len)) / len ELSE 0 END) * (y1 - y0))
         |    AS BIGINT) AS my,
         |  CAST(round(half * 2) AS BIGINT) AS len_fix
         |FROM p WHERE rn = 1""".stripMargin,

    "q_resample" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) AS tsus,
         |    CAST(round(value * 1000) AS BIGINT) AS ve3
         |  FROM events),
         |b AS (SELECT user_id,
         |    CAST(floor(min(tsus) / $ResampleUs) AS BIGINT) AS h0,
         |    CAST(floor(max(tsus) / $ResampleUs) AS BIGINT) AS h1
         |  FROM e GROUP BY 1),
         |g AS (SELECT user_id,
         |    unnest(range(h0, h1 + 1)) * $ResampleUs AS tsus
         |  FROM b)
         |SELECT g.user_id, g.tsus, e.tsus AS last_tsus, e.ve3 AS last_ve3
         |FROM g ASOF LEFT JOIN e
         |  ON g.user_id = e.user_id AND g.tsus >= e.tsus""".stripMargin,

    "q_tile_hll" -> hllSqlOver(256, tileHashCteSql(7), "tl", "tile"),

    // merge-law twin: the DIRECT z5 sketch — bit-equal to the engine's
    // z7→z5 register merge iff HLL merge is exact
    "q_pyramid_hll" ->
      hllSqlOver(256, tileHashCteSql(5), "tl", "tile", withExact = false),

    "q_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |px AS (SELECT tf.doc_id, tf.term, tf.tf,
         |    CAST(nn.n AS DOUBLE) / dfq.df AS x
         |  FROM tf JOIN dfq USING (term) CROSS JOIN nn),
         |${lnStagesSql("ti", "px")},
         |sc AS (SELECT doc_id, term, tf,
         |    tf * CAST(round((kl + srs) * 1000000) AS BIGINT) AS score_e6
         |  FROM ti5),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score_e6 DESC, term) AS rn FROM sc)
         |SELECT doc_id, term, tf, score_e6, CAST(rn AS BIGINT) AS rank
         |FROM r WHERE rn <= $TfidfTopK""".stripMargin,

    // skipstats twin: per-distinct-cell Hilbert keys (carried through the
    // unrolled stages), the same rank-cut file assignment, VALUES probes
    "q_skipstats" -> {
      val probeVals = skipProbes.map { case (i, x0, x1, y0, y1) =>
        s"($i,$x0,$x1,$y0,$y1)" }.mkString(", ")
      val g = 1 << HilbertOrder
      s"""WITH p AS ($P),
         |k AS (SELECT pid,
         |    least(((lon_fix + 1800000000) * $g) // 3600000000, ${g - 1}) AS gx,
         |    least(((lat_fix + 900000000) * $g) // 1800000000, ${g - 1}) AS gy
         |  FROM p),
         |cells AS (SELECT DISTINCT gx AS cgx, gy AS cgy,
         |    gx AS x$HilbertOrder, gy AS y$HilbertOrder FROM k),
         |hm AS (SELECT cgx, cgy, d0 AS hk
         |  FROM (${hilbertStagesSql(HilbertOrder, Seq("cgx", "cgy"))})),
         |kh AS (SELECT k.pid, k.gx, k.gy, hm.hk
         |  FROM k JOIN hm ON hm.cgx = k.gx AND hm.cgy = k.gy),
         |rk AS (SELECT *, row_number() OVER (ORDER BY hk, pid) AS rn FROM kh),
         |wf AS (SELECT *,
         |    ((rn - 1) * $SkipFiles) // (SELECT count(*) FROM p) AS fid
         |  FROM rk),
         |st AS (SELECT fid, min(gx) AS minx, max(gx) AS maxx,
         |    min(gy) AS miny, max(gy) AS maxy FROM wf GROUP BY 1),
         |pr AS (SELECT * FROM (VALUES $probeVals) AS t(probe_id, x0, x1, y0, y1)),
         |fr AS (SELECT probe_id, CAST(count(st.fid) AS BIGINT) AS files_read
         |  FROM pr LEFT JOIN st ON st.minx <= pr.x1 AND st.maxx >= pr.x0
         |    AND st.miny <= pr.y1 AND st.maxy >= pr.y0
         |  GROUP BY 1),
         |rm AS (SELECT probe_id, CAST(count(wf.pid) AS BIGINT) AS rows_matched
         |  FROM pr LEFT JOIN wf ON wf.gx BETWEEN pr.x0 AND pr.x1
         |    AND wf.gy BETWEEN pr.y0 AND pr.y1
         |  GROUP BY 1)
         |SELECT CAST(fr.probe_id AS BIGINT) AS probe_id, files_read, rows_matched
         |FROM fr JOIN rm USING (probe_id)""".stripMargin
    },

    "q_hilbert" ->
      s"""WITH p AS ($P),
         |cells AS (
         |  SELECT least(((lon_fix + 1800000000) * ${1 << HilbertOrder}) // 3600000000,
         |           ${(1 << HilbertOrder) - 1}) AS x$HilbertOrder,
         |         least(((lat_fix + 900000000) * ${1 << HilbertOrder}) // 1800000000,
         |           ${(1 << HilbertOrder) - 1}) AS y$HilbertOrder
         |  FROM p)
         |SELECT d0 >> $HilbertShift AS bucket, count(*) AS cnt
         |FROM (${hilbertStagesSql(HilbertOrder)}) GROUP BY 1""".stripMargin,

    "q_speed_filter" ->
      s"""WITH $trackCtesSql,
         |st AS (SELECT entity, ts, x, y,
         |    lag(x) OVER w AS px, lag(y) OVER w AS py, lag(ts) OVER w AS pts
         |  FROM tr WINDOW w AS (PARTITION BY entity ORDER BY ts)),
         |seg AS (SELECT entity, ts, ts - pts AS dt_s,
         |    CAST(round((${haversineSql("px / 10000000.0", "py / 10000000.0",
                "x / 10000000.0", "y / 10000000.0")}) * 1000.0) AS BIGINT)
         |      AS dist_mm
         |  FROM st WHERE px IS NOT NULL)
         |SELECT entity, ts, dt_s, dist_mm FROM seg
         |WHERE dist_mm > $SpeedVmaxMmPerS * dt_s""".stripMargin,

    "q_classify" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '[^ ]+')) AS tok
         |  FROM documents),
         |tw AS (SELECT doc_id,
         |    ${mixIdSql(s"(${tokenHashSql("tok")}) % 1000000007")} % 2001 - 1000 AS w
         |  FROM toks),
         |sc AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS score FROM tw GROUP BY 1)
         |SELECT d.doc_id, coalesce(sc.score, 0) AS score,
         |  CAST(CASE WHEN coalesce(sc.score, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,

    "q_chunks" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS ws FROM documents),
         |nz AS (SELECT doc_id, ws, len(ws) AS n FROM toks WHERE len(ws) > 0),
         |idx AS (SELECT doc_id, ws, n,
         |    unnest(range(0, 1 + (greatest(n - $ChunkWidth, 0) + ${ChunkStride - 1})
         |      // $ChunkStride)) AS chunk_idx
         |  FROM nz),
         |ch AS (SELECT doc_id, chunk_idx,
         |    list_slice(ws, chunk_idx * $ChunkStride + 1,
         |      least(chunk_idx * $ChunkStride + $ChunkWidth, n)) AS win
         |  FROM idx)
         |SELECT doc_id, chunk_idx, CAST(len(win) AS BIGINT) AS n_toks,
         |  md5(array_to_string(win, ' ')) AS chunk_md5
         |FROM ch""".stripMargin,

    // closed-form arithmetic twin (the Spark side parses the html binary)
    "q_anchor_text" ->
      """WITH l AS (
        |  SELECT doc_id, (doc_id*31 + j*1009 + 7) % 100000 AS t
        |  FROM documents, (SELECT unnest(range(0, 3)) AS j))
        |SELECT 'site' || CAST(t % 97 AS VARCHAR) || '.example.org' AS dst_host,
        |       'ref-' || CAST(t % 23 AS VARCHAR) AS anchor,
        |       count(*) AS n
        |FROM l GROUP BY 1, 2""".stripMargin,
  )
}
