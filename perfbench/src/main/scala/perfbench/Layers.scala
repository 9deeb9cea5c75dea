package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import graft.core.{CellId, Haversine, Planar, TextHash, Tiles}
import graft.operators.{CheckpointOps, DedupOps, SpatialOps}
import graft.plans.{ClipKernel, GeomExpressions, PipKernel, PointInPolygonSet}
import graft.sources.Synth

/** Per-layer probes of the traced run that time one layer in isolation:
  * the scalar kernels of `graft.core`/`graft.plans`, the same kernels as
  * Catalyst expressions, the source scans and the `CheckpointOps` write
  * path. Inputs come from the run's seed.
  */
object Layers {

  /** Single-thread nanoTime loops, one per kernel: `Batch` calls per timed
    * batch over pre-built seeded inputs, warm-up until the JIT has compiled
    * the loop, then the median of `Batches` batches. Every result is folded
    * into a sink that is returned, so the JIT cannot drop the calls.
    */
  val Batch = 4096
  val Batches = 15

  def kernels(seed: Long): (Map[String, Double], Long) = {
    val r = new SplittableRandom(seed)
    def fix(n: Int, lo: Long, hi: Long) = Array.fill(n)(r.nextLong(lo, hi))
    val px = fix(Batch, -900000000L, 900000000L); val py = fix(Batch, -600000000L, 600000000L)
    val hex = Synth.hexagons.map(h => Array((h.xs, h.ys))).toArray
    // segments span at most 2e7 fix (2°), the engine's way-segment contract
    def segs() = Array.fill(Batch) {
      val x = r.nextLong(-1700000000L, 1700000000L); val y = r.nextLong(-800000000L, 800000000L)
      Array(x, y, x + r.nextLong(-20000000L, 20000000L), y + r.nextLong(-20000000L, 20000000L))
    }
    val sa = segs()
    val sb = Array.tabulate(Batch) { i =>
      // a partner through the first segment's midpoint, so most pairs cross
      val s = sa(i); val mx = (s(0) + s(2)) / 2; val my = (s(1) + s(3)) / 2
      val dx = r.nextLong(-10000000L, 10000000L); val dy = r.nextLong(-10000000L, 10000000L)
      Array(mx - dx, my - dy, mx + dx, my + dy)
    }
    val segData = sa.map(s => new GenericArrayData(s.map(Long.box).toArray[Any]))
    val rectData = sa.map { s =>
      val cx = (s(0) + s(2)) / 2; val cy = (s(1) + s(3)) / 2
      new GenericArrayData(Array[Any](cx - 5000000L, cy - 5000000L, cx + 5000000L, cy + 5000000L))
    }
    val rings = Array.fill(256) {
      val n = 6 + r.nextInt(10); val cx = r.nextLong(-1e9.toLong, 1e9.toLong)
      val cy = r.nextLong(-5e8.toLong, 5e8.toLong)
      val ang = Array.tabulate(n)(k => 2 * math.Pi * k / n)
      (ang.map(a => cx + (r.nextLong(1000000L, 20000000L) * math.cos(a)).toLong),
        ang.map(a => cy + (r.nextLong(1000000L, 20000000L) * math.sin(a)).toLong))
    }
    val tracks = Array.fill(64)(Array.fill(16)(r.nextLong(-1e8.toLong, 1e8.toLong)))
    val alphabet = "abcdefghij klmnopqrstuvwxyz"
    val texts = Array.fill(64)(new String(Array.fill(300)(alphabet.charAt(r.nextInt(alphabet.length)))))
    val lon = px.map(_ / 1e7); val lat = py.map(_ / 1e7)

    var sink = 0L
    def time(body: Int => Long): Double = {
      def batch(): Long = {
        val t0 = System.nanoTime(); var i = 0
        while (i < Batch) { sink += body(i); i += 1 }
        System.nanoTime() - t0
      }
      val warmUntil = System.nanoTime() + 150000000L
      while (System.nanoTime() < warmUntil) batch()
      val ns = Array.fill(Batches)(batch()).sorted
      ns(Batches / 2).toDouble / Batch
    }

    val out = Map(
      "core.pip_ns" -> time(i => if (Planar.pointInPolygon(px(i), py(i), hex(i % hex.length))) 1 else 0),
      "core.cell_ns" -> time(i => CellId.fromFix(px(i), py(i), SpatialOps.CoverLevel)),
      "core.tile_ns" -> time(i => Tiles.tileX(8, lon(i)) + Tiles.tileY(8, lat(i))),
      "core.haversine_ns" -> time(i => Haversine.distance(lon(i), lat(i), lon(i ^ 1), lat(i ^ 1)).toLong),
      "core.seg_cross_ns" -> time { i =>
        val a = sa(i); val b = sb(i)
        if (Planar.segmentsIntersect(a(0), a(1), a(2), a(3), b(0), b(1), b(2), b(3))) 1 else 0
      },
      "core.seg_point_ns" -> time { i =>
        val a = sa(i); val b = sb(i)
        val p = Planar.segIntersectionFix(a(0), a(1), a(2), a(3), b(0), b(1), b(2), b(3))
        if (p == null) 0 else p.length
      },
      "core.area_ns" -> time { i => val g = rings(i & 255); Planar.signedArea2(g._1, g._2).signum },
      "core.clip_ns" -> time(i => ClipKernel.clipSegRect(segData(i), rectData(i)).getLong(0)),
      "core.dtw_ns" -> time(i => Planar.dtw2(tracks(i & 63), tracks((i + 1) & 63),
        tracks((i + 2) & 63), tracks((i + 3) & 63))),
      "core.minhash_ns" -> time(i => TextHash.minHash(texts(i & 63), DedupOps.ShingleCap,
        DedupOps.ShingleLen, DedupOps.NumMinHashes)(0)))
    (out, sink)
  }

  /** Per-row executor CPU of three kernels as Catalyst expressions: one
    * projection over a cached seeded frame, minus the same projection of a
    * plain input column of the same type, over the rows. Median of five
    * executions each.
    */
  val ExprRows = 2000000

  def expressions(spark: SparkSession, seed: Long, cpuNs: () => Long): Map[String, Double] = {
    val hexes: PipKernel.Polys = Synth.hexagons.map(h => h.polyId -> Array((h.xs, h.ys))).toMap
    val h = (c: Column, salt: Long) => xxhash64(c, lit(seed), lit(salt))
    val span = (c: Column, m: Long) => pmod(c, lit(2 * m)) - lit(m)
    val rows = spark.range(0, ExprRows, 1, spark.sparkContext.defaultParallelism)
      .select(
        pmod(h(col("id"), 1), lit(Synth.NumPolygons.toLong)).cast("int").as("poly_id"),
        span(h(col("id"), 2), 900000000L).as("x"), span(h(col("id"), 3), 600000000L).as("y"),
        span(h(col("id"), 4), 10000000L).as("dx"), span(h(col("id"), 5), 10000000L).as("dy"))
      .select(col("poly_id"), col("x"), col("y"),
        array(col("x"), col("y"), col("x") + col("dx"), col("y") + col("dy")).as("seg"),
        array(col("x") + col("dx"), col("y"), col("x"), col("y") + col("dy")).as("seg2"),
        array(col("x") - lit(3000000L), col("y") - lit(3000000L),
          col("x") + lit(3000000L), col("y") + lit(3000000L)).as("rect"))
      .cache()
    rows.count()
    // a fresh Dataset per execution: re-collecting one would reuse its
    // materialized shuffle and skip the projection
    def timeOf(c: Column): Double = {
      def once() = rows.select(c.as("v")).agg(bit_xor(xxhash64(col("v")))).collect()
      once()
      val ns = Array.fill(5) { val c0 = cpuNs(); once(); cpuNs() - c0 }.sorted
      ns(2).toDouble
    }
    val baseNs = timeOf(col("seg"))
    val pipBase = timeOf(col("x"))
    val out = Map(
      "plans.pip_row_ns" -> (timeOf(PointInPolygonSet(spark, col("poly_id"), col("x"), col("y"), hexes)) - pipBase),
      "plans.clip_row_ns" -> (timeOf(GeomExpressions.clipSegRect(col("seg"), col("rect"))) - baseNs),
      "plans.seg_point_row_ns" -> (timeOf(GeomExpressions.segIntersectionFix(col("seg"), col("seg2"))) - baseNs))
      .map { case (k, v) => k -> v / ExprRows }
    rows.unpersist(true)
    out
  }

  /** Candidates and hits of the flagship's PIP join over the run's seeded
    * base points: the cell-cover equi-join alone, then with the ray-cast
    * refinement (`SpatialOps.pipJoinConvexTagged`). Spark fuses the
    * refinement into the join's condition, so the executed plan reports no
    * row count between the two; this probe runs both.
    */
  def pip(spark: SparkSession, seed: Long): Map[String, Double] = {
    import spark.implicits._
    val (xs, ys) = SpatialTile.points(seed)
    val pts = xs.indices.map(i => (i.toLong, xs(i), ys(i))).toDF("pid", "lon_fix", "lat_fix")
    val cover = Synth.hexagons.flatMap { h =>
      CellId.coverBBox(h.xs.min, h.ys.min, h.xs.max, h.ys.max, SpatialOps.CoverLevel).map(c => (c, h.polyId))
    }.toDF("cell", "poly_id")
    val candidates = pts.withColumn("cell", graft.functions.Fns.cellId(col("lon_fix"), col("lat_fix"),
      SpatialOps.CoverLevel)).join(broadcast(cover), "cell").count().toDouble
    val hits = SpatialOps.pipJoinConvexTagged(spark, pts).count().toDouble
    Map("pip.candidates" -> candidates, "pip.hits" -> hits, "pip.precision" -> hits / candidates)
  }

  /** Wall time to read every input table in full through `Synth.table`. */
  def sourceScan(spark: SparkSession, dataDir: String): Double = {
    val tables = new java.io.File(dataDir).list().filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    val t = Array.fill(3) {
      val t0 = System.nanoTime()
      tables.foreach(n => Checksum.of(Synth.table(spark, dataDir, n)))
      (System.nanoTime() - t0) / 1e9
    }.sorted
    t(1)
  }

  /** `CheckpointOps.runResumable` over a seeded frame in `CkptBuckets`
    * buckets into an empty directory, then again over the complete output.
    */
  val CkptBuckets = 4
  val CkptRows = 200000L

  def checkpoint(spark: SparkSession, seed: Long, dir: String): Map[String, Double] = {
    val in = spark.range(CkptRows).select(col("id").as("k"), xxhash64(col("id"), lit(seed)).as("v"))
    def job(df: DataFrame) = df.groupBy(pmod(col("v"), lit(1000L)).as("g")).agg(count(lit(1)).as("n"))
    val t0 = System.nanoTime()
    val ran = CheckpointOps.runResumable(spark, in, "k", CkptBuckets, s"$dir/out", s"$dir/lineage")(job)
    val t1 = System.nanoTime()
    val rerun = CheckpointOps.runResumable(spark, in, "k", CkptBuckets, s"$dir/out", s"$dir/lineage")(job)
    val t2 = System.nanoTime()
    Map("checkpoint.units_run" -> ran.toDouble,
      "checkpoint.units_skipped" -> (CkptBuckets - rerun).toDouble,
      "checkpoint.out_mb" -> dirBytes(new java.io.File(dir)) / 1e6,
      "checkpoint.write_s" -> (t1 - t0) / 1e9,
      "checkpoint.resume_s" -> (t2 - t1) / 1e9)
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()
}
