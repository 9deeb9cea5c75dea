package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.CellId
import graft.functions.Fns
import graft.operators._
import graft.operators.SpatialOps.{KnnMetric, KnnStrategy}
import graft.operators.SimilarityOps.{VecCandidates, VecScore}
import graft.sources.Synth

/** Spark-side operator tests on sf0.001 — cross-checks the Column-API
  * operators against the pure-Scala kernel (brute force) on sampled rows.
  */
class SparkOpsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = "/root/testdata/sf0.001"
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

  test("Fns.cellId (Column) agrees with CellId.fromFix (kernel)") {
    val ss = spark; import ss.implicits._
    val levels = Seq(0, 8, 12, 16, 17, 20, 30)
    // the domain edges and their neighbours, points past ±180° and ±90°,
    // and every level's cell boundaries (the first fix of cells 1, n/2 and
    // n-1, and its neighbours)
    val lons = Seq(-1800000001L, -1800000000L, -1799999999L, 1799999999L, 1800000000L,
      1800000001L, -2500000000L, -1900000000L, 1900000000L, 2500000000L, 0L)
    val lats = Seq(-900000001L, -900000000L, -899999999L, 899999999L, 900000000L,
      900000001L, -1000000000L, 1000000000L, 0L)
    def bounds(half: Long): Seq[Long] = levels.flatMap { l =>
      val n = 1L << l
      Seq(1L, n / 2, n - 1).distinct.flatMap { k =>
        val b = k * 2 * half / n - half
        Seq(b - 1, b, b + 1, b + 2)
      }
    }
    val synth = Synth.points(spark, dir).limit(500).select("lon_fix", "lat_fix")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pts = synth ++ (lons ++ bounds(1800000000L)).flatMap(x => lats.map(x -> _)) ++
      (lats ++ bounds(900000000L)).flatMap(y => lons.map(_ -> y))
    // an RDD-backed frame: the projection runs on the executors, generated
    val frame = spark.sparkContext.parallelize(pts, 4).toDF("lon_fix", "lat_fix")
    val rows = frame.select(col("lon_fix") +: col("lat_fix") +: levels.flatMap { l =>
      Seq(Fns.cellId(col("lon_fix"), col("lat_fix"), l),
        Fns.cellIdFromXY(Fns.cellX(col("lon_fix"), l), Fns.cellY(col("lat_fix"), l), l))
    }: _*).collect()
    assert(rows.length === pts.length)
    rows.foreach { r =>
      levels.zipWithIndex.foreach { case (l, i) =>
        val want = CellId.fromFix(r.getLong(0), r.getLong(1), l)
        assert(r.getLong(2 + 2 * i) === want, s"cellId at level $l of $r")
        assert(r.getLong(3 + 2 * i) === want, s"cellIdFromXY at level $l of $r")
      }
    }
  }

  test("pipJoinConvex equals brute-force kernel PIP") {
    val pts = Synth.points(spark, dir)
    val sparkHits = SpatialOps.pip(spark, pts)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val local = pts.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = (for {
      (pid, x, y) <- local
      h <- Synth.hexagons
      if graft.core.Planar.pointInRing(x, y, h.xs, h.ys)
    } yield (pid, h.polyId)).toSet
    assert(sparkHits === expect)
  }

  test("pipJoinIntervals: parity with broadcast-join path, FULL fast path real, zero-join plan") {
    val pts = Synth.points(spark, dir)
    val got = SpatialOps.pip(spark, pts)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val expect = pts.collect().flatMap { r =>
      Synth.hexagonPolys.collect { case (id, rings)
        if graft.core.Planar.pointInPolygon(r.getLong(1), r.getLong(2), rings) => (r.getLong(0), id)
      }
    }.toSet
    assert(expect.nonEmpty && got === expect)
    // physical plan: one broadcast hash join, and no shuffle of the point
    // side beyond the DISTINCT of the Synth.points source itself
    def shuffles(plan: String): Int = "(?<!Broadcast)Exchange ".r.findAllIn(plan).size
    val plan = SpatialOps.pip(spark, pts).queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size === 1, plan)
    val source = Synth.points(spark, dir).queryExecution.executedPlan.toString
    assert(shuffles(plan) === shuffles(source), plan)
  }

  test("pipJoinGeneral (native Expression) agrees with convex path and handles concave rings") {
    val pts = Synth.points(spark, dir)
    val general = SpatialOps.pip(spark, pts, Synth.hexagonPolys)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val convex = SpatialOps.pip(spark, pts)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(general === convex)
    // concave C-shape + hole: compare against the kernel brute force
    val cX = Array(0L, 800000000L, 800000000L, 200000000L, 200000000L,
      800000000L, 800000000L, 0L)
    val cY = Array(-500000000L, -500000000L, -200000000L, -200000000L,
      200000000L, 200000000L, 500000000L, 500000000L)
    val concave = Map(99 -> Array((cX, cY)))
    val got = SpatialOps.pip(spark, pts, concave)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val expect = pts.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter { case (_, x, y) => graft.core.Planar.pointInRing(x, y, cX, cY) }
      .map { case (pid, _, _) => (pid, 99) }.toSet
    assert(got === expect)
  }

  test("knn matches local brute force for one query") {
    val pts = Synth.points(spark, dir)
    val q = pts.filter(col("pid") % 997 === 0)
    val knn = SpatialOps.knn(pts, q, 5, KnnMetric.Planar,
        strategy = KnnStrategy.Broadcast).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val local = pts.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val qids = local.filter(_._1 % 997 == 0)
    val expect = qids.flatMap { case (qid, qx, qy) =>
      local.filter(_._1 != qid)
        .map { case (pid, x, y) =>
          val dx = x - qx; val dy = y - qy
          (pid, dx * dx + dy * dy)
        }
        .sortBy { case (pid, d2) => (d2, pid) }
        .take(5).zipWithIndex
        .map { case ((pid, _), i) => (qid, pid, (i + 1).toLong) }
    }.toSet
    assert(knn === expect)
  }

  test("entry flagship returns rows with valid tiles") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) < 256)
      assert(r.getLong(3) >= 0 && r.getLong(3) < 256)
    }
  }

  test("area assembly pipeline produces the expected population") {
    // without repair: g%17==5 relations fail with DanglingEnds
    val strict = SparkEntry.areaAssembly(spark, attemptRepair = false).collect()
    val strictBy = strict.groupBy(r => (r.getString(5), r.getBoolean(2))).view.mapValues(_.length).toMap
    assert(strictBy(("DanglingEnds", false)) === (0 until 150).count(_ % 17 == 5))

    // with repair (default): every relation assembles EXCEPT the two whose
    // dangling-repaired triangle no longer contains the hole — the hole
    // escapes the outer ring, the polygon fails validity, and the area
    // aborts with InvalidRing (GEOS isValid gate, builder.hpp:912-931)
    val nInvalid = (0 until 150).count(g => g % 17 == 5 && g % 4 == 2)
    val out = SparkEntry.areaAssembly(spark).collect()
    val byStatus = out.groupBy(r => (r.getString(5), r.getBoolean(2))).view.mapValues(_.length).toMap
    assert(byStatus(("ok", false)) === 150 - nInvalid)
    assert(byStatus(("InvalidRing", false)) === nInvalid)
    assert(byStatus.getOrElse(("DanglingEnds", false), 0) === 0)
    // from-way areas: standalone closed ways + extra tagged-inner-ring areas
    // (extra areas survive even when the main polygon later fails — the
    // reference pushes them into m_areas before the throw)
    val nStandalone = (0 until 150).count(_ % 6 == 0)
    val nExtraInner = (0 until 150).count(_ % 8 == 2)
    assert(byStatus(("ok", true)) === nStandalone + nExtraInner)
    // holes: every g%4==2 except the invalid two, plus ONE merged hole per
    // g%12==7 group (its two edge-touching holes collapse via the
    // touching-inner-rings merge)
    val nInner = out.filter(r => r.getString(5) == "ok" && !r.getBoolean(2)).map(_.getInt(4)).sum
    assert(nInner === (0 until 150).count(g => g % 4 == 2) - nInvalid
      + (0 until 150).count(_ % 12 == 7))
    // spot-check one touching-holes relation: exactly one hole remains
    val touch = out.find(r => r.getLong(1) == 8L && !r.getBoolean(2)).get // g=7 -> rel 8
    assert(touch.getString(5) === "ok" && touch.getInt(4) === 1)
    // tag merge: untagged relation (odd g) + tagged outer way (g%5==1);
    // g%17==5 groups omit the tagged way entirely, so no merge there
    val merged = out.filter(r => !r.getBoolean(2) && r.getString(7).contains("meadow"))
    assert(merged.length ===
      (0 until 150).count(g => g % 2 == 1 && g % 5 == 1 && g % 17 != 5))
    // area-id bijection: from_way <=> even id, orig_id = id/2 rounded toward 0
    out.filter(r => r.getString(5) == "ok").foreach { r =>
      val id = r.getLong(0); val orig = r.getLong(1); val fromWay = r.getBoolean(2)
      assert(fromWay === (id % 2 == 0))
      assert(orig === (if (fromWay) id / 2 else (id - java.lang.Long.signum(id)) / 2))
    }
  }

  test("native ShingleMinHash/ShingleHashArray match the Column-composed spec") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(50)
    val both = docs.select(
      graft.plans.TextHashExpressions.shingleHashes(col("text"), 256, 10).as("native_sh"),
      Fns.shingleHashes(col("text"), 256, 10).as("spec_sh"),
      graft.plans.TextHashExpressions.shingleMinHash(col("text"), 256, 10, 12).as("native_mh"),
      Fns.minHashArray(Fns.shingleHashes(col("text"), 256, 10), 12).as("spec_mh"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
      assert(r.getSeq[Long](2) === r.getSeq[Long](3))
    }
    // short-text edge: text shorter than the shingle length
    val edge = spark.range(1).select(lit("abc").as("text"))
    val e = edge.select(
      graft.plans.TextHashExpressions.shingleHashes(col("text"), 256, 10).as("n"),
      Fns.shingleHashes(col("text"), 256, 10).as("s")).collect()(0)
    assert(e.getSeq[Long](0) === e.getSeq[Long](1))
    // simhash parity incl. edge strings
    val sims = docs.select(
        graft.plans.TextHashExpressions.simHash16(col("text")),
        Fns.simHash16(col("text"))).collect()
    sims.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    val ss = spark; import ss.implicits._
    val edges = Seq("", " ", "a", "  double  spaces  ", "tok").toDF("text")
      .select(graft.plans.TextHashExpressions.simHash16(col("text")),
        Fns.simHash16(col("text"))).collect()
    edges.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // 64-bit simhash: native expression == Column spec form, incl. edges
    val sims64 = docs.limit(50)
      .select(graft.plans.TextHashExpressions.simHash64(col("text")),
        Fns.simHash64(col("text"))).collect()
    sims64.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    val edges64 = Seq("", " ", "a", "  double  spaces  ", "tok").toDF("text")
      .select(graft.plans.TextHashExpressions.simHash64(col("text")),
        Fns.simHash64(col("text"))).collect()
    edges64.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("exact dedup finds exactly the injected copies") {
    val dups = DedupOps.exactDuplicates(Synth.corpus(spark, dir)).collect()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(dups.length === (0L until nDocs).count(_ % 7 == 0))
    dups.foreach(r => assert(r.getLong(3) === 2L))
  }

  test("duplicate clusters: transitive chains collapse to min-id components") {
    val ss = spark; import ss.implicits._
    // chain 1-2-3, isolated pair 7-8, singleton edge 5-9
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (5L, 9L)).toDF("doc_a", "doc_b")
    val got = DedupOps.duplicateClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 5L -> 5L, 9L -> 5L))
    // a longer chain exercises multi-round convergence (diameter 5)
    val chain = (10L until 16L).sliding(2).map(s => (s(1), s(0))).toSeq.toDF("doc_a", "doc_b")
    val got2 = DedupOps.duplicateClusters(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got2.values.toSet === Set(10L) && got2.size === 6)
  }

  test("duplicate clusters: union-find contraction matches the plain loop") {
    val ss = spark; import ss.implicits._
    // deterministic pseudo-random graph: 300 edges over ~160 nodes via a
    // multiplicative hash — mixes chains, stars, and isolated pairs, and
    // repartition(16) scatters each component across partitions so the
    // contracted graph is non-trivial in BOTH directions (some components
    // fully partition-local, some spanning many partitions)
    def h(i: Long, salt: Long): Long =
      math.floorMod((i * 6364136223846793005L + salt) >>> 33, 160L)
    val edges = (0L until 300L).map(i => (h(i, 11L), h(i, 77L)))
      .filter(p => p._1 != p._2)
      .toDF("doc_a", "doc_b").repartition(16)
    val scopeA = new graft.core.CacheScope
    val viaContract = GraphOps.componentsLoop(
        edges.select(col("doc_a").as("src"), col("doc_b").as("dst")), scopeA)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaLocal = DedupOps.duplicateClusters(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaLocal === viaContract) // dispatch twin vs contraction path
    // the plain loop: the same rounds with no contraction (the durable form)
    val loopDir = java.nio.file.Files.createTempDirectory("graft_cc_plain").toString
    val viaLoop = GraphOps.connectedComponentsResumable(
        edges.select(col("doc_a").cast("long").as("src"),
          col("doc_b").cast("long").as("dst")), loopDir)
      ._1.collect()
      .map(r => (r.getLong(0).asInstanceOf[Long], r.getLong(1))).toMap
    assert(viaContract === viaLoop)
    scopeA.release()
    // a chain laid out one-edge-per-partition: every merge is
    // cross-partition, the contracted graph is the chain itself — the
    // worst case for contraction must still be exact
    val chain = (0L until 20L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      .repartition(20)
    val got = DedupOps.duplicateClusters(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size === 21 && got.values.toSet === Set(0L))
  }

  test("minhash LSH candidates include every exact-copy pair") {
    val pairs = DedupOps.minHashLshPairs(Synth.corpus(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    (0L until nDocs).filter(_ % 7 == 0).foreach { id =>
      assert(pairs.contains((id, id + 1000000L)), s"missing exact pair for $id")
    }
  }

  test("checkpointed job resumes without recomputing finished buckets") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val pts = Synth.points(spark, dir)
    def job(df: org.apache.spark.sql.DataFrame) =
      SpatialOps.equirectDensity(df, 7)
    val ran1 = CheckpointOps.runResumable(spark, pts, "pid", 4, s"$tmp/out", s"$tmp/lineage")(job)
    assert(ran1 === 4)
    // second invocation: everything checkpointed, nothing recomputes
    val ran2 = CheckpointOps.runResumable(spark, pts, "pid", 4, s"$tmp/out", s"$tmp/lineage")(job)
    assert(ran2 === 0)
    // simulate a lost bucket: drop one lineage row set → only that bucket reruns
    val lineage = spark.read.parquet(s"$tmp/lineage")
    lineage.filter(col("bucket") =!= 2).write.mode("overwrite").parquet(s"$tmp/lineage2")
    val pts2 = Synth.points(spark, dir)
    val ran3 = CheckpointOps.runResumable(spark, pts2, "pid", 4, s"$tmp/out", s"$tmp/lineage2")(job)
    assert(ran3 === 1)
    // union of bucket outputs equals the unbucketed job output
    val bucketed = spark.read.parquet(s"$tmp/out/bucket=*")
      .groupBy("bx", "by").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = job(pts)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bucketed === direct)
  }

  test("missing-table read: only an absent path is a fresh start, a corrupt table throws") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt_read")
    assert(CheckpointOps.readIfExists(spark, s"$tmp/absent").isEmpty)
    assert(CheckpointOps.completedBuckets(spark, s"$tmp/absent") === Set.empty[Int])
    // a lineage table whose only file is not parquet: the read fails for
    // a reason other than a missing path, and no caller may swallow it
    val bad = java.nio.file.Files.createDirectories(tmp.resolve("lineage"))
    java.nio.file.Files.write(bad.resolve("part-00000.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[Exception](CheckpointOps.readIfExists(spark, bad.toString).map(_.collect()))
    intercept[Exception](CheckpointOps.completedBuckets(spark, bad.toString))
    intercept[Exception](CheckpointOps.iterateResumable(spark,
      spark.range(1).toDF("id"), tmp.toString, maxRounds = 1)((st, _) => (st, 0L)))
    assert(!java.nio.file.Files.exists(tmp.resolve("round=0")),
      "a corrupt lineage must not restart the loop from round 0")
  }

  test("density PNG round-trips the reference gray mapping (nodedensity.cpp:63-84)") {
    // kernel formula goldens
    assert(graft.core.Raster.gray(0, 0, 255) === 0)
    assert(graft.core.Raster.gray(255, 0, 255) === 255)
    assert(graft.core.Raster.gray(100, 0, 99999) === 0)    // integer division
    assert(graft.core.Raster.gray(500000, 0, 99999) === 255) // clamped at max
    assert(graft.core.Raster.gray(7, 0, 10) === 178)       // 7*255/10
    // full pipeline: aggregate -> render -> decode -> per-pixel check
    val pts = Synth.points(spark, dir)
    val level = 5; val n = 1 << level
    val png = SpatialOps.densityPng(pts, level, 0, 10)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth === n && img.getHeight === n)
    val expect = SpatialOps.equirectDensity(pts, level).collect()
      .map(r => ((r.getLong(0).toInt, n - 1 - r.getLong(1).toInt), r.getLong(2))).toMap
    for (x <- 0 until n; y <- 0 until n) {
      val want = graft.core.Raster.gray(expect.getOrElse((x, y), 0L), 0, 10)
      assert(img.getRaster.getSample(x, y, 0) === want, s"pixel ($x,$y)")
    }
  }

  test("bucketed tables join with no shuffle (co-located layout)") {
    val pts = Synth.points(spark, dir)
    graft.sources.StorageOps.writeBucketed(pts, "pts_a", "pid", 8)
    graft.sources.StorageOps.writeBucketed(
      pts.withColumn("v", col("lon_fix") + 1), "pts_b", "pid", 8)
    val j = spark.table("pts_a").join(spark.table("pts_b"), "pid")
    val plan = j.queryExecution.sparkPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(j.count() === pts.count()) // pid is unique in the point set
  }

  test("cell-partitioned layout prunes at the partition level") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    val pts = Synth.points(spark, dir)
    graft.sources.StorageOps.writePartitionedPoints(pts, s"$tmp/pts")
    // pick the most populated partition cell
    val top = pts.select(Fns.cellId(col("lon_fix"), col("lat_fix"),
        graft.sources.StorageOps.PartitionLevel).as("c"))
      .groupBy("c").count().orderBy(col("count").desc).first()
    val cell = top.getLong(0); val expect = top.getLong(1)
    val q = graft.sources.StorageOps.readPointsInPartition(spark, s"$tmp/pts", cell)
    assert(q.count() === expect)
    // the physical plan must carry the predicate as a PartitionFilter
    // (metadata pruning), not a post-scan Filter over all rows
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("part_cell"),
      s"no partition filter in plan:\n$plan")
    // and the scan must read only the matching partition's records
    val (_, metrics) = MetricsOps.withProgress(spark) { q.count() }
    val read = metrics.collect().map(_.getAs[Long]("inputRecords")).sum
    assert(read === expect, s"scan read $read rows, expected only $expect")
  }

  test("progress listener records per-stage throughput metrics") {
    val (cnt, metrics) = MetricsOps.withProgress(spark) {
      Synth.points(spark, dir).groupBy("lon_fix").count().count()
    }
    assert(cnt > 0)
    val rows = metrics.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("inputRecords")).sum > 0)
    assert(rows.map(_.getAs[Long]("executorCpuMs")).sum > 0)
  }

  test("salted count equals plain groupBy count") {
    val cells = Synth.points(spark, dir)
      .select(graft.functions.Fns.cellId(col("lon_fix"), col("lat_fix"), 8).as("cell"))
    val salted = SkewOps.saltedCount(cells, "cell", 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = cells.groupBy("cell").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted === plain)
  }

  test("salting actually fans a hot key out across partial groups") {
    val ss = spark; import ss.implicits._
    // one pathologically hot key: 10k identical rows
    val hot = spark.range(10000).select(lit(42L).as("cell"))
    val partials = hot.withColumn("__salt", SkewOps.salt(16))
      .groupBy("cell", "__salt").count()
    assert(partials.count() > 1L,
      "hot key collapsed to a single (key, salt) partial — salt is a no-op")
    // and the two-level result is still the exact count
    val total = SkewOps.saltedCount(hot, "cell", 16).collect()
    assert(total.length === 1 && total(0).getLong(1) === 10000L)
  }

  test("shuffled kNN: exact vs brute force on queries == full point set, no broadcast hints") {
    val pts = Synth.points(spark, dir).limit(400).persist()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // with auto-broadcast off, the plan must still work (no broadcast
      // hints anywhere) — the query side is joined by shuffle on cell
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val got = SpatialOps.knn(pts, pts, 3, KnnMetric.Planar, strategy = KnnStrategy.Shuffle)
      assert(!got.queryExecution.sparkPlan.toString.contains("BroadcastExchange"),
        "query side must not be broadcast in the shuffled kNN plan")
      val gotSet = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val exact = SpatialOps.knnBruteForce(pts, pts, 3, KnnMetric.Planar)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(gotSet === exact)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("geodesic kNN: exact vs brute force at high latitude and across the antimeridian") {
    val ss = spark; import ss.implicits._
    // polar cluster: lons spread over the full circle at lat 89.9 deg are
    // all geodesically close; antimeridian pair at +-179.9999 deg; plus a
    // mid-lat band. Flat-metric kNN is WRONG on both degenerate regions.
    val polar = (0 until 24).map(i => (100L + i, (i * 150000000L) - 1790000000L, 899000000L + i * 1000))
    val seam = Seq((200L, 1799999000L, 100000000L), (201L, -1799999000L, 100100000L),
      (202L, 1799000000L, 100200000L), (203L, -1799000000L, 99900000L))
    val mid = (0 until 40).map(i => (300L + i, i * 40000000L - 800000000L, (i % 7) * 90000000L - 300000000L))
    val pts = (polar ++ seam ++ mid).toDF("pid", "lon_fix", "lat_fix").persist()
    val queries = pts.filter(col("pid").isin(100L, 101L, 200L, 201L, 310L))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val exact = key(SpatialOps.knnBruteForce(pts, queries, 3, KnnMetric.Geo))
    assert(key(SpatialOps.knn(pts, queries, 3, KnnMetric.Geo, 4, KnnStrategy.Broadcast)) === exact)
    assert(key(SpatialOps.knn(pts, queries, 3, KnnMetric.Geo, 4, KnnStrategy.Shuffle)) === exact)
    // the seam pair must be each other's nearest geodesic neighbor — the
    // flat metric would rank the whole mid-lat band closer
    val top1 = SpatialOps.knnBruteForce(pts, pts.filter(col("pid") === 200L), 1, KnnMetric.Geo)
      .collect()
    assert(top1.head.getLong(1) === 201L)
    pts.unpersist()
  }

  test("rasterizePolygons: emitted centers are inside, omitted candidates outside (kernel check)") {
    val polys = Synth.hexCorpus(spark, 20)
    val level = SparkEntry.RasterizeLevel
    val n = 1L << level
    val got = SpatialOps.rasterizePolygons(polys, level)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty)
    val hexes = polys.collect().map(r =>
      (r.getLong(0), r.getSeq[Long](1).toArray, r.getSeq[Long](2).toArray))
    // brute force over each polygon's full candidate cell range
    val expect = (for {
      (pid, xs, ys) <- hexes
      cx <- (xs.min + 1800000000L) * n / 3600000000L to
        math.min((xs.max + 1800000000L) * n / 3600000000L, n - 1)
      cy <- (ys.min + 900000000L) * n / 1800000000L to
        math.min((ys.max + 900000000L) * n / 1800000000L, n - 1)
      px = (cx * 2 + 1) * 3600000000L / (2 * n) - 1800000000L
      py = (cy * 2 + 1) * 1800000000L / (2 * n) - 900000000L
      if graft.core.Planar.pointInRing(px, py, xs, ys)
    } yield (pid, cx, cy)).toSet
    assert(got === expect)
  }

  test("vectorizeRaster: exact components on a hand-built raster") {
    val ss = spark; import ss.implicits._
    // L-shaped component, a 2-cell bar, and a singleton; diagonal does NOT connect
    val cells = Seq((0L, 0L), (0L, 1L), (1L, 1L), (3L, 0L), (3L, 1L), (5L, 5L),
      (6L, 6L)).toDF("bx", "by")
    val got = SpatialOps.vectorizeRaster(cells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    def k(bx: Long, by: Long) = bx * 4194304L + by
    assert(got === Set(
      (k(0, 0), 0L, 0L, 1L, 1L, 3L),   // L-shape
      (k(3, 0), 3L, 0L, 3L, 1L, 2L),   // vertical bar
      (k(5, 5), 5L, 5L, 5L, 5L, 1L),   // singleton (diagonal is not adjacency)
      (k(6, 6), 6L, 6L, 6L, 6L, 1L)))
  }

  test("relation-closure extract strictly widens the complete-ways extract") {
    def pids(q: String): Set[Long] =
      SparkEntry.queries(q)(spark, dir).collect().map(_.getLong(0)).toSet
    val waysOnly = pids("q_extract")
    val withRels = pids("q_extract_rels")
    assert(waysOnly.subsetOf(withRels), "relation closure must contain the ways-only extract")
    assert(withRels.size > waysOnly.size,
      "level-2 relation membership must pull nodes the ways-only closure misses")
  }

  test("geodesic radius join: brute-force equality at high latitude, across the seam, no broadcast") {
    val ss = spark; import ss.implicits._
    val polar = (0 until 24).map(i => (100L + i, (i * 150000000L) - 1790000000L, 899000000L + i * 1000))
    val seam = Seq((200L, 1799999000L, 100000000L), (201L, -1799999000L, 100100000L),
      (202L, 1799000000L, 100200000L), (203L, -1799000000L, 99900000L))
    val mid = (0 until 40).map(i => (300L + i, i * 40000000L - 800000000L, (i % 7) * 90000000L - 300000000L))
    val pts = (polar ++ seam ++ mid).toDF("pid", "lon_fix", "lat_fix").persist()
    val queries = pts.filter(col("pid").isin(100L, 101L, 200L, 201L, 310L))
    val r = 300000.0 // 300 km: catches the seam pair and parts of the polar ring
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = SpatialOps.withinRadiusGeo(pts, queries, r)
      assert(!joined.queryExecution.sparkPlan.toString.contains("BroadcastExchange"),
        "radius join must not broadcast either side")
      val got = joined.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      val local = pts.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      val qs = local.filter(t => Set(100L, 101L, 200L, 201L, 310L)(t._1))
      def hav(ax: Long, ay: Long, bx: Long, by: Long): Double = {
        val d = 0.017453292519943295769236907684886
        val lonh = math.sin((ax - bx) / 1.0e7 * d * 0.5)
        val lath = math.sin((ay - by) / 1.0e7 * d * 0.5)
        2.0 * 6372797.560856 * math.asin(math.sqrt(math.min(
          lath * lath + math.cos(ay / 1.0e7 * d) * math.cos(by / 1.0e7 * d) * lonh * lonh, 1.0)))
      }
      val expect = (for {
        (qid, qx, qy) <- qs
        (pid, x, y) <- local if pid != qid
        d3 = math.round(hav(x, y, qx, qy) * 1000.0)
        if d3 <= math.round(r * 1000.0)
      } yield (qid, pid, d3)).toSet
      assert(got === expect)
      // the seam pair finds each other across the antimeridian
      assert(got.exists(t => t._1 == 200L && t._2 == 201L))
      // a polar query finds ring members on far-away longitudes
      assert(got.count(t => t._1 == 100L && t._2 >= 100L && t._2 < 124L) > 3)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      pts.unpersist()
    }
  }

  test("geodesic shuffled kNN: no broadcast of the query side, agrees with brute force") {
    val pts = Synth.points(spark, dir).limit(400).persist()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val got = SpatialOps.knn(pts, pts, 3, KnnMetric.Geo, strategy = KnnStrategy.Shuffle)
      assert(!got.queryExecution.sparkPlan.toString.contains("BroadcastExchange"),
        "query side must not be broadcast in the geodesic shuffled kNN plan")
      val gotSet = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val exact = SpatialOps.knnBruteForce(pts, pts, 3, KnnMetric.Geo)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(gotSet === exact)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      pts.unpersist()
    }
  }

  test("kNN fallback and coarsening: every metric and strategy equals brute force at a fine level") {
    // at level 12 (cells ~0.09° by ~0.04°) a 3x3 neighborhood of these
    // 400 points, spread over 180° by 120°, almost never holds k
    // candidates: the broadcast round sends its queries to the
    // brute-force fallback, and the shuffle strategy coarsens round by
    // round until every query resolves
    val pts = Synth.points(spark, dir).limit(400).persist()
    try {
      def key(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      for (metric <- Seq(KnnMetric.Planar, KnnMetric.Geo);
           strategy <- Seq(KnnStrategy.Broadcast, KnnStrategy.Shuffle)) {
        val scope = new graft.core.CacheScope
        val got = SpatialOps.knn(pts, pts, 5, metric, 12, strategy, scope)
        // the fallback (or a second round) is a union with the first round
        assert(got.queryExecution.analyzed.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union]),
          s"$metric $strategy resolved everything in one round")
        assert(key(got) === key(SpatialOps.knnBruteForce(pts, pts, 5, metric)),
          s"$metric $strategy")
        scope.release()
      }
    } finally pts.unpersist()
  }

  test("knnGeoAuto picks by query-set size and agrees with both variants") {
    val pts = Synth.points(spark, dir)
    val q = pts.filter(col("pid") % 997 === 0)
    val auto = SpatialOps.knn(pts, q, 5, KnnMetric.Geo)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val small = SpatialOps.knn(pts, q, 5, KnnMetric.Geo, strategy = KnnStrategy.Broadcast)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val shuffled = SpatialOps.knn(pts, q, 5, KnnMetric.Geo, strategy = KnnStrategy.Shuffle)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto === small && auto === shuffled)
  }

  test("PointInPolygonSet plan size is O(1) in the polygon corpus (broadcast-backed)") {
    def serializedExprSize(nPolys: Int): Int = {
      val polys: graft.plans.PipKernel.Polys = (0 until nPolys).map { k =>
        k -> Array((Array(0L, 10L, 10L, 0L).map(_ + k), Array(0L, 0L, 10L, 10L).map(_ + k)))
      }.toMap
      val bc = spark.sparkContext.broadcast(polys)
      val colRef = graft.plans.PointInPolygonSet.fromBroadcast(
        lit(1), lit(5L), lit(5L), bc)
      val expr = org.apache.spark.sql.GraftColumnBridge.expression(colRef)
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(expr); oos.close()
      bos.size()
    }
    val small = serializedExprSize(30)
    val big = serializedExprSize(3000)
    // the task-shipped expression carries only the broadcast handle: its
    // serialized size must not scale with the polygon count
    assert(big < small * 2, s"expression grew with polygons: $small -> $big bytes")
    // and the predicate still evaluates correctly through the broadcast
    val pts = Synth.points(spark, dir)
    val viaBc = SpatialOps.pip(spark, pts).count()
    assert(viaBc > 0)
  }

  test("generic assembler: only complete relations emit; type flags drop members") {
    val ss = spark; import ss.implicits._
    // member_pos values are deliberately NOT in input row order for rel 1 —
    // the emitted list must come back sorted by member_pos
    val members = Seq(
      (1L, 2L, "r", 30L), (1L, 0L, "n", 10L), (1L, 1L, "w", 20L), // complete
      (2L, 0L, "n", 10L), (2L, 1L, "w", 999L),    // way 999 missing -> incomplete
      (3L, 0L, "r", 777L),                        // rel 777 missing -> incomplete
      (4L, 0L, "n", 11L)                // found entity, null payload -> complete
    ).toDF("rel_id", "member_pos", "mtype", "ref")
    val nodes = Seq((10L, Some(5L)), (11L, None)).toDF("id", "payload")
    val ways = Seq((20L, 7L)).toDF("id", "payload")
    val rels = Seq((30L, 11L)).toDF("id", "payload")
    val rows = AssemblyOps.assembleGeneric(members, nodes, ways, rels)
      .collect().sortBy(_.getLong(0))
    val out = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), if (r.isNullAt(6)) -1L else r.getLong(6))).toSeq
    // relation 4's member matched an entity whose payload is null: it
    // resolves (completeness keys on the join match, not the payload)
    assert(out === Seq((1L, 3L, 1L, 1L, 1L, 23L), (4L, 1L, 1L, 0L, 0L, -1L)))
    // ordered member list: sorted by member_pos, carrying (mtype, ref,
    // payload) — the route sequence survives assembly
    val m1 = rows.head.getSeq[org.apache.spark.sql.Row](5)
      .map(m => (m.getLong(0), m.getString(1), m.getLong(2),
        if (m.isNullAt(3)) -1L else m.getLong(3)))
    assert(m1 === Seq((0L, "n", 10L, 5L), (1L, "w", 20L, 7L), (2L, "r", 30L, 11L)))
    // with relation members not kept (R flag off), relation 3 has no kept
    // members at all and relation 2 is still missing its way
    val noR = AssemblyOps.assembleGeneric(members, nodes, ways, rels, wantR = false)
      .collect().map(_.getLong(0)).toSet
    assert(noR === Set(1L, 4L))
    // per-type orphan callbacks
    val orphanWays = AssemblyOps.entitiesNotInAnyRelation(
      Seq((20L, 7L), (21L, 8L)).toDF("id", "payload"), members, "w")
      .collect().map(_.getLong(0)).toSet
    assert(orphanWays === Set(21L))
  }

  test("checkRefs reports dangling members per type with impacted-relation counts") {
    val ss = spark; import ss.implicits._
    val members = Seq(
      (1L, 0L, "n", 10L),                        // resolves
      (1L, 1L, "w", 999L),                       // dangling way
      (2L, 0L, "w", 998L), (2L, 1L, "w", 999L),  // two dangling ways, one rel
      (3L, 0L, "r", 777L),                       // dangling relation ref
      (4L, 0L, "n", 12L)                         // dangling node
    ).toDF("rel_id", "member_pos", "mtype", "ref")
    val nodes = Seq((10L, 5L)).toDF("id", "payload")
    val ways = Seq((20L, 7L)).toDF("id", "payload")
    val rels = Seq((30L, 11L)).toDF("id", "payload")
    val got = AssemblyOps.checkRefs(members, nodes, ways, rels)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(("n", 1L, 1L), ("w", 3L, 2L), ("r", 1L, 1L)))
    // a fully consistent input still reports one zero row per type
    val clean = Seq((1L, 0L, "n", 10L), (1L, 1L, "w", 20L), (1L, 2L, "r", 30L))
      .toDF("rel_id", "member_pos", "mtype", "ref")
    val zeroed = AssemblyOps.checkRefs(clean, nodes, ways, rels)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(zeroed === Set(("n", 0L, 0L), ("w", 0L, 0L), ("r", 0L, 0L)))
  }

  test("multimodal extract: stub decode is deterministic and fingerprint matches kernel") {
    val metas = MultimodalOps.extractMedia(spark, Synth.pages(spark, dir)).collect()
    assert(metas.length === 500)
    val pages = Synth.pages(spark, dir).select("url", "html").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1))).toMap
    metas.take(20).foreach { m =>
      val bytes = pages(m.url)
      val (w, h, f) = MultimodalOps.decodeStub(bytes)
      assert((m.width, m.height, m.nFrames) === ((w, h, f)))
      assert(m.fingerprint === MultimodalOps.byteFingerprint(bytes))
      assert(m.byteLen === bytes.length.toLong)
    }
  }

  test("frame sampling: stride/cap contract and per-frame fingerprints") {
    val frames = MultimodalOps.sampleFrames(spark, Synth.pages(spark, dir), 1, 3).collect()
    // cap binds: no doc emits more than 3 frames, and all start at 0
    val byUrl = frames.groupBy(_.url)
    assert(byUrl.values.forall(_.length <= 3))
    assert(byUrl.values.forall(_.map(_.frameIdx).sorted.startsWith(Seq(0))))
    // fingerprints match the kernel derivation
    val pages = Synth.pages(spark, dir).select("url", "html").limit(10).collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    pages.foreach { case (url, bytes) =>
      val fp = MultimodalOps.byteFingerprint(bytes)
      byUrl(url).foreach(f =>
        assert(f.frameFp === graft.core.TextHash.mix64(fp + f.frameIdx)))
    }
    // resize stub: aspect preserved within bounds, no-op when already small
    assert(MultimodalOps.resizeStub(100, 50, 200, 200) === ((100, 50)))
    val (rw, rh) = MultimodalOps.resizeStub(1600, 800, 400, 400)
    assert(rw === 400 && rh === 200)
  }

  test("ANN cosine top-k: recall vs exact baseline on near-duplicates") {
    val e = Synth.embCorpus(spark, dir)
    val q = e.filter(col("vec_id") >= 1000000L)
    val ann = SimilarityOps.topK(e, q, 1, VecCandidates.Lsh())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val nQueries = q.count()
    // injected near-copies differ in one component by 0.01 — the LSH
    // signatures agree on (almost) every table, so recall@1 must be high
    val hits = ann.count { case (qid, nid) => nid == qid - 1000000L }
    assert(hits >= (nQueries * 0.9).toInt, s"recall@1 = $hits/$nQueries")
    // ANN never invents scores: every reported pair matches the exact score
    val exact = SimilarityOps.topK(e, q, 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    SimilarityOps.topK(e, q, 1, VecCandidates.Lsh()).collect().foreach { r =>
      exact.get((r.getLong(0), r.getLong(1))).foreach(s => assert(s === r.getLong(3)))
    }
  }

  test("ANN corpus-vs-corpus mode: same result, no query broadcast") {
    val e = Synth.embCorpus(spark, dir)
    val q = e.filter(col("vec_id") >= 1000000L)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val shuffled = SimilarityOps.topK(e, q, 1, VecCandidates.Lsh(broadcastQueries = false))
      assert(!shuffled.queryExecution.sparkPlan.toString.contains("BroadcastExchange"))
      val a = shuffled.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      val b = SimilarityOps.topK(e, q, 1, VecCandidates.Lsh())
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(a === b)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("minhash LSH skips degenerate mega-buckets but keeps normal duplicate pairs") {
    val ss = spark; import ss.implicits._
    // 100 identical boilerplate docs (every band bucket size 100 > cap) and
    // one near-duplicate pair of a distinct text
    val boiler = (0 until 100).map(i => (i.toLong, "common boilerplate text shared by every page of this site"))
    val pairDoc = "a genuinely unique document about cell partitioned spatial joins at scale"
    val rows = boiler ++ Seq((1000L, pairDoc), (1001L, pairDoc + " x"))
    val pairs = DedupOps.minHashLshPairs(rows.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1000L, 1001L)), "near-dup pair must survive the cap")
    assert(!pairs.exists { case (a, b) => a < 100 && b < 100 },
      "mega-bucket boilerplate must not emit quadratic pairs")
  }

  test("incremental LSH pairs batch-vs-corpus only, capped per side") {
    val ss = spark; import ss.implicits._
    val boiler = "common boilerplate text shared by every page of this site"
    val uniq = "a genuinely unique document about cell partitioned spatial joins at scale"
    // existing: 100 boilerplate + the original unique doc; fresh: one
    // more boilerplate + a near-copy of the unique doc + a novel doc
    val existing = ((0 until 100).map(i => (i.toLong, boiler)) :+ (500L, uniq))
      .toDF("doc_id", "text")
    val fresh = Seq((1000L, boiler), (1001L, uniq + " x"),
      (1002L, "completely novel content never seen before in the corpus"))
      .toDF("doc_id", "text")
    val got = DedupOps.minHashLshPairsIncremental(existing, fresh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the near-copy matches its original; the novel doc matches nothing
    assert(got.contains((1001L, 500L)))
    assert(!got.exists(_._1 == 1002L))
    // the fresh boilerplate doc produces NO pairs: the existing side's
    // mega-bucket (100 > cap) is skipped, so candidates stay bounded
    assert(!got.exists(_._1 == 1000L),
      "existing-side mega-bucket must be capped")
    // and no old-old or new-new pairs by construction
    got.foreach { case (n, o) => assert(n >= 1000L && o < 1000L) }
  }

  test("simhash LSH skips degenerate mega-buckets but keeps normal near-dup pairs") {
    val ss = spark; import ss.implicits._
    // 200 identical docs: every band bucket they land in has size 200 > cap
    val boiler = (0 until 200).map(i => (i.toLong, "common boilerplate text shared by every page of this mirror site"))
    // long doc so one appended token shifts few vote sums past zero
    val uniq = Seq.fill(20)("a genuinely unique document about banded hamming lsh over crawl text").mkString(" ")
    val rows = boiler ++ Seq((1000L, uniq), (1001L, uniq + " y"))
    val pairs = DedupOps.simHashPairs(rows.toDF("doc_id", "text"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1000L, 1001L)), "near-dup pair must survive the cap")
    assert(!pairs.exists { case (a, b) => a < 200 && b < 200 },
      "mega-bucket boilerplate must not emit quadratic pairs")
  }

  test("embedding near-dup LSH skips degenerate mega-buckets but keeps normal pairs") {
    val ss = spark; import ss.implicits._
    val d = 16
    // 200 identical vectors: same bucket in every table, size 200 > cap
    val common = Array.tabulate(d)(i => (0.1f * (i % 7)) - 0.3f)
    val base = Array.tabulate(d)(i => math.sin(i + 1.0).toFloat)
    val near = base.zipWithIndex.map { case (v, i) => if (i == 0) v + 1e-4f else v }
    val rows = (0 until 200).map(i => (i.toLong, common)) ++
      Seq((1000L, base), (1001L, near))
    val pairs = DedupOps.embeddingNearDups(rows.toDF("vec_id", "embedding"), 9000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1000L, 1001L)), "near-identical pair must survive the cap")
    assert(!pairs.exists { case (a, b) => a < 200 && b < 200 },
      "mega-bucket identical vectors must not emit quadratic pairs")
  }

  test("native DocFingerprint matches the Column-composed spec form") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(100)
    val both = docs.select(
      graft.plans.TextHashExpressions.docFingerprint(col("text")),
      Fns.docFingerprint(col("text"))).collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    val ss = spark; import ss.implicits._
    val edges = Seq("", " ", "tok", "  two  tokens  ").toDF("text")
      .select(graft.plans.TextHashExpressions.docFingerprint(col("text")),
        Fns.docFingerprint(col("text"))).collect()
    edges.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("native VecCosine matches the Column-composed cosineSim bit-for-bit") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val pairs = e.select(col("vec_id"), col("embedding"))
      .crossJoin(e.select(col("embedding").as("e2"), col("vec_id").as("v2")))
      .filter(col("vec_id") % 17 === 0 && col("v2") % 13 === 0)
      .select(
        graft.plans.TextHashExpressions.vecCosine(col("embedding"), col("e2")).as("native"),
        Fns.cosineSim(col("embedding"), col("e2")).as("spec"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("IVF cosine: never invents pairs or scores (subset of exact scorer)") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") % 25 === 0)
    val ivfDf = SimilarityOps.topK(e, q, 5, VecCandidates.Ivf())
    // assignment is a map stage over the broadcast VARIABLE: no crossJoin
    // row explosion and exactly ONE window (the per-query rerank top-k)
    val plan = ivfDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan.take(800))
    // exactly one Window exec node (WindowGroupLimit partial/final pushdowns
    // of that same rerank window also print "Window…" lines — exclude them)
    assert(plan.linesIterator.count(_.contains("Window [")) === 1, plan.take(800))
    // small corpora make mod <= 3 where a bare residue-3 rule selects
    // nothing; the 3 % mod rule must keep the quantizer non-empty
    val small = e.filter(col("vec_id") < 10)
    assert(SimilarityOps.topK(small, small.filter(col("vec_id") === 0), 3, VecCandidates.Ivf())
      .count() > 0)
    val ivf = ivfDf.collect()
    assert(ivf.nonEmpty)
    val exact = SimilarityOps.topK(e, q, 1000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    ivf.foreach { r =>
      val s = exact.get((r.getLong(0), r.getLong(1)))
      assert(s.contains(r.getLong(3)), s"IVF pair not in exact scoring: $r")
    }
  }

  test("IVF autotune: recall monotone in nprobe, chosen = smallest hitting target") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") % 25 === 0)
    val tuned = SimilarityOps.ivfAutotune(e, q, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(tuned.map(_._1).toSeq === Seq(1L, 2L, 4L, 8L))
    // more probed lists can only ADD candidates — recall is monotone
    tuned.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2, s"recall not monotone: $a -> $b") }
    // exactly one chosen row, and it is the smallest candidate reaching
    // 950‰ (or the largest candidate when none does)
    val chosen = tuned.filter(_._3)
    assert(chosen.length === 1)
    val expectNp = tuned.collectFirst { case (np, r, _) if r >= 950L => np }
      .getOrElse(8L)
    assert(chosen(0)._1 === expectNp, tuned.mkString(", "))
    // recall at the max candidate is sane on the synthetic corpus
    assert(tuned.last._2 >= 500L, s"recall@8 = ${tuned.last._2}")
    // end-to-end tuned search == the IVF path at the chosen nprobe
    val viaAuto = SimilarityOps.cosineTopKIvfAuto(e, q, 5, q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = SimilarityOps.topK(e, q, 5, VecCandidates.Ivf(nprobe = expectNp.toInt))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaAuto === direct)
  }

  test("cosine top-1 of an injected near-duplicate is its source") {
    val e = Synth.embCorpus(spark, dir)
    val q = e.filter(col("vec_id") >= 1000000L).limit(5)
    val top = SimilarityOps.topK(e, q, 1).collect()
    top.foreach { r =>
      assert(r.getLong(1) === r.getLong(0) - 1000000L) // nearest = original vector
      assert(r.getLong(3) > 999000L) // cos > 0.999
    }
  }

  test("IVF quantizer is bounded: centroid count ~ min(4096, sqrt(n))") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = e.count()
    val kTarget = math.max(1L, math.min(SimilarityOps.IvfMaxCentroids.toLong,
      math.ceil(math.sqrt(n.toDouble)).toLong))
    val mod = math.max(n / kTarget, 1L)
    val nCents = e.filter(Fns.mixId(col("vec_id")) % mod === (3L % mod)).count()
    // uniform mixed hash → actual count within 2x of the target, never
    // corpus-scale
    assert(nCents > 0 && nCents <= 2 * kTarget,
      s"n=$n kTarget=$kTarget mod=$mod -> $nCents centroids")
  }

  test("Fns.mixId (Column) agrees with TextHash.mixId (kernel) incl. negatives") {
    val ss = spark; import ss.implicits._
    val ids = Seq(0L, 1L, 3L, -1L, -17L, 1000003L, Long.MaxValue, Long.MinValue + 1,
      987654321098L) ++ (0 until 50).map(i => 3L + 1000L * i)
    val rows = ids.toDF("id").select(col("id"), Fns.mixId(col("id"))).collect()
    rows.foreach(r => assert(r.getLong(1) === graft.core.TextHash.mixId(r.getLong(0))))
  }

  test("IVF quantizer survives clustered id spaces (all ids = 3 mod 1000)") {
    // raw-residue sampling would put EVERY id in one residue class and
    // abort the build; the mixed hash scatters them
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("vec_id", col("vec_id") * 1000L + 3L)
    val q = e.filter(col("vec_id") % 25000 === 3)
    val got = SimilarityOps.topK(e, q, 5, VecCandidates.Ivf()).collect()
    assert(got.nonEmpty)
    assert(got.groupBy(_.getLong(0)).forall(_._2.length <= 5))
    // and the PQ codebook path too
    assert(SimilarityOps.topK(e, q.limit(3), 5, score = VecScore.Pq()).count() > 0)
  }

  test("VecNearestCentroids kernel matches a brute-force (roundE6 desc, cid) ranking") {
    import graft.plans.CentroidKernel
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents: CentroidKernel.Cents = e.filter(col("vec_id") % 40 === 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val bc = spark.sparkContext.broadcast(cents)
    val got = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id"),
        graft.plans.GeomExpressions.vecNearestCentroids(col("embedding"), 4, bc))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    val vecs = e.filter(col("vec_id") % 25 === 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(vecs.nonEmpty)
    vecs.foreach { case (id, v) =>
      val expect = cents
        .map { case (cid, c) => (CentroidKernel.roundE6(graft.core.TextHash.cosine(c, v)), cid) }
        .sortBy { case (e6, cid) => (-e6, cid) }.take(4).map(_._2).toList
      assert(got(id) === expect, s"vec $id")
    }
  }

  test("pipJoinPolygons matches the ray-cast kernel and plans a shuffle join") {
    val pts = Synth.points(spark, dir)
    val polys = Synth.hexCorpus(spark, 400)
    val res = SpatialOps.pipJoinPolygons(pts, polys, 8)
    val got = res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hexes = polys.collect().map(r =>
      (r.getLong(0), r.getSeq[Long](1).toArray, r.getSeq[Long](2).toArray))
    val expect = (for {
      (pid, x, y) <- pts.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      (polyId, xs, ys) <- hexes
      if graft.core.Planar.pointInRing(x, y, xs, ys)
    } yield (pid, polyId)).toSet
    assert(got === expect)
    assert(got.nonEmpty)
    // the polygon corpus must never ride a broadcast: the candidate join is
    // a shuffle hash join at any corpus size
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan.linesIterator.take(20).mkString("\n"))
    assert(!plan.contains("BroadcastHashJoin"), plan.linesIterator.take(20).mkString("\n"))
  }

  test("duplicateClusters: deep chain converges in O(log d) rounds, no leaked caches") {
    val s = spark
    import s.implicits._
    graft.core.CacheScope.releaseGlobal()
    spark.sharedState.cacheManager.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // a 61-node near-dup chain (diameter 60): min-label alone needs 60
    // rounds; pointer jumping must close it in O(log d)
    val pairs = (0L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val scope = new graft.core.CacheScope
    val (labels, rounds) = GraphOps.componentsLoop(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")), scope)
    val out = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length === 61)
    assert(out.forall(_._2 === 0L), out.filter(_._2 != 0L).take(5).mkString(","))
    // 3 plain warm-up rounds (ClusterJumpAfter) + O(log 60) jump rounds;
    // plain min-label alone would need ~60
    assert(rounds <= GraphOps.ClusterJumpAfter + 11,
      s"rounds=$rounds — pointer jumping not effective")
    scope.release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString(","))
  }

  test("knnAuto picks the broadcast path for small query sets and agrees with both variants") {
    val pts = Synth.points(spark, dir)
    val q = pts.filter(col("pid") % 997 === 0)
    val auto = SpatialOps.knn(pts, q, 5, KnnMetric.Planar)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = SpatialOps.knn(pts, q, 5, KnnMetric.Planar, strategy = KnnStrategy.Broadcast)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto === direct)
    val shuffled = SpatialOps.knn(pts, q, 5, KnnMetric.Planar, strategy = KnnStrategy.Shuffle)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto === shuffled) // both strategies are EXACT — same answer
  }

  test("rep-ngram repetition score: zero-shuffle plan, equals the groupBy formulation") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val viaKernel = docs.select(col("doc_id"),
      graft.plans.TextHashExpressions.repNgramPm(col("text"),
        DedupOps.ShingleCap, DedupOps.ShingleLen).as("rep_pm"))
    assert(!viaKernel.queryExecution.executedPlan.toString.contains("Exchange"))
    val got = viaKernel.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val sh = docs.select(col("doc_id"),
      explode(graft.plans.TextHashExpressions.shingleHashes(col("text"),
        DedupOps.ShingleCap, DedupOps.ShingleLen)).as("sh"))
    val expect = sh.groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(((max("c") * 1000L - pmod(max("c") * 1000L, sum("c"))) / sum("c"))
        .cast("long").as("rep_pm"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === expect)
  }

  test("persist hygiene: operators leave nothing cached after scope release") {
    graft.core.CacheScope.releaseGlobal()
    spark.sharedState.cacheManager.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    val pts = Synth.points(spark, dir)
    val corpus = Synth.corpus(spark, dir)
    val s = spark; import s.implicits._
    // a 60-node ring with chords: (i, i+1) and (i, i+7)
    val ring = (0L until 60L).flatMap(i => Seq((i, (i + 1) % 60), (i, (i + 7) % 60)))
      .toDF("src", "dst")
    val runs: Seq[(String, graft.core.CacheScope => org.apache.spark.sql.DataFrame)] = Seq(
      ("knn planar broadcast", sc => SpatialOps.knn(pts, pts.filter(col("pid") % 997 === 0), 5,
        KnnMetric.Planar, strategy = KnnStrategy.Broadcast, scope = sc)),
      ("knn planar shuffle", sc => SpatialOps.knn(pts, pts.filter(col("pid") % 101 === 0), 5,
        KnnMetric.Planar, strategy = KnnStrategy.Shuffle, scope = sc)),
      ("knn geo broadcast", sc => SpatialOps.knn(pts, pts.filter(col("pid") % 997 === 0), 5,
        KnnMetric.Geo, strategy = KnnStrategy.Broadcast, scope = sc)),
      ("knn geo shuffle", sc => SpatialOps.knn(pts, pts.filter(col("pid") % 101 === 0), 5,
        KnnMetric.Geo, strategy = KnnStrategy.Shuffle, scope = sc)),
      ("minHashLshPairs", sc => DedupOps.minHashLshPairs(corpus, sc)),
      ("ngramJaccardPairs", sc => DedupOps.ngramJaccardPairs(corpus, 600, sc)),
      ("duplicateClusters", sc =>
        DedupOps.duplicateClusters(DedupOps.minHashLshPairs(corpus, sc), sc)),
      // the distributed loops, called past their size dispatch
      ("componentsLoop", sc => GraphOps.componentsLoop(ring, sc)._1),
      ("pageRankLoop", sc => GraphOps.rankLoop(GraphOps.rankEdges(ring, sc), None, 3,
        sc)),
      ("topologicalLayersLoop", sc => GraphOps.topologicalLayersLoop(
        ring.filter(col("src") < col("dst")), 4, sc)),
      ("lubyRoundsLoop", sc => GraphOps.lubyRoundsLoop(
        ring.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct(),
        4, 1L, removeNeighbors = true, sc)),
      ("hyperBallLoop", sc => SketchOps.hyperBallLoop(
        ring.select(col("src").as("node_id"), col("src").as("fp")).distinct(),
        ring, 3, scope = sc)),
      ("bpeTrainLoop", sc => LmOps.bpeTrainLoop(
        Seq(("lower", 3L, " l o w e r "), ("lowest", 2L, " l o w e s t "))
          .toDF("w", "wc", "s"), 3, sc)._1),
      ("resolveRedirectsLoop", sc => CrawlOps.resolveRedirectsLoop(
        ring.filter(col("dst") === (col("src") + 1) % 60 && col("src") % 5 =!= 0),
        48L, sc)))
    runs.foreach { case (name, run) =>
      val scope = new graft.core.CacheScope
      assert(run(scope).count() > 0, name)
      scope.release()
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, s"$name leaked caches")
    }
  }

  test("PQ/ADC: kernel identity, self-distance floor, and near-dup top-1 recall") {
    // kernel: adc(distTable(q), encode(v)) == brute-force per-subspace sum
    val cents = Array(
      Array.fill(8)(0.0f), Array.fill(8)(1.0f), Array.tabulate(8)(i => i * 0.5f))
    // raw PQ: residuals against the one all-zero centroid
    import graft.plans.PqKernel
    val zero = PqKernel.zeroCentroid(8)
    val book = PqKernel.ResBook(cents.map(PqKernel.residual(_, zero(0)._2)), 2) // 2 subspaces x 4 dims
    val v = Array(0.1f, 0.2f, 0.1f, 0.0f, 0.9f, 1.1f, 1.0f, 0.8f)
    val q = Array(0.0f, 0.1f, 0.3f, 0.2f, 1.0f, 1.0f, 0.7f, 1.2f)
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val codes = PqKernel.encodeRes(zero, book, new GenericArrayData(v), PqKernel.ZeroCid)
    assert(codes.toIntArray().toSeq === Seq(0, 1)) // sub0 near zeros, sub1 near ones
    val dtab = PqKernel.distTableRes(zero, book, new GenericArrayData(q), PqKernel.ZeroCid)
    val got = PqKernel.adc(dtab, codes)
    def sub(a: Array[Float], c: Array[Float], off: Int): Long = {
      val s = (0 until 4).map(i => math.pow(a(off + i).toDouble - c(off + i).toDouble, 2)).sum
      graft.plans.CentroidKernel.roundE6(s)
    }
    assert(got === sub(q, cents(0), 0) + sub(q, cents(1), 4))

    // a query that IS a codebook vector has ADC self-distance == 0 to its
    // own codes; injected near-dups rank their source first
    val e = Synth.embCorpus(spark, dir)
    val qs = e.filter(col("vec_id") >= 1000000L).limit(5)
    val top = SimilarityOps.topK(e, qs, 1, score = VecScore.Pq()).collect()
    top.foreach { r =>
      assert(r.getLong(1) === r.getLong(0) - 1000000L, "PQ top-1 should be the source vector")
    }
  }

  test("IVF-PQ residual encoding: recall vs exact L2 at least raw-PQ full-scan parity") {
    val e = Synth.embCorpus(spark, dir)
    val qs = e.filter(col("vec_id") % 100 === 0)
    val k = 10
    // exact squared-L2 ground truth on the driver (test-scale corpus)
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qids = qs.collect().map(_.getLong(0))
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      s
    }
    val truth: Map[Long, Set[Long]] = qids.map { q =>
      q -> vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (l2(vecs(q), v), id) }.sortBy(t => (t._1, t._2))
        .take(k).map(_._2).toSet
    }.toMap
    def recall(got: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = got.groupBy(_.getLong(0))
      qids.map { q =>
        byQ.getOrElse(q, Array.empty).map(_.getLong(1)).toSet
          .intersect(truth(q)).size.toDouble / k
      }.sum / qids.length
    }
    val rIvfpq = recall(SimilarityOps.topK(e, qs, k, VecCandidates.Ivf(), VecScore.Pq()).collect())
    val rRawPq = recall(SimilarityOps.topK(e, qs, k, score = VecScore.Pq()).collect())
    info(f"recall: residual IVF-PQ $rIvfpq%.3f vs raw full-scan PQ $rRawPq%.3f")
    // residual codewords quantize within-list differences, which buys back
    // (and here exceeds) what the nprobe/K list restriction costs vs a
    // FULL corpus scan with the raw codebook
    assert(rIvfpq >= rRawPq,
      f"residual IVF-PQ recall $rIvfpq%.3f below raw-PQ full-scan $rRawPq%.3f")
    // absolute floor: ksub=16 codewords over 8 subspaces is deliberately
    // coarse (32x compression); ~0.19 measured at this corpus/k
    assert(rIvfpq > 0.1, f"residual IVF-PQ recall $rIvfpq%.3f implausibly low")
  }

  test("boilerplateChunks: shared chunks across docs are flagged, within-doc repeats are not") {
    val s = spark; import s.implicits._
    def words(tag: String, n: Int): String = (0 until n).map(i => s"$tag$i").mkString(" ")
    val shared = words("boil", 8)
    // d1: shared + unique; d2: shared + unique; d3: one chunk repeated
    // twice within the SAME doc only (must not count as boilerplate);
    // d4: 7 words -> no full chunk -> absent from output
    val corpus = Seq(
      (1L, shared + " " + words("a", 8)),
      (2L, shared + " " + words("b", 16)),
      (3L, words("c", 8) + " " + words("c", 8)),
      (4L, words("d", 7))).toDF("doc_id", "text")
    val got = DedupOps.boilerplateChunks(corpus)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      1L -> ((2L, 1L, 500L)),
      2L -> ((3L, 1L, 333L)),
      3L -> ((2L, 0L, 0L))))

    // kernel chunk hash = mod-chain of token hashes (independent recompute)
    val P = graft.core.TextHash.P
    val text = "alpha beta gamma delta eps zeta eta theta iota"
    val toks = text.split(" ")
    val expect = toks.take(8).foldLeft(0L) { (h, tok) =>
      val cps = tok.codePoints().toArray
      (h * 1000003L + graft.core.TextHash.tokenHash(cps, 0, cps.length) % P) % P
    }
    assert(graft.core.TextHash.wordChunkHashes(text, 8).toSeq === Seq(expect))
  }

  test("pages invariant: extracted text is byte-identical to the html payload per url") {
    // the north-rule checksum contract: for every url, the text column is
    // exactly the html body bytes (extraction is lossless), enforced by
    // comparing sha256 over the DISTRIBUTED frame, not a sampled subset
    val mismatches = Synth.pages(spark, dir)
      .select(col("url"),
        sha2(col("text"), 256).as("text_sha"),
        sha2(decode(expr(
          "substring(html, 13, length(html) - 26)"), "UTF-8"), 256).as("body_sha"))
      .filter(col("text_sha") =!= col("body_sha"))
      .count()
    assert(mismatches === 0L)
    assert(Synth.pages(spark, dir).select("url").distinct().count() ===
      Synth.pages(spark, dir).count(), "url must be unique per page")
  }

  test("HLL sketch: registers bounded, estimate within the standard error envelope") {
    val s = spark; import s.implicits._
    // 20000 seeded-uniform distinct hashes in the 61-bit fingerprint range
    // (i * constant would carry i's trailing zeros into the rank and skew
    // the registers — the sketch needs hash-uniform input, which
    // docFingerprint provides in production)
    val rnd = new scala.util.Random(42)
    val hashes = Iterator.continually(rnd.nextLong() & ((1L << 61) - 1))
      .distinct.take(20000).map(("g", _)).toSeq.toDF("g", "fp")
    val r = SketchOps.hllDistinct(hashes, "g", col("fp")).collect()(0)
    val est = r.getLong(3) / 1000.0
    assert(r.getLong(1) === 64L, "all 64 registers should be populated at n=20000")
    // raw HLL at m=64: sigma ~ 13%; assert within 3 sigma
    assert(math.abs(est - 20000.0) / 20000.0 < 0.4, s"estimate $est too far from 20000")
  }

  test("HLL linear counting: low-cardinality estimates inside a tight envelope, branch live") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    def mkGroup(g: String, n: Int) = Iterator.continually(rnd.nextLong() & ((1L << 61) - 1))
      .distinct.take(n).map((g, _)).toSeq
    val ns = Map("a" -> 5, "b" -> 20, "c" -> 60, "d" -> 140)
    val df = ns.toSeq.flatMap { case (g, n) => mkGroup(g, n) }.toDF("g", "fp")
    val rows = SketchOps.hllDistinct(df, "g", col("fp")).collect()
      .map(r => r.getString(0) -> r).toMap
    ns.foreach { case (g, n) =>
      val r = rows(g)
      val est = r.getLong(3) / 1000.0
      // linear counting at these cardinalities: ~3-10% sigma — far tighter
      // than the raw estimator's documented 13%+ low-range bias
      assert(math.abs(est - n) / n < 0.25, s"group $g: est $est vs exact $n")
      // the branch actually fired: kernel agrees and says LC applies
      assert(r.getLong(3) === graft.core.Hll.estE3(r.getLong(2), r.getLong(1).toInt, 64))
      assert(64 - r.getLong(1) > 0 && r.getLong(2) >= graft.core.Hll.lcThreshold(64),
        s"group $g expected on the linear-counting branch")
    }
  }

  test("raster blur: 3x3 binomial stencil with x wrap and y clamp") {
    val s = spark; import s.implicits._
    val z = 7; val n = 1 << z
    val tiles = Seq((0L, 0L, 10L), (1L, 0L, 1L), (127L, 127L, 5L), (64L, 64L, 3L))
    val offs = Seq((-1, -1, 1), (0, -1, 2), (1, -1, 1), (-1, 0, 2), (0, 0, 4),
      (1, 0, 2), (-1, 1, 1), (0, 1, 2), (1, 1, 1))
    val expected = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for ((tx, ty, c) <- tiles; (dx, dy, w) <- offs) {
      val x = ((tx + dx) % n + n) % n; val y = ty + dy
      if (y >= 0 && y < n)
        expected((x, y)) = expected.getOrElse((x, y), 0L) + c * w
    }
    val got = SpatialOps.rasterBlur(tiles.toDF("tx", "ty", "cnt"), z).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expected.toMap)
    // identity check on an interior cell: kernel sums to 16x the input
    assert(got((64L, 64L)) === 3L * 4 && got((64L, 65L)) === 3L * 2)
  }

  test("geodesic DBSCAN: core/border/noise roles and min-pid cluster labels") {
    val s = spark; import s.implicits._
    // eps=150km, minPts=3 (>=2 neighbors). Quad at the origin (all core,
    // 55-79km apart); 20 at 1.8 degrees east reaches only corner 11
    // (144km) -> border; meridian chain 30-31-32 spaced 1 degree: only
    // the middle is core, ends are borders; 40 is alone -> noise.
    val pts = Seq(
      (10L, 0L, 0L), (11L, 5000000L, 0L), (12L, 0L, 5000000L),
      (13L, 5000000L, 5000000L), (20L, 18000000L, 0L),
      (30L, 100000000L, 0L), (31L, 100000000L, 10000000L),
      (32L, 100000000L, 20000000L), (40L, -300000000L, -300000000L))
      .toDF("pid", "lon_fix", "lat_fix")
    val got = SpatialOps.dbscanGeo(pts, 150000.0, 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got === Map(
      10L -> (("core", 10L)), 11L -> (("core", 10L)), 12L -> (("core", 10L)),
      13L -> (("core", 10L)), 20L -> (("border", 10L)),
      31L -> (("core", 31L)), 30L -> (("border", 31L)), 32L -> (("border", 31L)),
      40L -> (("noise", -1L))))
  }

  test("weighted shortest paths: cheaper multi-hop beats direct edge, round bound truncates") {
    val s = spark; import s.implicits._
    // direct 1->2 costs 10 but 1->3->2 costs 5; chain 1->5->6->7 probes
    // the round bound; 4 hangs off the min path
    val e = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 2L, 3L), (2L, 4L, 1L),
      (1L, 5L, 1L), (5L, 6L, 1L), (6L, 7L, 1L)).toDF("src", "dst", "w")
    val src = Seq(1L).toDF("node_id")
    def run(rounds: Int) = GraphOps.weightedDistance(e, src, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(10) === Map(1L -> 0L, 2L -> 5L, 3L -> 2L, 4L -> 6L,
      5L -> 1L, 6L -> 2L, 7L -> 3L))
    // 2 rounds: only <=2-edge paths; 4's best 2-edge path rides the
    // expensive direct edge, 7 (3 edges away) is absent
    assert(run(2) === Map(1L -> 0L, 2L -> 5L, 3L -> 2L, 4L -> 11L,
      5L -> 1L, 6L -> 2L))
  }

  test("triangle counts: orientation correctness on known + random graphs") {
    val s = spark; import s.implicits._
    // triangle 1-2-3 (one edge reversed+duplicated), square 4-5-6-7 with
    // diagonal 4-6 (two triangles), pendant 8, self-loop 9
    val fixed = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 5L),
      (5L, 6L), (6L, 7L), (7L, 4L), (4L, 6L), (7L, 8L), (9L, 9L))
      .toDF("src", "dst")
    val got = GraphOps.triangleCounts(fixed).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 2L, 5L -> 1L, 6L -> 2L, 7L -> 1L))
    // random graph vs brute force (includes hubs: ids mod-clustered)
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(120)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    val canon = edges.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    val nodes = canon.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    for {
      Seq(x, y, z) <- nodes.combinations(3)
      if canon((x, y)) && canon((y, z)) && canon((x, z))
      v <- Seq(x, y, z)
    } expected(v) = expected.getOrElse(v, 0L) + 1L
    val got2 = GraphOps.triangleCounts(edges.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 === expected.toMap)
  }

  test("KMV bottom-k sketch: exact sample, estimator envelope, small-group exact branch") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(23)
    val big = Iterator.continually(rnd.nextLong() & ((1L << 61) - 1))
      .distinct.take(20000).toSeq
    val small = Iterator.continually(rnd.nextLong() & ((1L << 61) - 1))
      .distinct.take(30).toSeq
    // duplicates must not perturb the distinct sample
    val df = (big.map(("big", _)) ++ small.flatMap(h => Seq(("small", h), ("small", h))))
      .toDF("g", "fp")
    val rows = SketchOps.kmvSketch(df, "g", col("fp"), 256).collect()
      .map(r => r.getString(0) -> r).toMap
    val rb = rows("big")
    val kth = big.sorted.apply(255)
    assert(rb.getLong(1) === 256L && rb.getLong(2) === kth)
    assert(rb.getLong(3) ===
      math.round(255.0 * SketchOps.KmvDomain.toDouble / kth.toDouble))
    val est = rb.getLong(3).toDouble
    // KMV sigma ~ 1/sqrt(k-2) ~ 6.3% at k=256; assert within ~4 sigma
    assert(math.abs(est - 20000.0) / 20000.0 < 0.25, s"estimate $est vs 20000")
    assert(rb.getLong(4) === 20000L)
    val rs = rows("small")
    assert(rs.getLong(1) === 30L && rs.getLong(3) === 30L && rs.getLong(4) === 30L)
    // the rank<=k filter must push down as WindowGroupLimit (partial
    // per-partition limits pre-shuffle), not a full window sort
    val plan = SketchOps.kmvSketch(df, "g", col("fp"), 256)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$plan")
  }

  test("KMV Jaccard: exact sketch-set function, estimator envelope, pair orientation") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(31)
    def draw(n: Int) = Iterator.continually(rnd.nextLong() & ((1L << 61) - 1))
      .distinct.take(n).toSeq
    val shared = draw(3000)
    val onlyA = draw(2000)
    val onlyB = draw(2000)
    val k = 64
    val df = ((shared ++ onlyA).map(("a", _)) ++ (shared ++ onlyB).map(("b", _))
      ++ draw(10).map(("c", _))).toDF("g", "h")
    val rows = SketchOps.kmvJaccard(df, "g", col("h"), k).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(rows.keySet === Set(("a", "b"), ("a", "c"), ("b", "c")))
    // brute-force the estimator's DEFINITION: bottom-k of the sketch union
    val skA = (shared ++ onlyA).sorted.take(k).toSet
    val skB = (shared ++ onlyB).sorted.take(k).toSet
    val m = (skA ++ skB).toSeq.sorted.take(k)
    val expCommon = m.count(h => skA(h) && skB(h)).toLong
    val ab = rows(("a", "b"))
    assert(ab.getLong(2) === k.toLong && ab.getLong(3) === expCommon)
    assert(ab.getLong(4) === expCommon * 1000 / k)
    // true J = 3000/7000 = 0.4286; sigma ~ sqrt(J(1-J)/k) ~ 6.2%
    assert(math.abs(ab.getLong(4) / 1000.0 - 3.0 / 7.0) < 0.2)
    // c's 10-element sketch: disjoint from a, union clipped back to k
    val ac = rows(("a", "c"))
    assert(ac.getLong(2) === k.toLong)
    assert(ac.getLong(3) === 0L && ac.getLong(4) === 0L)
  }

  test("HLL with configurable m=256: tighter envelope, column/kernel parity") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val hashes = Iterator.continually(rnd.nextLong() & ((1L << 61) - 1))
      .distinct.take(5000).map(("g", _)).toSeq.toDF("g", "fp")
    val r = SketchOps.hllDistinct(hashes, "g", col("fp"), m = 256).collect()(0)
    val est = r.getLong(3) / 1000.0
    assert(math.abs(est - 5000.0) / 5000.0 < 0.2, s"m=256 estimate $est vs 5000")
    assert(r.getLong(3) === graft.core.Hll.estE3(r.getLong(2), r.getLong(1).toInt, 256))
    // out-of-contract m fails loudly at the single chokepoint (beyond
    // 2^18 the reg_sum accumulator would silently overflow int64)
    intercept[IllegalArgumentException](graft.core.Hll.log2m(1 << 20))
    intercept[IllegalArgumentException](graft.core.Hll.log2m(8))
    // deterministic ln: close to libm ln everywhere in its domain
    (1 to 400).foreach { i =>
      val x = 1.0 + i * 2.5
      assert(math.abs(graft.core.Hll.lnDet(x) - math.log(x)) < 1e-8, s"lnDet($x)")
    }
  }

  test("asofJoin resolves duplicate right rows at equal (key, ts) to the max payload") {
    val s = spark; import s.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val left = Seq((1L, ts(5000000), "L")).toDF("k", "ts", "tag")
    // three right rows at the SAME (key, ts): the matched payload must be
    // the struct-lexicographic max (7), not an arbitrary survivor
    val right = Seq((1L, ts(4000000), 3L), (1L, ts(4000000), 7L), (1L, ts(4000000), 5L))
      .toDF("k", "ts", "v")
    val out = (1 to 5).map { _ =>
      HistoryOps.asofJoin(left, right.repartition(4), "k", "ts", Seq("v"))
        .collect().map(r => r.getLong(r.fieldIndex("r_v"))).toSeq
    }
    assert(out.forall(_ === Seq(7L)), s"nondeterministic asof match: $out")
  }

  test("urlNormHost strips userinfo and accepts RFC-3986 scheme characters") {
    val s = spark; import s.implicits._
    val got = Seq(
      "http://user@Host.Example.org/p",
      "svn+ssh://u:pw@Repo.example.COM:22/trunk",
      "chrome-extension://abcdef/page",
      "http://u@p@Evil.example.net/x", // userinfo delimits at the LAST @
      "no-scheme.example.org/x").toDF("u")
      .select(Fns.urlNormHost(col("u"))).collect().map(_.getString(0)).toSeq
    assert(got === Seq("host.example.org", "repo.example.com", "abcdef",
      "evil.example.net", ""))
  }

  test("canonicalizeUrl: case, default ports, userinfo, fragment, query order, empty path") {
    val s = spark; import s.implicits._
    val got = Seq(
      "HTTPS://User@Host.Example.ORG:443/a/b?z=1&a=2#frag",
      "https://host.example.org/a/b?a=2&z=1",
      "http://host.example.org:80/x",
      "http://host.example.org:8080/x",       // non-default port kept
      "https://host.example.org:80/x",        // 80 is NOT https' default
      "https://host.example.org",             // empty path -> "/"
      "ftp://Host.Example.org/f").toDF("u")
      .select(Fns.canonicalizeUrl(col("u"))).collect().map(_.getString(0)).toSeq
    assert(got === Seq(
      "https://host.example.org/a/b?a=2&z=1",
      "https://host.example.org/a/b?a=2&z=1",
      "http://host.example.org/x",
      "http://host.example.org:8080/x",
      "https://host.example.org:80/x",
      "https://host.example.org/",
      "ftp://host.example.org/f"))
  }

  test("asofJoin plans exactly one exchange and one window (no range explosion)") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value"))
    val plan = HistoryOps.asofJoin(clicks, views, "user_id", "ts", Seq("value"))
      .queryExecution.executedPlan.toString
    def count(node: String): Int = node.r.findAllIn(plan).length
    assert(count("Exchange hashpartitioning") === 1, s"expected 1 hash exchange:\n$plan")
    assert(count("Window \\[") === 1, s"expected 1 window:\n$plan")
    assert(!plan.contains("Join"), s"asof must not plan a join:\n$plan")
  }

  test("IdOps: renumber is dense in total order; snapshotDiff classifies multi-column changes") {
    val s = spark; import s.implicits._
    val df = Seq((5L, "b"), (1L, "a"), (9L, "a"), (3L, "b"))
      .toDF("id", "g").repartition(3)
    val got = IdOps.renumber(df, "g", "id")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got === Map(1L -> 1L, 9L -> 2L, 3L -> 3L, 5L -> 4L))

    val older = Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "z", 30L)).toDF("id", "a", "b")
    val newer = Seq((1L, "x", 10L), (2L, "y", 21L), (4L, "w", 40L)).toDF("id", "a", "b")
    val ops = IdOps.snapshotDiff(older, newer, "id", Seq("a", "b"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ops === Set((2L, "modify"), (3L, "delete"), (4L, "create")))
  }

  test("asofJoin equals brute-force latest-prior lookup, inclusive at equal ts") {
    val s = spark; import s.implicits._
    // synthetic frame with an equal-ts collision (k=1, ts=20) to pin the
    // inclusive <= semantics, and a left row before any right row (null)
    val left = Seq((1L, 10L, "l10"), (1L, 20L, "l20"), (1L, 35L, "l35"),
      (2L, 5L, "l5")).toDF("k", "ts", "ltag")
    val right = Seq((1L, 20L, 200L), (1L, 30L, 300L), (2L, 7L, 700L))
      .toDF("k", "ts", "pay")
    val got = HistoryOps.asofJoin(left, right, "k", "ts", Seq("pay"))
      .select("k", "ts", "ltag", "r_ts", "r_pay")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toSet
    assert(got === Set(
      (1L, 10L, "l10", None, None),
      (1L, 20L, "l20", Some(20L), Some(200L)),
      (1L, 35L, "l35", Some(30L), Some(300L)),
      (2L, 5L, "l5", None, None)))

    // events table vs a driver-side brute force
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tsu"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tsu"),
        col("event_id").as("vid"))
    val gotEv = HistoryOps.asofJoin(clicks, views, "user_id", "tsu", Seq("vid"))
      .collect().map(r => (r.getLong(0), Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
    val vlocal = views.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    clicks.collect().foreach { c =>
      val expect = vlocal.filter(v => v._1 == c.getLong(1) && v._2 <= c.getLong(2))
        .sortBy(_._2).lastOption.map(_._3)
      assert(gotEv(c.getLong(0)) === expect)
    }
  }

  test("bloom incremental dedup: confirmed == exact ground truth, bloom_hit superset, word table bounded") {
    val ss = spark; import ss.implicits._
    // seen keys 0..199 (×13 scatter), fresh = 30 true dups + 170 novel keys
    val seen = (0L until 200L).map(_ * 13L).toDF("fp")
    val freshKeys = (0L until 30L).map(_ * 13L) ++ (1000L until 1170L).map(_ * 7919L + 3L)
    val fresh = freshKeys.zipWithIndex.map { case (fp, i) => (i.toLong, fp) }.toDF("doc_id", "fp")
    val bloom = DedupOps.bloomBits(seen, "fp")
    assert(bloom.count() <= (1L << DedupOps.BloomLogM) / 32, "word table must stay tiny")
    val got = DedupOps.bloomIncrementalDedup(seen, fresh, "fp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.size === freshKeys.size, "one verdict row per fresh doc")
    val seenSet = (0L until 200L).map(_ * 13L).toSet
    got.foreach { case (id, hit, confirmed) =>
      val truly = seenSet.contains(freshKeys(id.toInt))
      assert(confirmed === (if (truly) 1L else 0L), s"doc $id exact verdict")
      if (truly) assert(hit === 1L, "a bloom filter can never false-negative")
      assert(hit >= confirmed)
    }
    // determinism: a second evaluation flags the identical set (fp-derived
    // positions, no RNG)
    val again = DedupOps.bloomIncrementalDedup(seen, fresh, "fp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again === got)
  }

  test("quadkey density: keys decode back to tileDensity's z/x/y cells") {
    val pts = Synth.points(spark, dir)
    val viaQuadkey = SpatialOps.quadkeyDensity(pts, 7).collect().map { r =>
      val qk = r.getString(0)
      assert(qk.length === 7 && qk.forall(c => c >= '0' && c <= '3'))
      val (tx, ty) = qk.foldLeft((0L, 0L)) { case ((x, y), c) =>
        val d = c - '0'; (x * 2 + (d & 1), y * 2 + (d >> 1))
      }
      ((tx, ty), r.getLong(1))
    }.toMap
    val viaTiles = SpatialOps.tileDensity(pts, 7).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(viaQuadkey === viaTiles)
  }

  test("geohash matches published vectors at odd and even precision") {
    val ss = spark; import ss.implicits._
    // Wikipedia's worked example (42.605, -5.603) -> ezs42, and the
    // docs-standard (57.64911, 10.40744) -> u4pruydqqvj
    def enc(lonDeg: Double, latDeg: Double, p: Int): String = {
      val df = Seq((1L, Math.round(lonDeg * 1e7), Math.round(latDeg * 1e7)))
        .toDF("pid", "lon_fix", "lat_fix")
      SpatialOps.geohashDensity(df, p).collect().head.getString(0)
    }
    assert(enc(-5.603, 42.605, 5) === "ezs42")
    assert(enc(10.40744, 57.64911, 8) === "u4pruydq")
    assert(enc(10.40744, 57.64911, 4) === "u4pr")
    // density counts conserve points and prefixes nest (parent-cell law)
    val pts = Synth.points(spark, dir)
    val g5 = SpatialOps.geohashDensity(pts, 5).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val g3 = SpatialOps.geohashDensity(pts, 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(g5.map(_._2).sum === pts.count())
    val rolled = g5.groupBy(_._1.take(3)).map { case (k, g) => k -> g.map(_._2).sum }
    assert(rolled === g3)
  }

  test("Count-Min sketch: bounded size, never underestimates, over-count within the CMS envelope") {
    val ss = spark; import ss.implicits._
    // zipf-ish skewed stream over 200 keys
    val rows = (1 to 200).flatMap(i => Seq.fill(200 / i + 1)(i.toLong * 31L + 7L))
    val df = rows.toDF("h")
    val cms = SketchOps.cmsSketch(df, col("h"))
    assert(cms.count() <= SketchOps.CmsD.toLong * SketchOps.CmsW)
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val est = SketchOps.cmsEstimate(truth.keys.toSeq.toDF("h"), col("h"), cms)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val envelope = math.ceil(math.E * rows.size / SketchOps.CmsW).toLong * 3
    truth.foreach { case (h, t) =>
      assert(est(h) >= t, s"CMS must never underestimate (key $h)")
      assert(est(h) <= t + envelope, s"over-count ${est(h) - t} beyond the CMS envelope $envelope")
    }
  }

  test("RunPipeline: end-to-end stages are durable; a second run executes nothing") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    val first = RunPipeline.run(spark, dir, out)
    assert(first("gate") === RunPipeline.GateBuckets, "fresh run executes every gate bucket")
    assert(first("tiles") === RunPipeline.TileBuckets)
    assert(first("routes") === RunPipeline.RouteBuckets)
    assert(first("clusterRounds") > 0, "the clustering loop must actually run")
    val survivors = spark.read.parquet(s"$out/survivors")
    val tiles = spark.read.parquet(s"$out/tilesum")
    assert(survivors.count() > 0 && tiles.count() > 0)
    // full resume: every stage finds its lineage complete
    val second = RunPipeline.run(spark, dir, out)
    assert(second.values.forall(_ === 0), s"resumed pipeline must be a no-op: $second")
    assert(spark.read.parquet(s"$out/survivors").count() === survivors.count())
    // the capstone invariant: pipeline survivors == the oracle'd operator
    // chain run in one shot
    val corpus = Synth.corpus(spark, dir)
    val gated = corpus.filter(Fns.qualityScore(col("text")).cast("long") >= 400 &&
      Fns.tokenCount(col("text")).cast("long") >= 20)
    val expect = DedupOps.dedupSurvivors(gated,
      DedupOps.duplicateClusters(DedupOps.minHashLshPairs(gated)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = survivors.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expect, "durable staged pipeline must equal the in-memory chain")
    // routes stage == the one-shot generic assembler (ordered members incl.)
    val (m, nn, ww, rr) = SparkEntry.routeInput(spark, dir)
    val routeExpect = AssemblyOps.assembleGeneric(m, nn, ww, rr)
      .withColumn("members", to_json(col("members"),
        java.util.Collections.singletonMap("ignoreNullFields", "false")))
      .collect().map(r => (r.getLong(0), r.getString(r.fieldIndex("members")))).toSet
    val routeGot = spark.read.parquet(s"$out/routes")
      .collect().map(r => (r.getLong(r.fieldIndex("rel_id")),
        r.getString(r.fieldIndex("members")))).toSet
    assert(routeGot === routeExpect,
      "durable routes stage must equal the in-memory generic assembly")
  }

  test("residual IVF-PQ beats raw full-scan PQ on clustered embeddings") {
    val ss = spark; import ss.implicits._
    // 512 vectors in 16 well-separated clusters (dim 64): centroid spread
    // O(1), within-cluster noise 0.05 — the regime residual quantization
    // exists for (raw codewords collapse a whole cluster to one point;
    // residual codewords resolve the within-cluster structure)
    val dim = 64; val nClusters = 16; val nVecs = 512
    def cent(c: Int, j: Int): Float =
      (((c * dim + j) * 2654435761L % 1000L) / 500.0 - 1.0).toFloat
    def noise(i: Int, j: Int): Float =
      (((i.toLong * dim + j) * 69069L % 100L) / 1000.0 - 0.05).toFloat
    val vecs = (0 until nVecs).map { i =>
      val c = i % nClusters
      (i.toLong, (0 until dim).map(j => cent(c, j) + noise(i, j)).toArray)
    }
    val e = vecs.toDF("vec_id", "embedding")
    val qs = e.filter(col("vec_id") % 50 === 0)
    val k = 10
    val lookup = vecs.toMap
    val qids = vecs.map(_._1).filter(_ % 50 == 0)
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => { val d = a(i).toDouble - b(i).toDouble; s + d * d })
    val truth = qids.map { q =>
      q -> vecs.filter(_._1 != q).map { case (id, v) => (l2(lookup(q), v), id) }
        .sortBy(t => (t._1, t._2)).take(k).map(_._2).toSet
    }.toMap
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = rows.groupBy(_.getLong(0))
      qids.map { q =>
        byQ.getOrElse(q, Array.empty).map(_.getLong(1)).toSet
          .intersect(truth(q)).size.toDouble / k
      }.sum / qids.length
    }
    val rRes = recall(SimilarityOps.topK(e, qs, k, VecCandidates.Ivf(), VecScore.Pq()).collect())
    val rRaw = recall(SimilarityOps.topK(e, qs, k, score = VecScore.Pq()).collect())
    info(f"clustered recall: residual IVF-PQ $rRes%.3f vs raw full-scan PQ $rRaw%.3f")
    assert(rRes > rRaw,
      f"residuals must beat raw PQ on clustered data ($rRes%.3f vs $rRaw%.3f)")
    assert(rRes >= 0.5, f"residual recall $rRes%.3f too low for separated clusters")
  }

  test("segmentCellCover: sampled path cells covered, degenerate keeps its cell, long hops dropped") {
    val ss = spark; import ss.implicits._
    val segs = Seq(
      (1L, 1L, 0L, 0L, 40000000L, 21000000L),              // diagonal across cells
      (2L, 1L, -5000000L, 3000000L, -5000000L, 3000000L),  // zero-length
      (3L, 1L, 0L, 0L, 900000000L, 0L))                    // continental hop
      .toDF("way_id", "seq", "x0", "y0", "x1", "y1")
    val got = SpatialOps.segmentCellCover(segs, 8, 50000000L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    def cellOf(x: Long, y: Long) =
      (math.min((x + 1800000000L) * 256 / 3600000000L, 255L),
       math.min((y + 900000000L) * 256 / 1800000000L, 255L))
    // no false negatives: every finely sampled point's cell is emitted
    val sampled = (0 to 4000).map { i =>
      cellOf(40000000L * i / 4000, 21000000L * i / 4000)
    }.toSet
    assert(sampled.subsetOf(got(1L)), "diagonal must cover every cell its points land in")
    assert(got(1L).size <= 4 * 7, "bounded by the bbox candidate set")
    assert(got(2L) === Set(cellOf(-5000000L, 3000000L)), "degenerate segment keeps exactly its cell")
    assert(!got.contains(3L), "a segment beyond the span contract is dropped")
    // clamped domain edge: a segment lying exactly on x = +180 deg bins
    // into the last cell, whose rect must absorb the clamp (inclusive hi)
    val edge = Seq((9L, 1L, 1800000000L, 0L, 1800000000L, 10000000L))
      .toDF("way_id", "seq", "x0", "y0", "x1", "y1")
    val gotEdge = SpatialOps.segmentCellCover(edge, 8, 50000000L)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(gotEdge === Set((255L, cellOf(0L, 0L)._2), (255L, cellOf(0L, 10000000L)._2)),
      "edge-clamped segment must keep the last-column cells its points bin into")
  }

  test("zorderLayout: disjoint sorted zkey ranges per partition, rows preserved") {
    val pts = Synth.points(spark, dir)
    val laid = SpatialOps.zorderLayout(pts, 12, 8)
    assert(laid.count() === pts.count(), "layout must not drop or duplicate rows")
    val perPart = laid.select("zkey").rdd.mapPartitionsWithIndex { (i, it) =>
      val keys = it.map(_.getLong(0)).toArray
      if (keys.isEmpty) Iterator.empty
      else Iterator((i, keys.head, keys.last, keys.zip(keys.tail).forall { case (a, b) => a <= b }))
    }.collect().sortBy(_._1)
    assert(perPart.nonEmpty && perPart.forall(_._4), "each partition must be zkey-sorted")
    perPart.zip(perPart.tail).foreach { case ((_, _, max1, _), (_, min2, _, _)) =>
      assert(max1 <= min2, "partition key ranges must be disjoint and ordered")
    }
    assert(perPart.length > 1, "range partitioner must actually split the data")
  }

  test("resumable clustering: budgeted run leaves durable rounds, resume completes and matches the in-memory loop") {
    val ss = spark; import ss.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ck").toString
    // a 12-link chain (forces multiple propagation rounds) + a triangle
    val pairs = ((1L to 11L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (101L, 102L), (100L, 102L)))
      .toDF("doc_a", "doc_b")
    // pre-emption right after round 0 committed: the resume must NOT
    // re-run init or append a duplicate round-0 lineage row
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val (_, r0, e0) = GraphOps.connectedComponentsResumable(edges, dir, maxRounds = 0)
    assert(r0 === 0 && e0 === 0)
    GraphOps.connectedComponentsResumable(edges, dir, maxRounds = 0)
    assert(spark.read.parquet(s"$dir/lineage").count() === 1L,
      "a resume whose newest durable round is 0 must not rewrite round 0")
    val (_, r1, e1) = GraphOps.connectedComponentsResumable(edges, dir, maxRounds = 2)
    assert(r1 === 2 && e1 === 2, "the budgeted invocation stops at its round cap")
    val lineageAfterBudget = spark.read.parquet(s"$dir/lineage").count()
    val (labels, total, _) = GraphOps.connectedComponentsResumable(edges, dir)
    assert(total > 2, "the chain needs more rounds than the budget")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = DedupOps.duplicateClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want, "durable loop must reproduce the in-memory labels")
    // resume continued from the durable state: rounds 1..2 were not redone
    val lineage = spark.read.parquet(s"$dir/lineage")
      .select("round").collect().map(_.getInt(0))
    assert(lineage.length === lineageAfterBudget + (total - 2),
      "each resumed round records exactly one new lineage row")
    assert(lineage.distinct.length === lineage.length, "no round is replayed")
    assert(lineage.max === total)
  }

  test("vectorizeRaster run compression: a horizontal bar is one run (zero cluster edges)") {
    val ss = spark; import ss.implicits._
    // a 20-cell bar plus a disjoint 3x2 blob: the bar must collapse to a
    // single run-node with NO vertical edges, the blob to two runs
    val bar = (0L until 20L).map(x => (x, 5L))
    val blob = for { x <- 30L until 33L; y <- 0L until 2L } yield (x, y)
    val got = SpatialOps.vectorizeRaster((bar ++ blob).toDF("bx", "by"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    def k(bx: Long, by: Long) = bx * 4194304L + by
    assert(got === Set(
      (k(0, 5), 0L, 5L, 19L, 5L, 20L),
      (k(30, 0), 30L, 0L, 32L, 1L, 6L)))
  }

  test("hilbertDensity: zero-shuffle encode, counts partition the point set") {
    val pts = Synth.points(spark, dir)
    // the encode itself (the layout-key projection) is a map-only stage —
    // asserted over a distinct-free input (Synth.points' own DISTINCT is
    // the only exchange in the full query besides the density groupBy)
    val enc = spark.range(1000)
      .select((col("id") % 3600 * 1000000 - 1800000000L).as("lon_fix"),
        (col("id") % 1800 * 1000000 - 900000000L).as("lat_fix"))
      .select(graft.plans.GeomExpressions.hilbertIndex(
        Fns.cellX(col("lon_fix"), 8), Fns.cellY(col("lat_fix"), 8), 8).as("h"))
    assert(!enc.queryExecution.executedPlan.toString.contains("Exchange"))
    val rows = SpatialOps.hilbertDensity(pts, 8, 8).collect()
    assert(rows.map(_.getLong(1)).sum === pts.count())
    // buckets are index ranges: all within [0, 2^(2*8-8))
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 256))
    // Column form equals the kernel on a sample
    pts.limit(200).select(col("lon_fix"), col("lat_fix"),
        graft.plans.GeomExpressions.hilbertIndex(
          Fns.cellX(col("lon_fix"), 8), Fns.cellY(col("lat_fix"), 8), 8))
      .collect().foreach { r =>
        val gx = math.min((r.getLong(0) + 1800000000L) * 256L / 3600000000L, 255L)
        val gy = math.min((r.getLong(1) + 900000000L) * 256L / 1800000000L, 255L)
        assert(r.getLong(2) === CellId.hilbert(8, gx, gy))
      }
  }

  test("passageChunks: window count, overlap, tail clamp, md5 identity") {
    val ss = spark; import ss.implicits._
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, ""),                 // no tokens -> no chunks
      (2L, "   "),              // spaces only -> no chunks
      (3L, "one two"),          // < width -> 1 short chunk
      (4L, words(32)),          // exactly width -> 1 chunk
      (5L, words(33)),          // width+1 -> 2 chunks (tail = 9 tokens)
      (6L, words(56)),          // width+stride -> 2 full-ish chunks
      (7L, words(81))           // 1 + ceil(49/24) = 4 chunks
    ).toDF("doc_id", "text")
    val got = SearchOps.passageChunks(docs, 32, 24)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byDoc = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byDoc === Map(3L -> 1, 4L -> 1, 5L -> 2, 6L -> 2, 7L -> 4))
    // tail chunk of doc 5 starts at token 25 and holds 9 tokens
    val tail5 = got.find(c => c._1 === 5L && c._2 === 1L).get
    assert(tail5._3 === 9L)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(tail5._4 === md5hex((25 to 33).map(i => s"w$i").mkString(" ")))
    // overlapping windows share the overlap tokens: doc 7 chunk 1 covers
    // tokens 25..56
    val c71 = got.find(c => c._1 === 7L && c._2 === 1L).get
    assert(c71._3 === 32L)
    assert(c71._4 === md5hex((25 to 56).map(i => s"w$i").mkString(" ")))
  }

  test("speedFilter: flags exactly the supersonic steps") {
    val ss = spark; import ss.implicits._
    // entity 1: 1° lon hops (~111 km) at dt=10000 s (~11 m/s, kept), then
    // a 20° teleport at dt=100 s (~22 km/s, flagged); entity 2: all slow
    val track = Seq(
      (1L, 0L, 0L, 0L), (1L, 10000L, 10000000L, 0L),
      (1L, 20000L, 20000000L, 0L), (1L, 20100L, 220000000L, 0L),
      (2L, 0L, 0L, 0L), (2L, 10000L, 0L, 10000000L)
    ).toDF("entity", "ts", "x", "y")
    val flagged = SpatialOps.speedFilter(track, 500000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(flagged.toSeq === Seq((1L, 20100L)))
    // threshold is exact-integer: a step at exactly vmax*dt is NOT flagged
    val dist = graft.core.Haversine.distance(0.0, 0.0, 1.0, 0.0)
    val distMm = math.round(dist * 1000.0)
    val edge = Seq((9L, 0L, 0L, 0L), (9L, 1L, 10000000L, 0L))
      .toDF("entity", "ts", "x", "y")
    assert(SpatialOps.speedFilter(edge, distMm).count() === 0)
    assert(SpatialOps.speedFilter(edge, distMm - 1).count() === 1)
  }

  test("linearScore Column equals kernel on the corpus; anchor parse fans 3x") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(300)
    docs.select(col("text"),
        graft.plans.TextHashExpressions.linearScore(col("text")).as("s"))
      .collect().foreach { r =>
        assert(r.getLong(1) === graft.core.TextHash.linearScore(r.getString(0)))
      }
    // every synthetic page carries exactly 3 anchors; the tag regexp must
    // recover all of them
    val pg = Synth.pagesLinked(spark, dir)
    val nTags = pg.select(explode(regexp_extract_all(
        decode(col("html"), "UTF-8"),
        lit("<a href=\"[^\"]*\">[^<]*</a>"), lit(0))).as("t")).count()
    assert(nTags === pg.count() * 3)
  }
}
