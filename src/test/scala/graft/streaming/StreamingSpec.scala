package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("streaming EndTime closes previous versions per key") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val input = MemoryStream[StreamingOps.Versioned]
    val q = StreamingOps.endTimeStream(input.toDS())
      .writeStream.format("memory").queryName("endtimes").outputMode("append").start()
    try {
      input.addData(
        StreamingOps.Versioned(1, 1, 100), StreamingOps.Versioned(1, 2, 200),
        StreamingOps.Versioned(2, 1, 150))
      q.processAllAvailable()
      input.addData(StreamingOps.Versioned(1, 3, 300), StreamingOps.Versioned(2, 2, 250))
      q.processAllAvailable()
      val rows = spark.sql("SELECT key, version, tsMicros, endMicros FROM endtimes")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows === Set(
        (1L, 1L, 100L, 200L),  // closed within first batch
        (1L, 2L, 200L, 300L),  // closed across batches (state carried)
        (2L, 1L, 150L, 250L)))
    } finally q.stop()
  }

  test("watermarked windowed counts aggregate a replayed event stream") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "event_type")
    val q = StreamingOps.windowedCounts(df, "ts", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("wins").outputMode("append").start()
    try {
      def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
      input.addData((ts(1), "click"), (ts(2), "click"), (ts(11), "view"))
      q.processAllAvailable()
      // advance watermark far enough to close the first windows
      input.addData((ts(60), "click"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, count FROM wins").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows.contains(("click", 2L))) // window [0,10) closed with 2 clicks
      assert(rows.contains(("view", 1L)))
    } finally q.stop()
  }

  test("streaming dedup keeps first occurrence within the watermark horizon") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingOps.dedupStream(df, "ts", "10 minutes")
      .writeStream.format("memory").queryName("deduped").outputMode("append").start()
    try {
      def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
      input.addData((ts(1), 1L, "alpha"), (ts(2), 2L, "beta"), (ts(3), 3L, "alpha"))
      q.processAllAvailable()
      input.addData((ts(4), 4L, "alpha"), (ts(5), 5L, "gamma"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM deduped").collect().map(_.getLong(0)).toSet
      // first occurrences only: the within-batch (3) and cross-batch (4)
      // duplicates of "alpha" are dropped while state is inside the horizon
      assert(ids === Set(1L, 2L, 5L))
    } finally q.stop()
  }

  test("file-source micro-batch e2e: parquet drops flow through windowed counts with a checkpoint") {
    val ss = spark
    import ss.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft_stream_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ck").toString
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    Seq((ts(1), "click"), (ts(2), "click"), (ts(11), "view"))
      .toDF("ts", "event_type").write.mode("append").parquet(inDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType)))
    val stream = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    assert(stream.isStreaming)
    val q = StreamingOps.windowedCounts(stream, "ts", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("filewins").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      // a later file drop advances the watermark and closes the first windows
      Seq((ts(60), "click")).toDF("ts", "event_type")
        .write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, count FROM filewins").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows.contains(("click", 2L)))
      assert(rows.contains(("view", 1L)))
      // the checkpoint recorded per-batch offsets (restart durability)
      assert(new java.io.File(s"$ckpt/offsets").list().nonEmpty)
    } finally q.stop()
  }

  test("streaming tile density == batch tileDensity per closed window (file-source micro-batches)") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions._
    val inDir = java.nio.file.Files.createTempDirectory("graft_tiles_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tiles_ck").toString
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    // geo-tagged page events: deterministic spread incl. tile-edge coords
    val batch1 = (0 until 40).map(i =>
      (ts(i % 8), (i * 97000000L) % 1800000000L - 900000000L,
        (i * 53000000L) % 1200000000L - 600000000L))
    val batch2 = (40 until 60).map(i =>
      (ts(i % 8), (i * 97000000L) % 1800000000L - 900000000L,
        (i * 53000000L) % 1200000000L - 600000000L))
    batch1.toDF("ts", "lon_fix", "lat_fix").write.mode("append").parquet(inDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("lon_fix",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lat_fix",
        org.apache.spark.sql.types.LongType)))
    val stream = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = StreamingOps.tileDensityStream(stream, "ts", 7, "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("tilewins").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      batch2.toDF("ts", "lon_fix", "lat_fix").write.mode("append").parquet(inDir)
      // a far-future drop advances the watermark and closes all windows
      Seq((ts(600), 0L, 0L)).toDF("ts", "lon_fix", "lat_fix")
        .write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val got = spark.sql("SELECT tx, ty, cnt FROM tilewins").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).groupBy(_._1)
        .view.mapValues(_.map(_._2).sum).toMap
      // batch twin over the same closed-window rows (all of batch1+batch2
      // fall in windows the watermark closed; the sentinel's window stays
      // open and is excluded from both sides)
      val expect = graft.operators.SpatialOps.tileDensity(
        (batch1 ++ batch2).toDF("ts", "lon_fix", "lat_fix"), 7)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === expect)
      assert(new java.io.File(s"$ckpt/offsets").list().nonEmpty)
    } finally q.stop()
  }

  test("streaming MinHash-LSH candidates == batch pair set; mega-buckets saturate with O(1) state") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val base = "a genuinely distinctive document about streaming lsh candidate generation over web text "
    val nearDups = Seq(
      (1L, base + "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, base + "alpha beta gamma delta epsilon zeta eta theta iota"),
      (3L, base + "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val unrelated = (10L until 20L).map(i =>
      (i, s"completely different page number $i talking about ${"x" * (i % 5).toInt} tiles and cells $i"))
    val rows = nearDups ++ unrelated
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.lshCandidateStream(input.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("lshcand").outputMode("append").start()
    try {
      // split across two micro-batches: cross-batch pairs must still emerge
      input.addData(rows.take(5))
      q.processAllAvailable()
      input.addData(rows.drop(5))
      q.processAllAvailable()
      val got = spark.sql("SELECT docA, docB FROM lshcand").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.operators.DedupOps.minHashLshPairs(rows.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === batch, s"stream $got vs batch $batch")
      assert(batch.nonEmpty && batch.contains((1L, 2L)))
    } finally q.stop()

    // TTL path (ProcessingTimeTimeout wiring): same pairs while state is
    // live. NB a TTL query never quiesces (the timeout keeps scheduling
    // batches, defeating both processAllAvailable and AvailableNow), so
    // poll the sink for the expected pair set with a bounded deadline.
    val batchPairs = graft.operators.DedupOps.minHashLshPairs(rows.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inputTtl = MemoryStream[(Long, String)]
    inputTtl.addData(rows)
    val qt = StreamingOps.lshCandidateStream(inputTtl.toDS().toDF("doc_id", "text"),
        stateTtlMs = 3600000L)
      .writeStream.format("memory").queryName("lshttl").outputMode("append").start()
    try {
      def sinkPairs() = spark.sql("SELECT DISTINCT docA, docB FROM lshttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val deadline = System.nanoTime() + 120e9.toLong
      while (sinkPairs() != batchPairs && System.nanoTime() < deadline)
        Thread.sleep(250)
      assert(sinkPairs() === batchPairs)
    } finally qt.stop()

    // saturation: identical docs beyond the cap emit at most C(cap, 2)
    // pairs per band and the bucket state collapses to a sentinel
    val cap = 4
    val many = (0L until 50L).map(i => (i, "same boilerplate everywhere on this mirror"))
    val input2 = MemoryStream[(Long, String)]
    val q2 = StreamingOps.lshCandidateStream(input2.toDS().toDF("doc_id", "text"), maxBucket = cap)
      .writeStream.format("memory").queryName("lshsat").outputMode("append").start()
    try {
      input2.addData(many.take(25)); q2.processAllAvailable()
      input2.addData(many.drop(25)); q2.processAllAvailable()
      val n = spark.sql("SELECT DISTINCT docA, docB FROM lshsat").count()
      assert(n <= cap.toLong * (cap - 1) / 2,
        s"saturated bucket leaked $n distinct pairs (cap $cap)")
    } finally q2.stop()
  }

  test("streaming PPJoin candidates ⊇ batch candidate stage; filters + saturation hold") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val rnd = new scala.util.Random(533)
    val vocab = (0 until 24).map(i => s"w$i")
    val docs = (0L until 60L).map(i =>
      i -> Seq.fill(6 + rnd.nextInt(14))(vocab(rnd.nextInt(24))).mkString(" ")) ++
      // guaranteed true pairs: J = 4/5 = 800‰ exactly, and a 9/10 pair
      Seq(100L -> "p0 p1 p2 p3 p4", 101L -> "p0 p1 p2 p3",
          102L -> "r0 r1 r2 r3 r4 r5 r6 r7 r8 r9",
          103L -> "r0 r1 r2 r3 r4 r5 r6 r7 r8")
    val thr = 800L
    val corpus = docs.toDF("doc_id", "text")
    val (toks, sz) = graft.operators.DedupOps.ppjoinToks(
      graft.operators.DedupOps.ppjoinTokArrays(corpus))
    val prefixRows = graft.operators.DedupOps.ppjoinPrefixRows(toks, sz, thr)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3).toLong))
    val batchCand = graft.operators.DedupOps.ppjoinCandidates(toks, sz, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the true pair set (batch end-to-end) must survive the stream's
    // candidate stage too — candidates are a superset of true pairs
    val truePairs = graft.operators.DedupOps.ppjoinPairs(corpus, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val input = MemoryStream[(String, Long, Long, Long)]
    val q = StreamingOps.ppjoinCandidateStream(
        input.toDS().toDF("tok", "doc_id", "sz", "rn"), thr)
      .writeStream.format("memory").queryName("ppjcand").outputMode("append").start()
    try {
      // split across micro-batches: cross-batch pairs must still emerge
      input.addData(prefixRows.take(prefixRows.length / 2).toSeq)
      q.processAllAvailable()
      input.addData(prefixRows.drop(prefixRows.length / 2).toSeq)
      q.processAllAvailable()
      val got = spark.sql("SELECT DISTINCT docA, docB FROM ppjcand").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // same predicates, same pairs: the stream applies exactly the batch
      // join's length + positional filters per shared prefix token
      assert(got === batchCand, s"stream $got vs batch $batchCand")
      assert(truePairs.subsetOf(got) && truePairs.nonEmpty)
    } finally q.stop()

    // saturation: a degenerate token shared by everyone caps at
    // C(cap, 2) pairs and the bucket state collapses to a sentinel
    val cap = 4
    val degenerate = (0L until 40L).map(i => ("t0", i, 10L, 1L))
    val input2 = MemoryStream[(String, Long, Long, Long)]
    val q2 = StreamingOps.ppjoinCandidateStream(
        input2.toDS().toDF("tok", "doc_id", "sz", "rn"), thr, maxBucket = cap)
      .writeStream.format("memory").queryName("ppjsat").outputMode("append").start()
    try {
      input2.addData(degenerate.take(20)); q2.processAllAvailable()
      input2.addData(degenerate.drop(20)); q2.processAllAvailable()
      val n = spark.sql("SELECT DISTINCT docA, docB FROM ppjsat").count()
      assert(n <= cap.toLong * (cap - 1) / 2,
        s"saturated token leaked $n distinct pairs (cap $cap)")
    } finally q2.stop()
  }

  test("streaming PIP counts == batch pipJoin rollup per closed window") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions._
    val inDir = java.nio.file.Files.createTempDirectory("graft_pip_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pip_ck").toString
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    // real sf0.001 points (they actually land in the hexagons), timestamped
    val base = graft.sources.Synth.points(spark, "/root/testdata/sf0.001")
      .limit(3000).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val stamped = base.zipWithIndex.map { case ((pid, x, y), i) => (ts(i % 8), pid, x, y) }
    stamped.take(2000).toSeq.toDF("ts", "pid", "lon_fix", "lat_fix")
      .write.mode("append").parquet(inDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("pid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lon_fix", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lat_fix", org.apache.spark.sql.types.LongType)))
    val stream = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = StreamingOps.pipCountsStream(stream, "ts", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("pipwins").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      stamped.drop(2000).toSeq.toDF("ts", "pid", "lon_fix", "lat_fix")
        .write.mode("append").parquet(inDir)
      Seq((ts(600), -1L, 0L, 0L)).toDF("ts", "pid", "lon_fix", "lat_fix")
        .write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val got = spark.sql("SELECT poly_id, count FROM pipwins").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).groupBy(_._1)
        .view.mapValues(_.map(_._2).sum).toMap
      val expect = graft.operators.SpatialOps.pip(spark,
          stamped.toSeq.toDF("ts", "pid", "lon_fix", "lat_fix"))
        .groupBy("poly_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      // the sentinel point (0,0) may itself fall in a hexagon, but its
      // window never closes, so both sides count only the stamped rows
      assert(got === expect)
      assert(got.values.sum > 0)
    } finally q.stop()
  }

  test("streaming radius join == batch withinRadiusGeo across micro-batches") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = ss.sqlContext
    // high-latitude ring + antimeridian seam + mid-lat scatter — the same
    // geometry classes the batch spec proves exact
    val polar = (0 until 24).map(i => (100L + i, (i * 150000000L) - 1790000000L, 899000000L + i * 1000))
    val seam = Seq((200L, 1799999000L, 100000000L), (201L, -1799999000L, 100100000L),
      (202L, 1799000000L, 100200000L), (203L, -1799000000L, 99900000L))
    val mid = (0 until 40).map(i => (300L + i, i * 40000000L - 800000000L, (i % 7) * 90000000L - 300000000L))
    val all = polar ++ seam ++ mid
    val queries = all.filter(p => Set(100L, 101L, 200L, 201L, 310L).contains(p._1))
      .toDF("pid", "lon_fix", "lat_fix")
    val input = MemoryStream[(Long, Long, Long)]
    val sdf = input.toDF().toDF("pid", "lon_fix", "lat_fix")
    val q = StreamingOps.radiusJoinStream(sdf, queries, 120000.0)
      .writeStream.format("memory").queryName("radiusj").outputMode("append").start()
    try {
      val (b1, b2) = all.splitAt(all.size / 2)
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
      val got = spark.sql("SELECT qid, pid, dist_e3 FROM radiusj").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = graft.operators.SpatialOps.withinRadiusGeo(
          all.toDF("pid", "lon_fix", "lat_fix"), queries, 120000.0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming interval join: live points vs static intervals == brute force, stateless across batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val bucket = 3600L; val maxSpan = 72L * 3600L
    // seeded intervals incl. one over-contract span (must be dropped) and
    // exact-boundary endpoints (closed-interval semantics)
    val rnd = Iterator.iterate(31L)(x => x * 6364136223846793005L + 1442695040888963407L)
      .map(_ >>> 33)
    val intervals = (0 until 60).map { i =>
      val st = (rnd.next() % 500L) * 1800L
      val dur = (rnd.next() % 90L + 1L) * 3600L
      (1000L + i, rnd.next() % 3L, st, st + dur)
    }
    val events = (0 until 200).map { i =>
      (i.toLong, rnd.next() % 3L, (rnd.next() % 1000L) * 1800L)
    } ++ Seq((900L, intervals.head._2, intervals.head._3), // exact start
             (901L, intervals.head._2, intervals.head._4)) // exact end
    val input = MemoryStream[(Long, Long, Long)]
    val sdf = input.toDF().toDF("lid", "key", "ts_us")
    val q = StreamingOps.intervalJoinStream(sdf,
        intervals.toDF("rid", "key", "start_us", "end_us"), bucket, maxSpan)
      .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    try {
      val (b1, b2) = events.splitAt(events.size / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = spark.sql("SELECT lid, rid, key, ts_us FROM ivj").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val expect = for {
        (lid, lk, ts) <- events
        (rid, rk, rs, re) <- intervals if re - rs <= maxSpan
        if lk == rk && rs <= ts && ts <= re
      } yield (lid, rid, lk, ts)
      assert(got.length === got.distinct.length) // single-bucket points: no dupes
      assert(got.toSet === expect.toSet)
      assert(expect.nonEmpty)
      assert(intervals.exists(iv => iv._4 - iv._3 > maxSpan)) // contract exercised
    } finally q.stop()
  }

  test("streaming snap == batch snapToWays across micro-batches, stateless") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = ss.sqlContext
    val rnd = new scala.util.Random(41)
    val segRows = (1 to 50).map { i =>
      val bx = rnd.between(-40000000L, 40000000L)
      val by = rnd.between(-40000000L, 40000000L)
      (i.toLong, 1L + (i % 3), bx, by,
        bx + rnd.between(-1500000L, 1500001L), by + rnd.between(-1500000L, 1500001L))
    }
    val ptRows = (1 to 300).map { i =>
      (i.toLong, rnd.between(-42000000L, 42000000L), rnd.between(-42000000L, 42000000L))
    }
    val segsDf = segRows.toDF("way_id", "seq", "x0", "y0", "x1", "y1")
    val r = 900000L
    val input = MemoryStream[(Long, Long, Long)]
    val sdf = input.toDF().toDF("pid", "x", "y")
    val q = StreamingOps.snapStream(sdf, segsDf, r, 8, 20000000L)
      .writeStream.format("memory").queryName("snapj").outputMode("append").start()
    try {
      val (b1, b2) = ptRows.splitAt(ptRows.size / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = spark.sql("SELECT pid, way_id, seq FROM snapj").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      assert(got.length === got.distinct.length) // one cell per point: no dupes
      // regrouped streaming hits == the batch operator's per-way counts
      val gotGrouped = got.groupBy(t => (t._1, t._2))
        .map { case (k, g) => (k._1, k._2, g.size.toLong) }.toSet
      val want = graft.operators.SpatialOps.snapToWays(
          ptRows.toDF("pid", "x", "y"), segsDf, r, 8, 20000000L)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(gotGrouped === want)
      assert(want.nonEmpty)
    } finally q.stop()
  }

  test("streaming geofence == batch transitions; state bounded by concurrent membership") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    // seeded random membership over 60 observations x 3 entities x 5 polys
    val rnd = Iterator.iterate(5L)(x => x * 6364136223846793005L + 1442695040888963407L)
      .map(_ >>> 33)
    val obs = for (e <- 1L to 3L; t <- 1L to 60L) yield {
      val polys = (10 to 14).filter(_ => rnd.next() % 3 == 0)
      StreamingOps.GeoObs(e, t, polys)
    }
    val input = MemoryStream[StreamingOps.GeoObs]
    val q = StreamingOps.geofenceStream(input.toDS())
      .writeStream.format("memory").queryName("geof").outputMode("append").start()
    try {
      // split by ts so per-entity order holds across micro-batches
      val (b1, b2) = obs.partition(_.ts <= 30)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = spark.sql("SELECT entity, ts, polyId, kind FROM geof").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3))).toSet
      val track = obs.map(o => (o.entity, o.ts)).toDF("entity", "ts")
      val hits = obs.flatMap(o => o.polys.map(p => (o.entity, o.ts, p)))
        .toDF("entity", "ts", "poly_id")
      val want = graft.operators.SpatialOps.geofenceTransitions(track, hits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3))).toSet
      assert(got === want)
      assert(got.exists(_._4 == "enter") && got.exists(_._4 == "exit"))
    } finally q.stop()
  }

  test("streaming LM scoring == batch lmScore across micro-batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val rnd = Iterator.iterate(17L)(x => x * 6364136223846793005L + 1442695040888963407L)
      .map(_ >>> 33)
    val vocab = (0 until 30).map(i => s"tok$i")
    def doc(len: Int) = (0 until len).map(_ => vocab((rnd.next() % 30).toInt)).mkString(" ")
    val train = (0 until 10).map(i => (i * 7L, doc(25)))
    val corpus = (0 until 30).map(i => (1000L + i, doc(12))) :+ (2000L, "solo")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.lmScoreStream(
        input.toDF().toDF("doc_id", "text"), train.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("lms").outputMode("append").start()
    try {
      val (b1, b2) = corpus.splitAt(corpus.size / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, n_bigrams, nll_e6 FROM lms").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = graft.operators.LmOps.lmScore(
          corpus.toDF("doc_id", "text"), train.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want)
      assert(got.size === 30)               // solo doc: no bigram, no row
      assert(got.map(_._3).size > 1)        // scores differentiate
    } finally q.stop()
  }

  test("streaming decontamination == batch decontaminate, stateless across micro-batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val passage = (1 to 12).map(i => s"leak$i").mkString(" ")
    val bench = Seq((1000L, s"benchmark intro $passage and outro"))
    val corpus = (0 until 40).map { i =>
      val body =
        if (i % 5 == 0) s"pre$i text $passage post$i"             // contaminated
        else (0 until 20).map(j => s"w${i}_$j").mkString(" ")     // clean
      (i.toLong, body)
    } :+ (99L, "too short")
    val input = MemoryStream[(Long, String)]
    val sdf = input.toDF().toDF("doc_id", "text")
    val q = StreamingOps.decontamStream(sdf, bench.toDF("doc_id", "text"), 8)
      .writeStream.format("memory").queryName("decon").outputMode("append").start()
    try {
      val (b1, b2) = corpus.splitAt(corpus.size / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, n_ngrams, n_hits, contam_pm FROM decon")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val want = graft.operators.DedupOps.decontaminate(
          corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"), 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === want)
      assert(got.exists(_._3 > 0) && got.exists(_._3 == 0)) // both classes present
      assert(!got.exists(_._1 == 99L))                      // no-window doc absent
    } finally q.stop()
  }

  test("streaming change application: snapshot after N micro-batches == batch mergeUpsert of the same rows") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val snapDir = java.nio.file.Files.createTempDirectory("graft_snap").toString + "/live"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_snap_ck").toString
    val input = MemoryStream[(Long, Long, String)]
    val changes = input.toDF().toDF("key", "version", "payload")
    val q = StreamingOps.applyChangesStream(changes, snapDir, "key", "version", ckpt)
    try {
      val b1 = Seq((1L, 1L, "a1"), (2L, 1L, "b1"), (3L, 1L, "c1"))
      val b2 = Seq((1L, 3L, "a3"), (2L, 2L, "b2"), (4L, 1L, "d1"))
      val b3 = Seq((1L, 2L, "a2-late"), (5L, 1L, "e1")) // stale version must lose
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
      val got = spark.read.parquet(snapDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val all = (b1 ++ b2 ++ b3).toDF("key", "version", "payload")
      val want = graft.operators.HistoryOps.mergeUpsert(
          all.limit(0), all, "key", "version")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got === want)
      assert(got.contains((1L, 3L, "a3")), "stale late version must not overwrite a newer one")
    } finally q.stop()
  }

  test("streaming tile-delta maintenance keeps snapshot + histogram in sync across batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    import graft.functions.Fns
    val root = java.nio.file.Files.createTempDirectory("graft_tdelta").toString
    val snapDir = s"$root/snap"; val histDir = s"$root/hist"; val ckpt = s"$root/ckpt"
    // initial snapshot: 5 points in distinct level-8 cells
    val init = Seq((1L, 100000000L, 100000000L), (2L, -300000000L, 200000000L),
      (3L, 500000000L, -400000000L), (4L, -700000000L, -100000000L),
      (5L, 900000000L, 300000000L)).toDF("pid", "lon_fix", "lat_fix")
    init.write.parquet(snapDir)

    val input = MemoryStream[StreamingOps.TileChange]
    val q = StreamingOps.tileDeltaStream(input.toDF(), snapDir, histDir, 8, ckpt)
    try {
      // batch 1: move pid 1, create pid 10, delete pid 2
      input.addData(
        StreamingOps.TileChange("modify", 1L, -1200000000L, 550000000L),
        StreamingOps.TileChange("create", 10L, 1300000000L, -650000000L),
        StreamingOps.TileChange("delete", 2L, null, null))
      q.processAllAvailable()
      // batch 2: modify the batch-1 CREATE, delete the batch-1 MOVE —
      // both need batch-1's outcome as their "old" state
      input.addData(
        StreamingOps.TileChange("modify", 10L, 200000000L, 250000000L),
        StreamingOps.TileChange("delete", 1L, null, null))
      q.processAllAvailable()

      val snap = spark.read.parquet(snapDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = Set((3L, 500000000L, -400000000L), (4L, -700000000L, -100000000L),
        (5L, 900000000L, 300000000L), (10L, 200000000L, 250000000L))
      assert(snap === want)

      // histogram equals a from-scratch recompute of the final snapshot
      def readHist() = spark.read.parquet(histDir)
        .select("bx", "by", "cnt").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val hist = readHist()
      val expect = want.toSeq.toDF("pid", "lon_fix", "lat_fix")
        .groupBy(Fns.cellX(col("lon_fix"), 8).as("bx"),
          Fns.cellY(col("lat_fix"), 8).as("by"))
        .agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(hist === expect)

      // at-least-once REPLAY of the last batch (foreachBatch contract):
      // the applied_batch guard must make both tables land unchanged
      val replay = Seq(
        StreamingOps.TileChange("modify", 10L, 200000000L, 250000000L),
        StreamingOps.TileChange("delete", 1L, null, null))
        .toDF("op", "pid", "new_lon_fix", "new_lat_fix")
      StreamingOps.applyTileDeltaBatch(replay, 1L, snapDir, histDir, 8)
      assert(readHist() === expect, "replayed batch must not double-apply the delta")
      val snap2 = spark.read.parquet(snapDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(snap2 === want, "snapshot re-apply must be idempotent")
    } finally q.stop()
  }

  test("streaming sessionization closes sessions by gap AND by event-time timeout") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val input = MemoryStream[StreamingOps.SessionEvent]
    def ev(user: Long, min: Int) = StreamingOps.SessionEvent(
      user, new java.sql.Timestamp(1704067200000L + min * 60000L))
    def us(min: Int) = (1704067200000L + min * 60000L) * 1000L
    val q = StreamingOps.sessionizeStream(input.toDS(), 30, "0 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // user 1: events at 0,5,10 then 120 -> first session closed by the
      // same-key gap; user 2: one event at 2, then silence -> closed only
      // by timeout once the watermark (driven by user 1) passes 2 + 30
      input.addData(ev(1, 0), ev(1, 5), ev(1, 10), ev(2, 2))
      q.processAllAvailable()
      input.addData(ev(1, 120))
      q.processAllAvailable()
      // one more batch so the watermark from min 120 fires user 2's timeout
      input.addData(ev(1, 125))
      q.processAllAvailable()
      val rows = spark.sql("SELECT userId, startUs, endUs, nEvents FROM sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows.contains((1L, us(0), us(10), 3L)), s"gap-closed session missing: $rows")
      assert(rows.contains((2L, us(2), us(2), 1L)), s"timeout-closed session missing: $rows")
    } finally q.stop()
  }

  test("streaming sessionization merges out-of-order and session-bridging late events") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val input = MemoryStream[StreamingOps.SessionEvent]
    def ev(user: Long, min: Int) = StreamingOps.SessionEvent(
      user, new java.sql.Timestamp(1704067200000L + min * 60000L))
    def us(min: Int) = (1704067200000L + min * 60000L) * 1000L
    val q = StreamingOps.sessionizeStream(input.toDS(), 30, "3 hours")
      .writeStream.format("memory").queryName("oos").outputMode("append").start()
    try {
      // user 3: 100 then LATE 95 (extends start backwards) then 60
      // (> gap before 95 -> its own session); user 4: 0 and 50 are two
      // open sessions until late 25 BRIDGES them into one
      input.addData(ev(3, 100), ev(4, 0), ev(4, 50))
      q.processAllAvailable()
      input.addData(ev(3, 95), ev(4, 25))
      q.processAllAvailable()
      input.addData(ev(3, 60))
      q.processAllAvailable()
      // drive the watermark (3h delay) far enough to finalize everything
      input.addData(ev(9, 500))
      q.processAllAvailable()
      input.addData(ev(9, 501))
      q.processAllAvailable()
      val rows = spark.sql("SELECT userId, startUs, endUs, nEvents FROM oos WHERE userId IN (3,4)")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows === Set(
        (3L, us(60), us(60), 1L),
        (3L, us(95), us(100), 2L),
        (4L, us(0), us(50), 3L)), s"got: $rows")
    } finally q.stop()
  }

  test("segmentCellCover is streaming-ready: stateless way->tile assignment on a live segment stream") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = ss.sqlContext
    val segs = Seq(
      (1L, 1L, 0L, 0L, 40000000L, 21000000L),
      (2L, 1L, -5000000L, 3000000L, -5000000L, 3000000L),
      (7L, 2L, 100000000L, -50000000L, 110000000L, -43000000L))
    val input = MemoryStream[(Long, Long, Long, Long, Long, Long)]
    val sdf = input.toDF().toDF("way_id", "seq", "x0", "y0", "x1", "y1")
    // the operator is pure explode+filter, so the SAME code plans as a
    // stateless streaming map — no watermark, late segments still correct
    val q = graft.operators.SpatialOps.segmentCellCover(sdf, 8, 50000000L)
      .writeStream.format("memory").queryName("segtiles").outputMode("append").start()
    try {
      input.addData(segs.take(2)); q.processAllAvailable()
      input.addData(segs.drop(2)); q.processAllAvailable()
      val got = spark.sql("SELECT way_id, seq, cell_x, cell_y FROM segtiles").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val want = graft.operators.SpatialOps.segmentCellCover(
          segs.toDF("way_id", "seq", "x0", "y0", "x1", "y1"), 8, 50000000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming CMS == batch sketch after the same rows; state bounded at d*w") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = ss.sqlContext
    val input = MemoryStream[Long]
    val q = StreamingOps.cmsStream(input.toDF().toDF("h"), "h")
      .writeStream.format("memory").queryName("cms").outputMode("update").start()
    try {
      val rows1 = (1 to 120).map(i => (i % 13).toLong * 31L + 7L)
      val rows2 = (1 to 80).map(i => (i % 7).toLong * 131L + 11L)
      input.addData(rows1); q.processAllAvailable()
      input.addData(rows2); q.processAllAvailable()
      // update mode re-emits touched counters: latest row per key wins
      val got = spark.sql("SELECT row_j, col_w, cnt FROM cms").collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val want = graft.operators.SketchOps.cmsSketch((rows1 ++ rows2).toDF("h"), col("h"))
        .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
      assert(got === want)
      assert(got.size <= graft.operators.SketchOps.CmsD * graft.operators.SketchOps.CmsW)
    } finally q.stop()
  }

  test("streaming HLL == batch SketchOps sketch after the same rows") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7L)
    val rows = (1 to 600).map { _ =>
      (s"g${rnd.nextInt(3)}", rnd.nextLong() & ((1L << 61) - 1)) }.distinct
    val expected = graft.operators.SketchOps
      .hllDistinct(rows.toDF("g", "fp"), "g", col("fp"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    val input = MemoryStream[(String, Long)]
    val q = StreamingOps.hllStream(input.toDS())
      .writeStream.format("memory").queryName("hll").outputMode("update").start()
    try {
      rows.grouped(97).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      // last update per group is the final sketch
      val got = spark.sql(
        """SELECT group, nRegs, regSum, estE3 FROM (
          |  SELECT *, row_number() OVER (PARTITION BY group ORDER BY regSum ASC) AS rn
          |  FROM hll) WHERE rn = 1""".stripMargin)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(got === expected, s"streaming sketch != batch sketch\n$got\n$expected")
    } finally q.stop()
  }

  test("micro-batch ANN serving: streaming query vectors against a static corpus via foreachBatch") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val dir = "/root/testdata/sf0.001"
    val corpus = graft.sources.Synth.embCorpus(ss, dir)
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val input = MemoryStream[Long]
    val q = input.toDS().toDF("qv")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val qids = batch.collect().map(_.getLong(0))
        if (qids.nonEmpty) {
          val queries = corpus.filter(corpus("vec_id").isin(qids: _*))
          val top = graft.operators.SimilarityOps.topK(corpus, queries, 1)
          results.synchronized {
            results ++= top.collect().map(r => (r.getLong(0), r.getLong(1)))
          }
        }
        ()
      }
      .start()
    try {
      // injected near-dups (vec_id >= 1000000): nearest neighbor is the source
      input.addData(1000000L, 1000010L)
      q.processAllAvailable()
      input.addData(1000020L)
      q.processAllAvailable()
      val got = results.synchronized(results.toMap)
      assert(got === Map(1000000L -> 0L, 1000010L -> 10L, 1000020L -> 20L), s"got $got")
    } finally q.stop()
  }

  test("streaming sessionization == batch gap rule on randomized arrival order") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val rnd = new scala.util.Random(20260817L)
    val base = 1704067200000L
    val events = (0 until 200).map { _ =>
      (rnd.nextInt(10).toLong, base + rnd.nextInt(2000) * 60000L)
    }.distinct
    // batch truth: per user, sorted, split on gaps > 30 min
    val expected = events.groupBy(_._1).flatMap { case (u, evs) =>
      val ts = evs.map(_._2 * 1000L).sorted
      val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var start = ts.head; var end = ts.head; var n = 1L
      ts.tail.foreach { t =>
        if (t - end > 1800000000L) { sessions += ((start, end, n)); start = t; end = t; n = 1 }
        else { end = t; n += 1 }
      }
      sessions += ((start, end, n))
      sessions.map { case (st, en, k) => (u, st, en, k) }
    }.toSet

    // stream the SAME events in random order across batches; the
    // watermark delay exceeds the whole span so nothing is late-dropped
    val shuffled = rnd.shuffle(events)
    val input = MemoryStream[StreamingOps.SessionEvent]
    val q = StreamingOps.sessionizeStream(input.toDS(), 30, "3000 minutes")
      .writeStream.format("memory").queryName("rndsess").outputMode("append").start()
    try {
      shuffled.grouped(37).foreach { batch =>
        input.addData(batch.map { case (u, ms) =>
          StreamingOps.SessionEvent(u, new java.sql.Timestamp(ms)) }: _*)
        q.processAllAvailable()
      }
      // sentinel far-future events flush every session past end + gap
      input.addData(StreamingOps.SessionEvent(99L,
        new java.sql.Timestamp(base + 10000L * 60000L)))
      q.processAllAvailable()
      input.addData(StreamingOps.SessionEvent(99L,
        new java.sql.Timestamp(base + 10001L * 60000L)))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT userId, startUs, endUs, nEvents FROM rndsess WHERE userId < 10")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === expected,
        s"missing: ${expected -- got}\nextra: ${got -- expected}")
    } finally q.stop()
  }

  test("streaming online Viterbi == batch hmmMapMatch across micro-batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val rnd = Iterator.iterate(23L)(x => x * 6364136223846793005L + 1442695040888963407L)
      .map(_ >>> 33)
    val pen = 1500000000000L
    // 4 entities x 9 obs x 2-3 candidates on 2 ways
    val cands = for {
      e <- 1L to 4L; t <- 0L until 9L
      c <- 0L until (2L + rnd.next() % 2)
    } yield StreamingOps.MmCandRow(e, t,
      rnd.next() % 2000000L, rnd.next() % 2000000L, rnd.next() % 2,
      rnd.next() % 1000000L)
    val input = MemoryStream[StreamingOps.MmCandRow]
    val q = StreamingOps.mapMatchStream(input.toDS(), pen)
      .writeStream.format("memory").queryName("mmatch").outputMode("append").start()
    try {
      // three micro-batches split on tidx so per-entity order holds
      for (r <- Seq(0L until 3L, 3L until 6L, 6L until 9L)) {
        input.addData(cands.filter(c => r.contains(c.tidx)))
        q.processAllAvailable()
      }
      val got = spark.sql(
          "SELECT entity, bestCost FROM mmatch WHERE nObs = 9").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = graft.operators.SpatialOps.hmmMapMatch(
          cands.toDF(), pen)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got === want)
      // incremental rows exist for every batch (3 per entity)
      assert(spark.sql("SELECT count(*) FROM mmatch").head.getLong(0) === 12L)
    } finally q.stop()
  }
}
