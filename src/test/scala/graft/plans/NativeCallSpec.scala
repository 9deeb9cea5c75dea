package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CellId, Hll, TextHash}
import graft.functions.Fns

/** Every native kernel builder, run generated (whole-stage codegen,
  * CODEGEN_ONLY) and interpreted (NO_CODEGEN, whole-stage off): both
  * modes give the same rows, the rows equal the kernel called directly,
  * and a null argument gives a null result.
  */
class NativeCallSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val longs = ArrayType(LongType)
  private val schema = new StructType()
    .add("x", LongType).add("y", LongType)
    .add("xs", longs).add("ys", longs).add("bxs", longs).add("bys", longs)
    .add("seg", longs).add("seg2", longs).add("rect", longs)
    .add("text", StringType)
    .add("vec", ArrayType(FloatType)).add("vec2", ArrayType(FloatType))
    .add("d", DoubleType)
    .add("pts", ArrayType(new StructType()
      .add("seq", LongType).add("x", LongType).add("y", LongType)))
    .add("dtab", longs).add("codes", ArrayType(IntegerType))
    .add("reg_sum", LongType).add("n_regs", LongType)
    .add("lon", LongType).add("lat", LongType)

  private def row(vs: Any*): Row = new GenericRowWithSchema(vs.toArray, schema)
  private def pts(ps: (Long, Long, Long)*) = ps.map { case (s, x, y) => Row(s, x, y) }

  // two valid rows and one row whose every argument is null
  private val rows = Seq(
    row(3L, 5L, Seq(0L, 10L, 10L, 0L), Seq(0L, 0L, 10L, 10L),
      Seq(5L, 15L, 15L, 5L), Seq(5L, 5L, 15L, 15L),
      Seq(-5L, 2L, 20L, 7L), Seq(0L, 10L, 10L, 0L), Seq(0L, 0L, 10L, 10L),
      "the quick brown fox jumps over the lazy dog the quick brown fox",
      Seq(0.5f, -0.25f, 1.0f), Seq(0.1f, 0.2f, 0.3f), 7.0,
      pts((0, 0, 0), (1, 5, 1), (2, 10, 0), (3, 15, 8), (4, 20, 0)),
      Seq(1L, 2L, 3L, 4L, 5L, 6L), Seq(2, 1), 1000L, 10L, 1799999999L, -900000000L),
    row(7L, 1L, Seq(0L, 20L, 25L, 3L, -4L), Seq(0L, -2L, 14L, 18L, 9L),
      Seq(100L, 110L, 110L, 100L), Seq(0L, 0L, 10L, 10L),
      Seq(1L, 1L, 2L, 2L), Seq(1L, 2L, 2L, 1L), Seq(-10L, -10L, 10L, 10L),
      "aaaa aaaa aaaa bbbb", Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f), 1.5,
      pts((0, 0, 0), (1, 1, 1)), Seq(10L, 20L, 30L, 40L), Seq(1, 0), 70000L, 16L,
      -1900000000L, 123456789L),
    row(Seq.fill(schema.length)(null): _*))

  // row values as the kernel's Catalyst-side arguments
  private def la(r: Row, c: String): ArrayData = new GenericArrayData(r.getAs[Seq[Long]](c).toArray)
  private def fa(r: Row, c: String): ArrayData = new GenericArrayData(r.getAs[Seq[Float]](c).toArray)
  private def ia(r: Row, c: String): ArrayData = new GenericArrayData(r.getAs[Seq[Int]](c).toArray)
  private def u(r: Row): UTF8String = UTF8String.fromString(r.getAs[String]("text"))
  private def l(r: Row, c: String): Long = r.getAs[Long](c)
  private def out(a: ArrayData): Seq[Long] = a.toLongArray().toSeq

  /** (name, builder over the frame's columns, the kernel called directly) */
  private val cases: Seq[(String, Column, Row => Any)] = Seq(
    ("pointInRings", GeomExpressions.pointInRings(col("x"), col("y"), col("xs"), col("ys")),
      r => RingKernel.contains(l(r, "x"), l(r, "y"), la(r, "xs"), la(r, "ys"))),
    ("convexIntersects", GeomExpressions.convexIntersects(col("xs"), col("ys"), col("bxs"), col("bys")),
      r => RingKernel.convexIntersects(la(r, "xs"), la(r, "ys"), la(r, "bxs"), la(r, "bys"))),
    ("segIntersectsRing", GeomExpressions.segIntersectsRing(col("seg"), col("xs"), col("ys")),
      r => RingKernel.segIntersectsRing(la(r, "seg"), la(r, "xs"), la(r, "ys"))),
    ("ringArea2", GeomExpressions.ringArea2(col("xs"), col("ys")),
      r => RingKernel.area2(la(r, "xs"), la(r, "ys"))),
    ("segIntersectionFix", GeomExpressions.segIntersectionFix(col("seg"), col("seg2")),
      r => out(RingKernel.segIntersectionFix(la(r, "seg"), la(r, "seg2")))),
    ("frechetDf2", GeomExpressions.frechetDf2(col("xs"), col("ys"), col("bxs"), col("bys")),
      r => RingKernel.discreteFrechet2(la(r, "xs"), la(r, "ys"), la(r, "bxs"), la(r, "bys"))),
    ("dtwD2", GeomExpressions.dtwD2(col("xs"), col("ys"), col("bxs"), col("bys")),
      r => RingKernel.dtw2(la(r, "xs"), la(r, "ys"), la(r, "bxs"), la(r, "bys"))),
    ("hilbertIndex", GeomExpressions.hilbertIndex(col("x"), col("y"), 4),
      r => CellId.hilbert(4, l(r, "x"), l(r, "y"))),
    ("simplifyPolyline", GeomExpressions.simplifyPolyline(col("pts"), 2L),
      r => {
        val in = new GenericArrayData(r.getAs[Seq[Row]]("pts")
          .map(p => InternalRow(p.getLong(0), p.getLong(1), p.getLong(2))).toArray[Any])
        val kept = PolylineKernel.simplify(in, 2L)
        (0 until kept.numElements()).map { i =>
          val p = kept.getStruct(i, 3); Row(p.getLong(0), p.getLong(1), p.getLong(2))
        }
      }),
    ("ringCentroidFix", GeomExpressions.ringCentroidFix(col("xs"), col("ys")),
      r => out(RingKernel.centroidFix(la(r, "xs"), la(r, "ys")))),
    ("hullStats", GeomExpressions.hullStats(col("xs"), col("ys")),
      r => out(RingKernel.hullStats(la(r, "xs"), la(r, "ys")))),
    ("chaikinAxis", GeomExpressions.chaikinAxis(col("xs"), 2),
      r => out(RingKernel.chaikin(la(r, "xs"), 2))),
    ("pqAdcScore", GeomExpressions.pqAdcScore(col("dtab"), col("codes")),
      r => PqKernel.adc(la(r, "dtab"), ia(r, "codes"))),
    ("clipSegRect", GeomExpressions.clipSegRect(col("seg"), col("rect")),
      r => out(ClipKernel.clipSegRect(la(r, "seg"), la(r, "rect")))),
    ("simHash16", TextHashExpressions.simHash16(col("text")),
      r => TextHash.simHash16(r.getAs[String]("text"))),
    ("simHash64", TextHashExpressions.simHash64(col("text")),
      r => TextHash.simHash64(r.getAs[String]("text"))),
    ("docFingerprint", TextHashExpressions.docFingerprint(col("text")),
      r => TextHash.docFingerprint(r.getAs[String]("text"))),
    ("linearScore", TextHashExpressions.linearScore(col("text")),
      r => TextHash.linearScore(r.getAs[String]("text"))),
    ("vecCosine", TextHashExpressions.vecCosine(col("vec"), col("vec2")),
      r => VecCosineKernel.cosine(fa(r, "vec"), fa(r, "vec2"))),
    ("pointWkt", TextHashExpressions.pointWkt(col("x"), col("y")),
      r => WktKernel.pointWkt(l(r, "x"), l(r, "y")).toString),
    ("lineGeoJson", TextHashExpressions.lineGeoJson(col("x"), col("xs"), col("ys")),
      r => GeoJsonKernel.lineFeature(l(r, "x"), la(r, "xs"), la(r, "ys")).toString),
    ("vecLshBuckets", TextHashExpressions.vecLshBuckets(col("vec"), 4, 8),
      r => out(VecLshKernel.buckets(fa(r, "vec"), 4, 8))),
    ("shingleHashes", TextHashExpressions.shingleHashes(col("text"), 256, 5),
      r => out(TextHashKernel.shingles(u(r), 256, 5))),
    ("shingleMinHash", TextHashExpressions.shingleMinHash(col("text"), 256, 5, 4),
      r => out(TextHashKernel.minhash(u(r), 256, 5, 4))),
    ("repNgramPm", TextHashExpressions.repNgramPm(col("text"), 256, 5),
      r => TextHashKernel.repNgramPm(u(r), 256, 5)),
    ("wordChunkHashes", TextHashExpressions.wordChunkHashes(col("text"), 2),
      r => out(TextHashKernel.wordChunks(u(r), 2))),
    ("slidingNgramHashes", TextHashExpressions.slidingNgramHashes(col("text"), 2),
      r => out(TextHashKernel.slidingNgrams(u(r), 2))),
    ("hllEstE3", HllExpressions.hllEstE3(col("reg_sum"), col("n_regs"), 16),
      r => Hll.estE3(l(r, "reg_sum"), l(r, "n_regs"), 16)),
    ("lnE6", HllExpressions.lnE6(col("d")), r => Hll.lnE6(r.getAs[Double]("d"))),
    ("cellX", Fns.cellX(col("lon"), 17), r => CellId.cellX(l(r, "lon"), 17)),
    ("cellY", Fns.cellY(col("lat"), 30), r => CellId.cellY(l(r, "lat"), 30)),
    // an int column is cast to the kernel's long parameter
    ("cellIdFromXY", Fns.cellIdFromXY(col("x").cast("int"), col("y"), 20),
      r => CellId.fromXY(l(r, "x"), l(r, "y"), 20)),
    ("cellId", Fns.cellId(col("lon"), col("lat"), 24),
      r => CellId.fromFix(l(r, "lon"), l(r, "lat"), 24)),
    ("mixId", Fns.mixId(col("lat")), r => TextHash.mixId(l(r, "lat"))))

  private def run(frame: DataFrame, wholeStage: Boolean, factoryMode: String): Seq[Row] = {
    spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
    spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    try {
      val q = frame.select(col("x") +: cases.map { case (n, c, _) => c.as(n) }: _*)
      val codegen = q.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
      assert(codegen === wholeStage, s"whole-stage codegen $codegen under $factoryMode")
      q.collect().toSeq.sortBy(r => if (r.isNullAt(0)) Long.MaxValue else r.getLong(0))
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("native kernels: generated and interpreted rows agree, equal the kernel, null in gives null out") {
    // an RDD-backed frame, so the optimizer cannot fold the projection
    // into a local relation on the driver
    val frame = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val generated = run(frame, wholeStage = true, "CODEGEN_ONLY")
    val interpreted = run(frame, wholeStage = false, "NO_CODEGEN")
    assert(generated === interpreted)
    val byX = generated.map(r => Option(r.get(0)) -> r).toMap
    rows.foreach { in =>
      val got = byX(Option(in.get(0)))
      cases.zipWithIndex.foreach { case ((name, _, kernel), i) =>
        val want = if (in.isNullAt(0)) null else kernel(in)
        assert(got.get(i + 1) === want, s"$name on $in")
      }
    }
  }
}
