package graft.api

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The typed facade must be a zero-cost re-view of the oracle-checked
  * DataFrame operators: same optimized plans, same rows, and the typed
  * row objects must round-trip the values.
  */
class TypedApiSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("typed PIP join: same optimized plan and rows as the untyped operator") {
    val pts = Typed.points(spark, dir)
    // .as[T] adds no operators: the typed view of ONE DataFrame instance
    // optimizes to the identical plan (separate operator calls differ
    // only in exprIds/broadcast handles, so compare over a shared frame)
    val df = graft.operators.SpatialOps.pip(spark, pts.toDF()).select(col("pid"), col("poly_id"))
    import Typed.hitEnc
    assert(df.as[PipHit].queryExecution.optimizedPlan.toString ===
      df.queryExecution.optimizedPlan.toString)
    val typed = Typed.pipJoin(spark, pts)
    val hits: Set[PipHit] = typed.collect().toSet
    assert(hits === df.collect().map(r => PipHit(r.getLong(0), r.getInt(1))).toSet)
    assert(hits.nonEmpty)
  }

  test("typed transformations compose: filter + map over GeoPoint, tile histogram totals") {
    val pts = Typed.points(spark, dir)
    // typed filter keeps the case-class view
    val north = pts.filter((p: GeoPoint) => p.lat_fix > 0)
    assert(north.collect().forall(_.lat_fix > 0))
    // histogram mass equals the point count
    val hist = Typed.tileHistogram(pts, 8)
    val total = hist.collect().map(_.cnt).sum
    assert(total === pts.count())
  }

  test("pages source is the BASELINE shape and text round-trips through html") {
    val pg = Typed.pages(spark, dir)
    assert(pg.schema.fieldNames.toSeq ===
      Seq("url", "warc_ts", "html", "text", "lang"))
    val rows = pg.take(5)
    rows.foreach { p =>
      val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
      assert(html.contains(p.text), "html must embed the extracted text")
      assert(p.url.startsWith("https://"))
    }
  }
}
