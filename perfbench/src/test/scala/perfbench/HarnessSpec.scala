package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val dir = java.nio.file.Files.createTempDirectory("perfbench-spec").toString
  private lazy val spark = Session.start(2, dir)
  import spark.implicits._

  override def afterAll(): Unit = Session.stop(spark)

  private def frame: DataFrame =
    (1 to 500).map(i => (i.toLong, i * 0.1, s"s$i", Map(i % 7 -> i * 1.5))).toDF("k", "d", "s", "m")

  test("checksum does not depend on row order or partitioning") {
    val want = Checksum.of(frame)
    assert(want.rows == 500)
    assert(Checksum.of(frame.orderBy(col("k").desc)) == want)
    assert(Checksum.of(frame.repartition(7, col("s"))) == want)
    assert(Checksum.of(frame.coalesce(1)) == want)
  }

  test("checksum rounds floats to 6 decimals, and sees every column") {
    val want = Checksum.of(frame)
    assert(Checksum.of(frame.withColumn("d", col("d") + lit(1e-9))) == want)
    assert(Checksum.of(frame.withColumn("d", col("d") + lit(1e-3))) != want)
    assert(Checksum.of(frame.withColumn("s", concat(col("s"), lit("x")))) != want)
    assert(Checksum.of(frame.filter(col("k") =!= 3)).rows == 499)
  }

  test("a query that throws or returns the wrong output counts as failed, not as a time") {
    val wl = new Workload {
      def prepare(s: SparkSession): Unit = ()
      def order(pass: Int): Seq[String] = Seq("good", "wrong", "throws")
      def build(s: SparkSession, q: String): DataFrame = q match {
        case "throws" => throw new IllegalStateException("boom")
        case "wrong" => frame.limit(3)
        case _ => frame
      }
      def check(q: String, got: Checksum.Result): Option[String] =
        if (got.rows == 500) None else Some(s"$q: ${got.rows} rows")
      def inputRows(q: String): Long = 500
    }
    val h = new Harness(wl, 2)
    h.start(dir)
    val p = h.pass(0, traced = false)
    val runs = p("queries").asInstanceOf[Seq[Map[String, Any]]]
    assert(h.attempted == 3 && h.failed == 2)
    assert(runs.map(r => r("name") -> r("ok")) == Seq("good" -> true, "wrong" -> false, "throws" -> false))
    assert(h.errors.exists(_.contains("IllegalStateException")))
  }
}
