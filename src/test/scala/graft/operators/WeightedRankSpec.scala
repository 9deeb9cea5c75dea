package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Weighted PageRank: weights steer the walk (heavy edge outranks
  * light), and all-equal weights reduce to the unweighted operator.
  */
class WeightedRankSpec extends AnyFunSuite with BeforeAndAfterAll {
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

  test("a heavy out-edge concentrates rank; unit weights match pageRank") {
    val s = spark; import s.implicits._
    val weighted = Seq((0L, 1L, 9L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 0L, 1L))
      .toDF("src", "dst", "w")
    val got = GraphOps.pageRank(weighted, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) > got(2L),
      s"the w=9 target must outrank the w=1 target: $got")
    val unit = weighted.drop("w")
    val gotUnit = GraphOps.pageRank(unit, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ones = unit.withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val gotOnes = GraphOps.pageRank(ones,
      iterations = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotOnes === gotUnit,
      "unit weights must reproduce the unweighted operator exactly")
    // the same through the distributed loop: an explicit w = 1 column
    // and the unweighted list's implied one give the same ranks
    val sc = new graft.core.CacheScope
    def viaLoop(e: org.apache.spark.sql.DataFrame) =
      GraphOps.rankLoop(GraphOps.rankEdges(e, sc), None, 3, sc)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loopOnes = viaLoop(ones)
    assert(loopOnes === viaLoop(unit),
      "unit weights must reproduce the unweighted loop exactly")
    assert(loopOnes === gotUnit)
    sc.release()
  }
}
