package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the session-7 additions: the crawl frontier schedule,
  * gazetteer tagging and random walks. Checks are brute-force references
  * on seeded data (no Math.random) and structural invariants.
  */
class Round4SessionSevenSpec extends AnyFunSuite with BeforeAndAfterAll {
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

  test("frontierSchedule: dense per-host slots, politeness spacing, stalest first") {
    val s = spark; import s.implicits._
    val caps = Seq(
      ("https://a.example.org/x?b=2&a=1", 100L),
      ("HTTPS://A.Example.ORG:443/x?a=1&b=2", 900L), // same canon url, newer
      ("https://a.example.org/y", 50L),
      ("https://b.example.org/z", 10L))
      .toDF("url", "us")
      .select(col("url"), timestamp_micros(col("us")).as("warc_ts"))
    val got = CrawlOps.frontierSchedule(caps, 1000000L, 15000000L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.length === 3) // the duplicate capture collapsed
    val byHost = got.groupBy(_._2)
    // dense slots 0..n-1 per host and delay-spaced fetch times
    byHost.foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === rows.indices.map(_.toLong))
      rows.foreach(r => assert(r._4 === 1000000L + r._3 * 15000000L))
    }
    // stalest-first within host a: /y (50) before /x (max(100,900)=900)
    val a = byHost("a.example.org").sortBy(_._3).map(_._1)
    assert(a.head.contains("/y") && a(1).contains("/x"), a.mkString(","))
  }

  test("gazetteerTag counts multi-word names exactly and picks the max-mention winner") {
    val s = spark; import s.implicits._
    val gaz = Seq((3L, "SAUDI ARABIA", "MIDDLE EAST"), (7L, "CANADA", "AMERICA"),
      (9L, "INDIA", "ASIA")).toDF("gaz_key", "gaz_name", "gaz_group")
    val docs = Seq(
      (1L, "visit saudi arabia twice: Saudi Arabia. canada once"),
      (2L, "india india India vs CANADA canada"),
      (3L, "nothing here"),
      (4L, "canada india")) // tie at 1 each -> min key 7 wins
      .toDF("doc_id", "text")
    val got = SearchOps.gazetteerTag(docs, gaz)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(4)))).toMap
    assert(got === Map(1L -> ((3L, 2L)), 2L -> ((9L, 3L)), 4L -> ((7L, 1L))))
  }

  test("randomWalks: every hop follows an edge, walks stop at sinks, steps are dense") {
    val s = spark; import s.implicits._
    // 0 -> {1, 2}; 1 -> {2}; 2 is a sink
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("src", "dst")
    val rows = GraphOps.randomWalks(edges, 2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val edgeSet = Set((0L, 1L), (0L, 2L), (1L, 2L))
    val byWalk = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // 2 walks per node with out-edges (nodes 0 and 1) = 4 walks
    assert(byWalk.size === 4, byWalk.keys.toSeq.sorted.mkString(","))
    byWalk.foreach { case (wid, path) =>
      assert(path.map(_._2).toSeq === (0L until path.length).toSeq, s"walk $wid gaps")
      path.sliding(2).foreach {
        case Array(a, b) => assert(edgeSet((a._3, b._3)), s"walk $wid: ${a._3}->${b._3}")
        case _ =>
      }
      // a walk only ends early at the sink
      if (path.length < 4) assert(path.last._3 === 2L, s"walk $wid stopped at ${path.last._3}")
    }
  }
}
