package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[DedupOps.bucketPairs]], the bucket self-join under every
  * near-duplicate candidate generator, and the SemDeDup pairs built on it:
  * the cap boundary, ordered pairs, string ids, carried columns, and the
  * join strategy of the final plan.
  */
class BucketPairsSpec extends AnyFunSuite with BeforeAndAfterAll {
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

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("bucketPairs keeps a bucket of exactly cap rows and drops one of cap + 1") {
    val s = spark; import s.implicits._
    val cap = 4
    // bucket 1 holds cap docs, bucket 2 one doc more
    val rows = ((1L to cap.toLong).map(d => (1L, d)) ++
      (11L to 11L + cap).map(d => (2L, d))).toDF("k", "doc_id")
    val got = pairs(DedupOps.bucketPairs(rows, Seq("k"), "doc_id", Some(cap)))
    val want = for (a <- 1L to cap; b <- a + 1 to cap) yield (a, b)
    assert(got === want.toSet)
    // without a cap both buckets pair
    assert(pairs(DedupOps.bucketPairs(rows, Seq("k"), "doc_id", None)).size ===
      cap * (cap - 1) / 2 + (cap + 1) * cap / 2)
  }

  test("bucketPairs emits each pair once as a < b, never a self pair") {
    val s = spark; import s.implicits._
    // two keys, a doc repeated in a bucket, and a doc in two buckets
    val rows = Seq((1L, 2L, 5L), (1L, 2L, 3L), (1L, 2L, 3L), (1L, 2L, 9L), (2L, 0L, 5L), (2L, 0L, 3L))
      .toDF("band", "band_key", "doc_id")
    val got = DedupOps.bucketPairs(rows, Seq("band", "band_key"), "doc_id", Some(64))
      .select("band", "doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall(r => r._2 < r._3), got.mkString(","))
    assert(got.toSet === Set((1L, 3L, 5L), (1L, 3L, 9L), (1L, 5L, 9L), (2L, 3L, 5L)))
    // the repeated doc 3 pairs once per copy; no copy pairs with itself
    assert(got.count(r => r._1 == 1L && r._2 == 3L && r._3 == 5L) === 2)
  }

  test("bucketPairs pairs string ids, as the edit-1 substitution join does") {
    val s = spark; import s.implicits._
    // deletion variants of "cat", "bat", "cut": "at" at pos 0 holds cat and bat
    val rows = Seq(("at", 0, "cat"), ("at", 0, "bat"), ("ct", 1, "cat"), ("ct", 1, "cut"),
      ("ca", 2, "cat")).toDF("key", "pos", "__s")
    val got = DedupOps.bucketPairs(rows, Seq("key", "pos"), "__s", None, ("sa", "sb"))
      .select("sa", "sb").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("bat", "cat"), ("cat", "cut")))
    val e1 = DedupOps.editOnePairs(Seq((1L, "cat"), (2L, "bat"), (3L, "cut"), (4L, "dog"))
      .toDF("id", "s"), "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(e1 === Set((1L, 2L, "sub"), (1L, 3L, "sub")))
  }

  test("bucketPairs carries columns from both sides") {
    val s = spark; import s.implicits._
    val rows = Seq((7L, 1L, 10L, "x"), (7L, 2L, 20L, "y"), (7L, 3L, 30L, "z"))
      .toDF("tok", "key", "c", "tag")
    val df = DedupOps.bucketPairs(rows, Seq("tok"), "key", None, ("key_a", "key_b"), Seq("c", "tag"))
    assert(df.columns.toSeq === Seq("tok", "key_a", "c_a", "tag_a", "key_b", "c_b", "tag_b"))
    val got = df.collect().map(r =>
      (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4), r.getLong(5), r.getString(6))).toSet
    assert(got === Set((1L, 10L, "x", 2L, 20L, "y"), (1L, 10L, "x", 3L, 30L, "z"),
      (2L, 20L, "y", 3L, 30L, "z")))
  }

  test("minHashLshPairs: the final plan broadcasts no band rows") {
    val s = spark; import s.implicits._
    val docs = (0L until 200L).map(i => (i, s"document ${i % 40} about tiles ${i % 7} and cells $i"))
      .toDF("doc_id", "text")
    val df = DedupOps.minHashLshPairs(docs)
    df.collect()
    // every operator of the final plan, inside query stages too
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.finalPhysicalPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case _ => p.children.flatMap(nodes)
    })
    val all = nodes(df.queryExecution.executedPlan)
    val broadcasts = all.filter {
      case _: BroadcastExchangeLike | _: BroadcastHashJoinExec => true
      case _ => false
    }
    assert(broadcasts.isEmpty, df.queryExecution.executedPlan.treeString)
    assert(all.exists(_.isInstanceOf[ShuffledHashJoinExec]))
    graft.core.CacheScope.releaseGlobal()
  }

  test("semDedupPairs finds planted near-identical pairs in small clusters") {
    val s = spark; import s.implicits._
    // 40 well-separated base vectors (axis-ish directions) + a planted
    // near-copy of every 4th: the quantizer puts copy next to original
    val dim = 16
    val base = (0 until 40).map { i =>
      val v = Array.fill(dim)(0.01f * ((i * 7 + 3) % 5))
      v(i % dim) = 1f; v((i / dim + 1) % dim) = 0.5f
      (i.toLong, v.toSeq)
    }
    val copies = base.filter(_._1 % 4 == 0).map { case (id, v) =>
      (id + 1000L, v.updated(0, v.head + 0.001f))
    }
    val emb = (base ++ copies).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val got = SimilarityOps.semDedupPairs(emb, 999000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // SemDeDup recall is cluster-local BY DESIGN: a pair whose copy
    // flips to a neighboring coarse cluster is missed (the documented
    // trade vs global LSH), so require most planted pairs, not all
    val want = copies.map(c => (c._1 - 1000L, c._1)).toSet
    assert(want.intersect(got).size * 10 >= want.size * 8,
      s"found only ${want.intersect(got).size}/${want.size}: missing ${want.diff(got)}")
    // and nothing below the threshold sneaks in: every reported pair is
    // a planted (original, copy) pair — the base vectors are separated
    assert(got.subsetOf(want), s"extra: ${got.diff(want)}")
  }

  test("semDedupPairs mega-cluster stays bounded and still finds dups") {
    val s = spark; import s.implicits._
    // 300 near-identical vectors: ONE coarse cluster of size 300 >
    // MaxSemCluster, so the LSH-refined path must engage — output pairs
    // must stay far below the 300*299/2 = 44850 all-pairs blowup while
    // still finding near-dups (identical vectors share every bucket, but
    // the per-(cid, table, bucket) cap skips oversized groups; the
    // perturbations spread vectors over nearby buckets)
    val dim = 16
    val emb = (0 until 300).map { i =>
      val v = Array.fill(dim)(1f)
      v(i % dim) = 1f + 0.002f * (i / dim)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val got = SimilarityOps.semDedupPairs(emb, 999900L).collect()
    assert(got.length < 44850 / 2, s"unbounded: ${got.length} pairs")
  }
}
