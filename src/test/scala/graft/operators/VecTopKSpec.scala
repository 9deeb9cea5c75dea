package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TextHash
import graft.operators.SimilarityOps.{VecCandidates, VecScore}
import graft.plans.{CentroidKernel, PqKernel}
import graft.sources.Synth

/** Every candidate step × scorer pairing of [[SimilarityOps.topK]] on the
  * near-dup-planted embedding corpus: dense ranks, scores equal to the
  * scorer applied to the pair on the driver, the exact pairing equal to a
  * driver brute force, and the unsupported pairing rejected.
  */
class VecTopKSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

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

  private val k = 5
  private val ceilE6 = 990000L

  test("topK: every candidates x score pairing ranks densely and scores each pair as its scorer") {
    val e = Synth.embCorpus(spark, dir)
    val queries = e.filter(col("vec_id") % 25 === 0)
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qids = queries.collect().map(_.getLong(0)).toSeq
    val n = vecs.size.toLong
    def residue(mod: Long): Seq[Long] =
      vecs.keys.filter(id => TextHash.mixId(id) % mod == 3L % mod).toSeq.sorted

    // the scorers, rebuilt on the driver from their documented sample rules
    def cosE6(q: Long, v: Long): Long =
      CentroidKernel.roundE6(TextHash.cosine(vecs(v), vecs(q)))
    val quantizer: CentroidKernel.Cents = {
      val kTarget = math.max(1L, math.min(SimilarityOps.IvfMaxCentroids.toLong,
        math.ceil(math.sqrt(n.toDouble)).toLong))
      residue(math.max(n / kTarget, 1L)).map(id => (id, vecs(id))).toArray
    }
    def pqScore(cents: CentroidKernel.Cents): (Long, Long) => Long = {
      val sample = residue(math.max(n / SimilarityOps.PqKsub, 1L)).take(SimilarityOps.PqKsub)
      val book = PqKernel.ResBook(sample.map { id =>
        PqKernel.residual(vecs(id), CentroidKernel.byId(cents, CentroidKernel.nearestId(cents, vecs(id))))
      }.toArray, 8)
      (q, v) => {
        // the pair is scored against the list the corpus vector lives on
        val cid = CentroidKernel.nearestId(cents, vecs(v))
        PqKernel.adc(PqKernel.distTableRes(cents, book, new GenericArrayData(vecs(q)), cid),
          PqKernel.encodeRes(cents, book, new GenericArrayData(vecs(v)), cid))
      }
    }
    val pqRaw = pqScore(PqKernel.zeroCentroid(vecs.head._2.length))
    val pqIvf = pqScore(quantizer)

    /** Exhaustive top-k on the driver: (qid, nid, rank, score). */
    def bruteForce(score: (Long, Long) => Long, descending: Boolean,
                   keep: Long => Boolean): Set[(Long, Long, Long, Long)] =
      qids.flatMap { q =>
        vecs.keys.filter(_ != q).map(v => (v, score(q, v))).filter(p => keep(p._2)).toSeq
          .sortBy { case (v, s) => (if (descending) -s else s, v) }
          .take(k).zipWithIndex.map { case ((v, s), i) => (q, v, i + 1L, s) }
      }.toSet

    val allCandidates = Seq(VecCandidates.All, VecCandidates.Lsh(),
      VecCandidates.Lsh(broadcastQueries = false), VecCandidates.Ivf())
    val allScores = Seq(VecScore.Cosine(), VecScore.Cosine(below = Some(ceilE6)), VecScore.Pq())
    for (cands <- allCandidates; score <- allScores) {
      val label = s"$cands x $score"
      (cands, score) match {
        case (_: VecCandidates.Lsh, _: VecScore.Pq) =>
          intercept[IllegalArgumentException](SimilarityOps.topK(e, queries, k, cands, score))
        case _ =>
          val df = SimilarityOps.topK(e, queries, k, cands, score)
          val scoreCol = if (score.isInstanceOf[VecScore.Pq]) "adist_e6" else "cos_e6"
          assert(df.columns.toSeq === Seq("qid", "nid", "rank", scoreCol), label)
          val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          assert(got.nonEmpty, label)
          got.groupBy(_._1).foreach { case (q, rows) =>
            assert(rows.map(_._3).sorted.toSeq === (1L to rows.length.toLong), s"$label q=$q")
            assert(rows.length <= k && rows.map(_._2).distinct.length === rows.length, s"$label q=$q")
          }
          val scorer: (Long, Long) => Long = (cands, score) match {
            case (_, _: VecScore.Cosine) => cosE6
            case (VecCandidates.Ivf(_, _), _) => pqIvf
            case _ => pqRaw
          }
          got.foreach { case (q, v, _, s) =>
            assert(v != q, label)
            assert(s === scorer(q, v), s"$label ($q, $v)")
          }
          score match {
            case VecScore.Cosine(Some(c)) =>
              assert(got.forall(_._4 < c), label)
            case _ =>
          }
          if (cands == VecCandidates.All) {
            val keep: Long => Boolean = score match {
              case VecScore.Cosine(Some(c)) => _ < c
              case _ => _ => true
            }
            assert(got.toSet === bruteForce(scorer, !score.isInstanceOf[VecScore.Pq], keep), label)
          }
      }
    }
  }

  test("hardNegatives: nothing at/above the ceiling, dense ranks, and " +
      "exclusion happens before the rank") {
    val s = spark; import s.implicits._
    val dim = 8
    // query 0; 3 near-copies (positives, cos ~ 1) and 5 spread vectors
    val base = Array.fill(dim)(1f)
    val rows = Seq((0L, base.toSeq)) ++
      (1 to 3).map(i => (i.toLong, base.updated(0, 1f + 0.0001f * i).toSeq)) ++
      (4 to 8).map { i =>
        val v = Array.fill(dim)(0.2f); v(i % dim) = 1f; (i.toLong, v.toSeq)
      }
    val emb = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val got = SimilarityOps.topK(emb, emb.filter(col("vec_id") === 0L), 3,
        score = SimilarityOps.VecScore.Cosine(below = Some(999000L)))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.forall(_._3 < 999000L), got.mkString(","))
    // the 3 near-copies are excluded BEFORE ranking, so ranks 1..3 are
    // the best of the spread vectors — a post-filtered top-3 of the raw
    // ranking would have returned ZERO rows here
    assert(got.map(_._2).sorted.toSeq === Seq(1L, 2L, 3L), got.mkString(","))
    assert(got.forall(g => g._1 >= 4L), got.mkString(","))
  }
}
