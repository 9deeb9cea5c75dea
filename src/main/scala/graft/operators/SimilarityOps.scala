package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftPlanBridge.cut
import graft.core.CacheScope
import graft.functions.Fns
import graft.plans.{CentroidKernel, PqKernel}
import graft.plans.GeomExpressions.{pqAdcScore, pqDistTableRes, pqEncodeRes, vecNearestCentroids}
import graft.plans.TextHashExpressions.{vecCosine, vecLshBuckets}

/** Nearest-neighbor search over an embedding column.
  *
  * Every top-k is one candidate step times one scorer ([[topK]]): the
  * candidates are every corpus vector, the vectors sharing a sign-LSH
  * bucket with the query, or the vectors on the query's nearest IVF
  * lists; the score is exact cosine or product-quantized squared-L2.
  * Every candidate step shares the one rank tail, so each pairing has
  * the same output contract.
  */
object SimilarityOps {

  /** Number of centroids the IVF coarse quantizer is bounded by. */
  val IvfMaxCentroids = 4096

  /** Number of codebook entries per PQ subspace. */
  val PqKsub = 16

  /** Where [[topK]]'s candidate pairs come from. No generator pairs a
    * query with its own vec_id.
    */
  sealed trait VecCandidates
  object VecCandidates {
    /** Every corpus vector against a BROADCAST query set: no shuffle of
      * the corpus, the exact answer. For small query sets.
      */
    case object All extends VecCandidates

    /** Multi-table sign-projection LSH: a corpus vector is a candidate of
      * a query when they share any of `tables` `bits`-bit bucket
      * signatures (native [[graft.plans.VecLshKernel.buckets]]). The
      * bucket join shuffles (tables × rows) narrow rows instead of
      * scoring the full corpus per query. Corpus-vs-corpus workloads
      * (|queries| ~ |emb|) pass `broadcastQueries = false`: the join
      * becomes a plain shuffle equi-join on (table, bucket). Cosine
      * scoring only — the banding reads the raw embedding on both sides.
      */
    final case class Lsh(tables: Int = 8, bits: Int = 12,
                         broadcastQueries: Boolean = true) extends VecCandidates

    /** IVF inverted lists: every corpus vector joins its nearest
      * centroid's list (cosine rounded to 1e-6, ties by centroid id) and a
      * query probes its `nprobe` nearest lists. The coarse quantizer is a
      * bounded deterministic sample of K = min(maxCentroids, ⌈√n⌉)
      * vectors ([[coarseQuantizer]]); assignment is one map stage over
      * its broadcast, and the only shuffles are the candidate equi-join
      * on cid and the per-query rank.
      */
    final case class Ivf(nprobe: Int = 4,
                         maxCentroids: Int = IvfMaxCentroids) extends VecCandidates
  }

  /** How [[topK]] scores and orders a candidate pair. */
  sealed trait VecScore
  object VecScore {
    /** Exact cosine, `cos_e6` = round(cos·1e6), best first. With `below`,
      * pairs at or above that `cos_e6` are dropped BEFORE the rank — hard
      * negatives for contrastive training: a post-filtered top-k would
      * under-fill exactly for the queries with many duplicates.
      */
    final case class Cosine(below: Option[Long] = None) extends VecScore

    /** Product-quantized asymmetric squared-L2 (ADC), `adist_e6`, nearest
      * first: every corpus vector is stored as m codes (each an index
      * into a `ksub`-entry codebook per subspace) of its residual
      * v − centroid, and a query scores a pair with m lookups into its
      * per-(query, list) distance table. Under [[VecCandidates.Ivf]] the
      * centroid is the vector's coarse centroid (IVF-PQ); under
      * [[VecCandidates.All]] it is the one all-zero centroid, i.e. raw PQ.
      */
    final case class Pq(ksub: Int = PqKsub, m: Int = 8) extends VecScore
  }

  /** Top-k nearest corpus vectors per query: (qid, nid, rank, score) with
    * `rank` dense 1..k by (score, nid) and the score column named by the
    * scorer (`cos_e6` or `adist_e6`). Scores are integers, so ranks are
    * deterministic. Approximate candidate steps may return fewer than k
    * rows for a query. Eager cost: at most one count() of `emb`, taken
    * when a quantizer or codebook is built, plus their bounded collects.
    */
  def topK(emb: DataFrame, queries: DataFrame, k: Int,
           candidates: VecCandidates = VecCandidates.All,
           score: VecScore = VecScore.Cosine()): DataFrame = {
    require(!(candidates.isInstanceOf[VecCandidates.Lsh] && score.isInstanceOf[VecScore.Pq]),
      "LSH candidates band the raw embeddings, PQ scoring reads codes: Lsh x Pq is not supported")
    lazy val n = emb.count()
    val quantizer = candidates match {
      case VecCandidates.Ivf(_, maxCentroids) => Some(coarseQuantizer(emb, maxCentroids, n))
      case _ => None
    }
    val scorer = score match {
      case VecScore.Cosine(_) => cosineScorer
      case VecScore.Pq(ksub, m) => pqScorer(emb, quantizer, ksub, m, n)
    }
    val scored = pairs(emb, queries, candidates, quantizer, scorer)
      .select(col("qid"), col("nid"), scorer.column.as(scorer.name))
    rankTail(score match {
      case VecScore.Cosine(Some(ceilE6)) => scored.filter(col(scorer.name) < ceilE6)
      case _ => scored
    }, k, scorer)
  }

  /** A scorer bound to its broadcasts: how each side is prepared before
    * the candidate join (corpus rows carry `embedding`, query rows
    * `qemb`, both `cid` on the IVF path) and the score of a joined pair.
    * `readsCid`: the scorer reads the list id beside the join key.
    */
  private final case class Scorer(name: String, descending: Boolean, readsCid: Boolean,
                                  corpusSide: DataFrame => DataFrame,
                                  querySide: DataFrame => DataFrame,
                                  column: Column)

  private def cosineScorer: Scorer =
    Scorer("cos_e6", descending = true, readsCid = false, df => df, df => df,
      cosE6(col("embedding"), col("qemb")))

  /** round(cos(a, b)·1e6) as a long. */
  private def cosE6(a: Column, b: Column): Column =
    round(vecCosine(a, b) * lit(1000000.0), 0).cast("long")

  private def pqScorer(emb: DataFrame,
                       quantizer: Option[Broadcast[CentroidKernel.Cents]],
                       ksub: Int, m: Int, n: Long): Scorer = {
    val (cents, book) = pqResCodebook(emb, quantizer, ksub, m, n)
    val cid = if (quantizer.isDefined) col("cid") else lit(PqKernel.ZeroCid)
    def replace(df: DataFrame, vec: String, by: Column): DataFrame =
      df.select(df.columns.filter(_ != vec).map(col) :+ by: _*)
    // the corpus-side cut is a deliberate codegen BARRIER:
    // BroadcastNestedLoopJoin's whole-stage codegen defers streamed-side
    // projections to their point of use INSIDE the per-build-row loop, so
    // without it pq_encode_res runs once per PAIR (measured 7x on the
    // oracle query). The cut encodes once per corpus row — no shuffle.
    Scorer("adist_e6", descending = false, readsCid = quantizer.isDefined,
      df => cut(replace(df, "embedding",
        pqEncodeRes(col("embedding"), cid, cents, book).as("codes"))),
      df => replace(df, "qemb", pqDistTableRes(col("qemb"), cid, cents, book).as("dtab")),
      pqAdcScore(col("dtab"), col("codes")))
  }

  /** Candidate pairs (qid, nid, …) carrying the scorer's side columns.
    * `probeRank` keeps the IVF probe position `prn` (1 = nearest list):
    * every vector lives on exactly one list, so a pair's `prn` is the
    * smallest nprobe that finds it.
    */
  private def pairs(emb: DataFrame, queries: DataFrame, candidates: VecCandidates,
                    quantizer: Option[Broadcast[CentroidKernel.Cents]],
                    scorer: Scorer, probeRank: Boolean = false): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    candidates match {
      case VecCandidates.All =>
        scorer.corpusSide(e).join(broadcast(scorer.querySide(q)), col("vec_id") =!= col("qid"))
          .withColumnRenamed("vec_id", "nid")
      case VecCandidates.Lsh(tables, bits, broadcastQueries) =>
        val qb = lshBands(q, "qemb", tables, bits, "qid", "qemb")
        lshBands(e, "embedding", tables, bits, "vec_id", "embedding")
          .join(if (broadcastQueries) broadcast(qb) else qb, Seq("table", "bucket"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("nid"), col("embedding"), col("qemb"))
          .dropDuplicates("qid", "nid")
      case VecCandidates.Ivf(nprobe, _) =>
        val bc = quantizer.get
        // a scorer that reads cid would have CollapseProject inline the
        // n·K nearest-centroid scan into both cid consumers; the cut runs
        // it once per corpus row
        val a = e.select(col("vec_id"), col("embedding"),
          nearestCentroid(col("embedding"), bc).as("cid"))
        val assigned = if (scorer.readsCid) cut(a) else a
        val lists = vecNearestCentroids(col("qemb"), nprobe, bc)
        val probes =
          if (scorer.readsCid) cut(q.select(col("qid"), col("qemb"), lists.as("cids")))
            .select(col("qid"), col("qemb"), explode(col("cids")).as("cid"))
          else if (probeRank) q.select(col("qid"), col("qemb"), posexplode(lists))
            .select(col("qid"), col("qemb"), (col("pos") + 1).as("prn"), col("col").as("cid"))
          else q.select(col("qid"), col("qemb"), explode(lists).as("cid"))
        // (qid, nid) pairs are unique by construction: each vector is on
        // exactly one list and a query's probed cids are distinct
        scorer.querySide(probes).join(scorer.corpusSide(assigned), "cid")
          .filter(col("vec_id") =!= col("qid"))
          .withColumnRenamed("vec_id", "nid")
    }
  }

  /** The k best rows per query, rank dense 1..k by (score, nid). */
  private def rankTail(scored: DataFrame, k: Int, scorer: Scorer): DataFrame = {
    val s = if (scorer.descending) col(scorer.name).desc else col(scorer.name).asc
    scored.withColumn("rank",
        row_number().over(Window.partitionBy(col("qid")).orderBy(s, col("nid"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col(scorer.name))
  }

  /** Sign-LSH banding: one row per (`keep` columns, table, bucket) of the
    * `vec` column's `tables` bucket signatures of `bits` bits.
    */
  private[operators] def lshBands(df: DataFrame, vec: String, tables: Int, bits: Int,
                                  keep: String*): DataFrame =
    df.select(keep.map(col) :+
      posexplode(vecLshBuckets(col(vec), tables, bits)).as(Seq("table", "bucket")): _*)

  /** The id of `vec`'s nearest centroid. */
  private def nearestCentroid(vec: Column, bc: Broadcast[CentroidKernel.Cents]): Column =
    element_at(vecNearestCentroids(vec, 1, bc), 1)

  /** The bounded coarse quantizer of an `n`-row corpus: K =
    * min(maxCentroids, ⌈√n⌉) target centroids by the residue rule
    * mixId(vec_id) % max(n/K,1) == 3 % max(n/K,1), sorted by id and
    * broadcast as an O(K) table. K never exceeds `maxCentroids` whatever
    * the corpus size, so assignment costs n·K cosines in one map stage,
    * not the n²/mod of a corpus-proportional centroid set. One bounded
    * collect.
    */
  private def coarseQuantizer(emb: DataFrame, maxCentroids: Int, n: Long)
      : Broadcast[CentroidKernel.Cents] = {
    val n1 = math.max(n, 1L)
    val kTarget = math.max(1L,
      math.min(maxCentroids.toLong, math.ceil(math.sqrt(n1.toDouble)).toLong))
    val mod = math.max(n1 / kTarget, 1L)
    // the residue is taken of mixId(vec_id), not the raw id: a clustered
    // id space (snowflake ids; all ids = r mod 1000) would otherwise make
    // one residue class hold most of the corpus and abort the build. The
    // mixer scatters any id distribution near-uniformly, so the cap below
    // is a genuine never-hit safety bound (it still never silently
    // subsets). 3 % mod (not a bare 3) keeps the rule non-empty when a
    // small corpus makes mod <= 3.
    val cap = 4 * math.max(maxCentroids, 1)
    val cents: CentroidKernel.Cents =
      emb.filter(Fns.mixId(col("vec_id")) % mod === (3L % mod))
        .select(col("vec_id"), col("embedding"))
        .limit(cap + 1).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
    require(cents.nonEmpty, s"no mixId(vec_id) % $mod == ${3L % mod} in the corpus (n=$n1)")
    require(cents.length <= cap,
      s"mixId(vec_id) residue class $mod/${3L % mod} selects > $cap centroids " +
        "(statistically impossible for the uniform mixer; indicates duplicate vec_ids)")
    emb.sparkSession.sparkContext.broadcast(cents)
  }

  /** The PQ codebook of an `n`-row corpus: the first `ksub` vectors (by
    * vec_id) of the residue class mixId(vec_id) % max(n/ksub,1) ==
    * 3 % max(n/ksub,1), each stored as its residual v − centroid against
    * its nearest `quantizer` centroid (the distributed assignment's rank
    * rule); entry index IS the code. Without a quantizer the centroid
    * table is the one all-zero centroid [[PqKernel.ZeroCid]], and the
    * residual is v itself. Residual training is where IVF-PQ earns its
    * recall at high compression: within an inverted list vectors share a
    * centroid, so the codewords quantize the small differences that
    * actually rank the list instead of the common offset. Sub-distances
    * are rounded to 1e-6 BEFORE argmin/summing, so encode ties and ADC
    * totals are exact integer arithmetic (oracle parity by construction).
    * Driver cost: one O(ksub)-row collect + ksub·K kernel cosines.
    * Returns the centroid table the residuals are taken against and the
    * codebook.
    */
  private def pqResCodebook(emb: DataFrame,
                            quantizer: Option[Broadcast[CentroidKernel.Cents]],
                            ksub: Int, m: Int, n: Long)
      : (Broadcast[CentroidKernel.Cents], Broadcast[PqKernel.ResBook]) = {
    val sc = emb.sparkSession.sparkContext
    val n1 = math.max(n, 1L)
    val mod = math.max(n1 / ksub, 1L)
    val vecs = emb.filter(Fns.mixId(col("vec_id")) % mod === (3L % mod))
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(ksub).collect()
      .map(_.getSeq[Float](1).toArray)
    require(vecs.nonEmpty, s"no mixId(vec_id) % $mod == ${3L % mod} in the corpus (n=$n1)")
    require(vecs.head.length % m == 0,
      s"embedding dim ${vecs.head.length} not divisible by m=$m subspaces")
    val centsBc = quantizer.getOrElse(sc.broadcast(PqKernel.zeroCentroid(vecs.head.length)))
    val cents = centsBc.value
    val res = vecs.map(v =>
      PqKernel.residual(v, CentroidKernel.byId(cents, CentroidKernel.nearestId(cents, v))))
    (centsBc, sc.broadcast(PqKernel.ResBook(res, m)))
  }

  /** Per-cluster all-pairs bound for [[semDedupPairs]]: clusters at or
    * under this size compare exhaustively; larger ones refine by LSH
    * sub-buckets instead of going O(s²).
    */
  val MaxSemCluster = 256

  /** SemDeDup-style SEMANTIC near-duplicate pairs: partition the corpus
    * by the bounded coarse quantizer (every vector joins its nearest
    * centroid, same deterministic K = min(4096, ⌈√n⌉) table as the IVF
    * path), compare WITHIN clusters only, keep pairs with
    * round(cos·1e6) ≥ `thresholdE6`. This is the published SemDeDup
    * recipe (cluster embeddings, dedup within clusters) — it catches
    * semantic rewrites that shingle-MinHash misses and, unlike the
    * global LSH path ([[DedupOps.embeddingNearDups]]), never pairs
    * across semantically distant regions.
    *
    * Scale posture — the part the paper leaves implicit: K is capped at
    * 4096 (broadcast boundedness), so at crawl scale every cluster is a
    * MEGA-cluster and within-cluster all-pairs is O(n²/K). Clusters
    * larger than `maxClusterSize` therefore refine by the 8×12-bit
    * sign-LSH sub-buckets (the exact family the near-dup path uses)
    * WITHIN the cluster, with the MaxBandBucket per-(cluster, table,
    * bucket) cap — candidates stay group-local and bounded at any n,
    * while test-scale clusters (≤ maxClusterSize) keep the paper's
    * exhaustive semantics. Small and large clusters are disjoint, so the
    * union is duplicate-free by construction (the LSH side dedups its
    * multi-table hits). Output: (vec_a, vec_b, cos_e6), vec_a < vec_b.
    */
  def semDedupPairs(emb: DataFrame, thresholdE6: Long,
                    maxCentroids: Int = IvfMaxCentroids,
                    maxClusterSize: Int = MaxSemCluster,
                    scope: CacheScope = CacheScope.global): DataFrame = {
    val bc = coarseQuantizer(emb, maxCentroids, emb.count())
    val sized = scope.persist(emb.select(col("vec_id"), col("embedding"))
      .withColumn("cid", nearestCentroid(col("embedding"), bc))
      .withColumn("__csz", count(lit(1)).over(Window.partitionBy("cid"))))
    val smallPairs = DedupOps.bucketPairs(sized.filter(col("__csz") <= maxClusterSize),
        Seq("cid"), "vec_id", None, ("vec_a", "vec_b"))
      .select("vec_a", "vec_b")
    val big = lshBands(sized.filter(col("__csz") > maxClusterSize), "embedding",
      DedupOps.NearDupTables, DedupOps.NearDupBits, "vec_id", "cid")
    val bigPairs = DedupOps.bucketPairs(big, Seq("cid", "table", "bucket"), "vec_id",
        Some(DedupOps.MaxBandBucket), ("vec_a", "vec_b"))
      .select("vec_a", "vec_b")
      .distinct()
    val e = sized.select(col("vec_id"), col("embedding"))
    val ea = e.select(col("vec_id").as("vec_a"), col("embedding").as("__ea"))
    val eb = e.select(col("vec_id").as("vec_b"), col("embedding").as("__eb"))
    smallPairs.unionByName(bigPairs)
      .join(ea, "vec_a").join(eb, "vec_b")
      .select(col("vec_a"), col("vec_b"), cosE6(col("__ea"), col("__eb")).as("cos_e6"))
      .filter(col("cos_e6") >= thresholdE6)
  }

  /** IVF nprobe AUTO-TUNING — the calibration harness production ANN
    * deployments run before fixing a query-time budget (the faiss
    * autotune recipe): evaluate the IVF candidate restriction at each
    * candidate `nprobe` against the EXACT brute-force top-k on the same
    * query set, and report per-nprobe recall plus the chosen setting
    * (the smallest candidate reaching `targetRecallPm`; the largest
    * candidate when none does). The tuning table — not the tuned search —
    * is the deliverable: it is what a pipeline owner reads to trade probe
    * fan-out against recall, and what [[cosineTopKIvfAuto]] consumes.
    *
    * All-integer and deterministic: the corpus is probed ONCE at
    * max(candidates) with each pair's probe RANK kept (every vector
    * lives on exactly one inverted list, so a candidate's rank is the
    * probe position of its list — no dedup needed), and each smaller
    * nprobe is a FILTER on that rank, not a re-run; recall_pm =
    * ⌊1000·hits/total⌋ over the exact top-k row set.
    *
    * Scale posture: one coarse-quantizer broadcast (K ≤ 4096), one
    * cid equi-join at nprobe = max(candidates), one broadcast exact pass
    * over the CALIBRATION query set (calibration sets are small by
    * design — tuning on a sample is the published recipe), then
    * |candidates| window-rank + semi-join counts over the PERSISTED
    * candidate frame. The per-candidate counts collect |candidates|
    * scalars on the driver — the bounded, documented decision pattern
    * (same class as the BPE merge pick).
    *
    * Output: (nprobe, recall_pm, chosen), one row per candidate.
    */
  def ivfAutotune(emb: DataFrame, queries: DataFrame, k: Int,
                  targetRecallPm: Long = 950L,
                  candidates: Seq[Int] = Seq(1, 2, 4, 8),
                  maxCentroids: Int = IvfMaxCentroids,
                  scope: CacheScope = CacheScope.global): DataFrame = {
    require(candidates.nonEmpty && candidates == candidates.sorted,
      s"candidates must be ascending and non-empty: $candidates")
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = coarseQuantizer(emb, maxCentroids, emb.count())
    val s = cosineScorer
    val cand = scope.persist(pairs(emb, queries,
        VecCandidates.Ivf(candidates.last, maxCentroids), Some(bc), s, probeRank = true)
      .select(col("qid"), col("nid"), col("prn"), s.column.as(s.name)))
    val exact = scope.persist(topK(emb, queries, k).select("qid", "nid"))
    val total = math.max(exact.count(), 1L)
    val recalls = candidates.map { np =>
      val hits = rankTail(cand.filter(col("prn") <= np), k, s)
        .join(exact, Seq("qid", "nid"), "left_semi")
        .count()
      (np.toLong, hits * 1000L / total)
    }
    val chosen = recalls.collectFirst {
      case (np, r) if r >= targetRecallPm => np
    }.getOrElse(candidates.last.toLong)
    recalls.toDF("nprobe", "recall_pm")
      .withColumn("chosen", col("nprobe") === chosen)
  }

  /** The tuned search: [[ivfAutotune]]'s calibration, then the IVF
    * cosine top-k at the chosen nprobe.
    */
  def cosineTopKIvfAuto(emb: DataFrame, queries: DataFrame, k: Int,
                        calibration: DataFrame, targetRecallPm: Long = 950L,
                        candidates: Seq[Int] = Seq(1, 2, 4, 8),
                        maxCentroids: Int = IvfMaxCentroids): DataFrame =
    topK(emb, queries, k, VecCandidates.Ivf(
      ivfAutotune(emb, calibration, k, targetRecallPm, candidates, maxCentroids)
        .filter(col("chosen")).head().getLong(0).toInt, maxCentroids))

  /** SPARSE-vector cosine-similarity pairs via an inverted index — the
    * "related hosts/sites by content" join, where each key is a bag of
    * token counts too wide and too sparse for the dense-embedding paths
    * above. All-integer and EXACT: instead of cos = dot/(|a||b|) (whose
    * square roots are float), pairs are scored by cos² as the exact
    * rational cos2_pm = dot²·1000 div (na2·nb2) and thresholded by the
    * cross-multiplied inequality dot²·1000 ≥ thr·na2·nb2 — no float op
    * anywhere, so the DuckDB twin matches bit-for-bit.
    *
    * Scale posture: candidates come from the inverted index (self-join
    * per token), with tokens present in more than `dfCap` keys DROPPED
    * FROM THE METRIC (the documented boilerplate contract, same shape as
    * DedupOps.containmentPairs): a token with df ≤ c emits ≤ c² pair
    * rows, so candidate volume is Σ_tok df² ≤ cap·Σ df — linear in index
    * mass at fixed cap, never all-pairs. Three hash shuffles (term
    * counts, pair dot products, norm join).
    *
    * Input: rows (key, tok) — one row per token OCCURRENCE. Output:
    * (key_a, key_b, cos2_pm) with key_a < key_b, cos² ≥ thrPm/1000.
    * int64 headroom: dot²·1000 needs dot < 3·10⁶ — i.e. per-(key,tok)
    * counts × shared vocab below ~3M mass per pair; token counts at that
    * magnitude should be tf-capped upstream (ANSI mode fails loudly).
    */
  def cosineSparsePairs(occurrences: DataFrame, thrPm: Long, dfCap: Int,
                        scope: CacheScope = CacheScope.global): DataFrame = {
    val tc = occurrences.groupBy(col("key"), col("tok"))
      .agg(count(lit(1)).as("c"))
    // persisted (scope-released): feeds both join sides and the norms
    val capped = scope.persist(DedupOps.capBuckets(tc, Seq("tok"), dfCap))
    val norms = capped.groupBy("key").agg(sum(col("c") * col("c")).as("n2"))
    val dots = DedupOps.bucketPairs(capped, Seq("tok"), "key", None,
        ("key_a", "key_b"), Seq("c"))
      .groupBy("key_a", "key_b").agg(sum(col("c_a") * col("c_b")).as("dot"))
    dots
      .join(norms.select(col("key").as("key_a"), col("n2").as("na2")), "key_a")
      .join(norms.select(col("key").as("key_b"), col("n2").as("nb2")), "key_b")
      .filter(col("dot") * col("dot") * 1000 >= lit(thrPm) * col("na2") * col("nb2"))
      .selectExpr("key_a", "key_b",
        "(dot * dot * 1000) div (na2 * nb2) AS cos2_pm")
  }
}
