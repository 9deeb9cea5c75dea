package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftPlanBridge.cut
import graft.core.CacheScope
import graft.functions.Fns

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k with a broadcast query set — the
  * exact reference answer and the right physical plan when |queries| is
  * small (one broadcast, no shuffle of the big side, window top-k per
  * query). Scale path: sign-LSH bucketing (see DedupOps.embeddingNearDups)
  * or an IVF-style cell restriction; both reuse this exact scorer for the
  * final rerank.
  */
object SimilarityOps {

  /** Approximate cosine top-k via multi-table sign-projection LSH (the
    * scale path): candidates = vectors sharing any of `tables` bucket
    * signatures with the query (native [[graft.plans.VecLshKernel.buckets]]), exact
    * cosine reranks the candidate set. Same output schema as the exact
    * form; queries with fewer than k candidates return fewer rows (ANN
    * semantics). At the 10^12 posture the bucket join shuffles only
    * (tables x rows) narrow rows instead of scoring the full table per
    * query.
    */
  def cosineTopKAnn(emb: DataFrame, queries: DataFrame, k: Int,
                    tables: Int = 8, bits: Int = 12,
                    broadcastQueries: Boolean = true): DataFrame = {
    import graft.plans.TextHashExpressions.vecLshBuckets
    def banded(df: DataFrame, idCol: String, embCol: String): DataFrame =
      df.select(col(idCol), col(embCol),
          posexplode(vecLshBuckets(col(embCol), tables, bits)).as(Seq("table", "bucket")))
    val e = banded(emb, "vec_id", "embedding")
    // corpus-vs-corpus workloads (|queries| ~ |emb|) pass
    // broadcastQueries = false: the candidate join becomes a plain shuffle
    // equi-join on (table, bucket) and nothing ships the query table whole
    val qb = banded(
      queries.select(col("vec_id").as("qid"), col("embedding").as("qemb")), "qid", "qemb")
    val q = if (broadcastQueries) broadcast(qb) else qb
    val cand = e.join(q, Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), col("embedding"), col("qemb"))
      .dropDuplicates("qid", "nid")
    val scored = cand.select(col("qid"), col("nid"),
      round(graft.plans.TextHashExpressions.vecCosine(col("embedding"), col("qemb")) * lit(1000000.0), 0)
        .cast("long").as("cos_e6"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_e6").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("cos_e6"))
  }

  /** Number of centroids the IVF coarse quantizer is bounded by. */
  val IvfMaxCentroids = 4096

  /** IVF-Flat approximate cosine top-k (the inverted-file scale path,
    * complementing the LSH path). The coarse quantizer is a deterministic
    * BOUNDED sample: K = min(IvfMaxCentroids, ceil(sqrt(n))) target
    * centroids selected by mixId(vec_id) % max(n/K, 1) == 3 % max(n/K, 1) — K never exceeds
    * 4096 no matter the corpus size, so the centroid table is a true O(K)
    * broadcast and assignment costs n·K cosines (a single map stage), not
    * the n²/mod of a corpus-proportional centroid set. Every vector joins
    * its nearest centroid's inverted list (cosine rounded to 1e-6, ties by
    * centroid id); a query probes its `nprobe` nearest centroids and exact
    * cosine reranks the union of those lists. ANN semantics: queries may
    * return fewer than k rows.
    *
    * Plan shape: assignment is the native VecNearestCentroids expression
    * over a broadcast variable — no crossJoin row explosion, no window
    * shuffle; the only shuffles are the candidate equi-join on cid and the
    * per-query top-k. Eager cost at plan-construction: one count() (sizes
    * the quantizer) and one O(K)-row collect (builds the broadcast) —
    * documented trade-off, same contract as knn's density probe.
    */
  /** Build the bounded coarse quantizer (shared by cosineTopKIvf and
    * pqTopKIvf): K = min(maxCentroids, ceil(sqrt(n))) target centroids by
    * the residue rule mixId(vec_id) % max(n/K,1) == 3 % max(n/K,1),
    * broadcast as an O(K) table. One count() + one bounded collect — the
    * documented eager trade-off.
    */
  private def coarseQuantizer(emb: DataFrame, maxCentroids: Int,
                              nKnown: Long = -1L)
      : org.apache.spark.broadcast.Broadcast[graft.plans.CentroidKernel.Cents] = {
    val spark = emb.sparkSession
    val n = math.max(if (nKnown >= 0L) nKnown else emb.count(), 1L)
    val kTarget = math.max(1L,
      math.min(maxCentroids.toLong, math.ceil(math.sqrt(n.toDouble)).toLong))
    val mod = math.max(n / kTarget, 1L)
    // the residue is taken of mixId(vec_id), not the raw id: a clustered
    // id space (snowflake ids; all ids = r mod 1000) would otherwise make
    // one residue class hold most of the corpus and abort the build. The
    // mixer scatters any id distribution near-uniformly, so the cap below
    // is a genuine never-hit safety bound (it still never silently
    // subsets). 3 % mod (not a bare 3) keeps the rule non-empty when a
    // small corpus makes mod <= 3.
    val cap = 4 * math.max(maxCentroids, 1)
    val cents: graft.plans.CentroidKernel.Cents =
      emb.filter(Fns.mixId(col("vec_id")) % mod === (3L % mod))
        .select(col("vec_id"), col("embedding"))
        .limit(cap + 1).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
    require(cents.nonEmpty, s"no mixId(vec_id) % $mod == ${3L % mod} in the corpus (n=$n)")
    require(cents.length <= cap,
      s"mixId(vec_id) residue class $mod/${3L % mod} selects > $cap centroids " +
        "(statistically impossible for the uniform mixer; indicates duplicate vec_ids)")
    spark.sparkContext.broadcast(cents)
  }

  def cosineTopKIvf(emb: DataFrame, queries: DataFrame, k: Int,
                    maxCentroids: Int = IvfMaxCentroids, nprobe: Int = 4): DataFrame = {
    import graft.plans.GeomExpressions.vecNearestCentroids
    val bc = coarseQuantizer(emb, maxCentroids)

    val assigned = emb.withColumn("cid",
      element_at(vecNearestCentroids(col("embedding"), 1, bc), 1))
    val probes = queries.select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      .withColumn("cid", explode(vecNearestCentroids(col("qemb"), nprobe, bc)))
    // (qid, nid) pairs are unique by construction — each vector is on
    // exactly one inverted list and a query's probed cids are distinct
    val cand = probes.join(assigned, "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(graft.plans.TextHashExpressions.vecCosine(col("embedding"), col("qemb")) * lit(1000000.0), 0)
          .cast("long").as("cos_e6"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_e6").desc, col("nid"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("cos_e6"))
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
    import graft.plans.GeomExpressions.vecNearestCentroids
    val bc = coarseQuantizer(emb, maxCentroids)
    val sized = scope.persist(emb.select(col("vec_id"), col("embedding"))
      .withColumn("cid",
        element_at(vecNearestCentroids(col("embedding"), 1, bc), 1))
      .withColumn("__csz", count(lit(1)).over(Window.partitionBy("cid"))))
    val small = sized.filter(col("__csz") <= maxClusterSize)
    val smallPairs = small.select(col("cid"), col("vec_id").as("vec_a"))
      .join(small.select(col("cid"), col("vec_id").as("vec_b")), "cid")
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
    val big = sized.filter(col("__csz") > maxClusterSize)
      .select(col("vec_id"), col("cid"),
        posexplode(graft.plans.TextHashExpressions.vecLshBuckets(
          col("embedding"), DedupOps.NearDupTables, DedupOps.NearDupBits))
          .as(Seq("table", "bucket")))
    val bigKept = DedupOps.capBuckets(big, Seq("cid", "table", "bucket"))
    val bigPairs = bigKept.as("a")
      .join(bigKept.as("b"), col("a.cid") === col("b.cid") &&
        col("a.table") === col("b.table") &&
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val e = sized.select(col("vec_id"), col("embedding"))
    val ea = e.select(col("vec_id").as("vec_a"), col("embedding").as("__ea"))
    val eb = e.select(col("vec_id").as("vec_b"), col("embedding").as("__eb"))
    smallPairs.unionByName(bigPairs)
      .join(ea, "vec_a").join(eb, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(graft.plans.TextHashExpressions.vecCosine(
          col("__ea"), col("__eb")) * lit(1000000.0), 0)
          .cast("long").as("cos_e6"))
      .filter(col("cos_e6") >= thresholdE6)
  }

  /** Number of codebook entries per PQ subspace. */
  val PqKsub = 16

  /** Product-quantization top-k by asymmetric squared-L2 distance (ADC) —
    * the COMPRESSED-corpus scale path: every vector is stored as m small
    * codes (m bytes at ksub<=256) instead of d floats, and scoring a pair
    * is m table lookups instead of d multiplies. At the 10^12-vector
    * posture the corpus scan reads codes only — a 64-dim float corpus
    * shrinks 32x — and per-query cost is one O(m·ksub) distance table
    * plus m adds per candidate.
    *
    * Codebook: deterministic bounded sample — the first `ksub` vectors
    * (by vec_id) of the residue class mixId(vec_id) % max(n/ksub,1) ==
    * 3 % max(n/ksub,1); entry index IS the code. Sub-distances are rounded to
    * 1e-6 BEFORE argmin/summing, so encode ties and ADC totals are exact
    * integer arithmetic (oracle-parity by construction). Eager cost at
    * plan time: one count() + one O(ksub)-row collect, the same
    * documented trade-off as cosineTopKIvf.
    *
    * Output: (qid, nid, rank, adist_e6), rank by (adist_e6 asc, nid asc),
    * k rows per query (approximate distances — PQ semantics).
    */
  /** Build the PQ codebook (shared by pqTopK and pqTopKIvf): the first
    * `ksub` vectors (by vec_id) of the residue class mixId(vec_id) %
    * max(n/ksub,1) == 3 % max(n/ksub,1); entry index IS the code.
    */
  private def pqCodebook(emb: DataFrame, ksub: Int, m: Int)
      : org.apache.spark.broadcast.Broadcast[graft.plans.PqKernel.Book] = {
    val spark = emb.sparkSession
    val n = math.max(emb.count(), 1L)
    val mod = math.max(n / ksub, 1L)
    val cents: Array[Array[Float]] =
      emb.filter(Fns.mixId(col("vec_id")) % mod === (3L % mod))
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id")).limit(ksub).collect()
        .map(_.getSeq[Float](1).toArray)
    require(cents.nonEmpty, s"no mixId(vec_id) % $mod == ${3L % mod} in the corpus (n=$n)")
    require(cents.head.length % m == 0,
      s"embedding dim ${cents.head.length} not divisible by m=$m subspaces")
    spark.sparkContext.broadcast(graft.plans.PqKernel.Book(cents, m))
  }

  def pqTopK(emb: DataFrame, queries: DataFrame, k: Int,
             ksub: Int = PqKsub, m: Int = 8): DataFrame = {
    import graft.plans.GeomExpressions.{pqAdcScore, pqDistTable, pqEncode}
    val bc = pqCodebook(emb, ksub, m)

    // the cut is a deliberate codegen BARRIER, not lineage hygiene:
    // BroadcastNestedLoopJoin's whole-stage codegen defers streamed-side
    // projections to their point of use INSIDE the per-build-row loop, so
    // without the barrier pq_encode runs once per PAIR (measured 7x on the
    // oracle query; at corpus x query scale it re-creates the exact n*d
    // cost PQ exists to avoid). The cut encodes once per corpus row — no
    // shuffle, stays fully distributed.
    val codes =
      cut(emb.select(col("vec_id"), pqEncode(col("embedding"), bc).as("codes")))
    val q = broadcast(queries.select(col("vec_id").as("qid"),
      pqDistTable(col("embedding"), bc).as("dtab")))
    val scored = codes.join(q, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        pqAdcScore(col("dtab"), col("codes")).as("adist_e6"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist_e6"), col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("adist_e6"))
  }

  /** Build the RESIDUAL PQ codebook (pqTopKIvf): the deterministic
    * mixId-residue sample of ksub vectors, each encoded as its residual
    * v − centroid (the sample vector's own nearest coarse centroid, same
    * rank rule as the distributed assignment). Residual training is where
    * IVF-PQ earns its recall at high compression: within an inverted list
    * vectors share a centroid, so the codewords quantize the small
    * differences that actually rank the list instead of the common offset.
    * Driver cost: one O(ksub)-row collect + ksub·K kernel cosines.
    */
  private def pqResCodebook(emb: DataFrame,
                            centsBc: org.apache.spark.broadcast.Broadcast[graft.plans.CentroidKernel.Cents],
                            ksub: Int, m: Int, nKnown: Long = -1L)
      : org.apache.spark.broadcast.Broadcast[graft.plans.PqKernel.ResBook] = {
    import graft.plans.{CentroidKernel, PqKernel}
    val spark = emb.sparkSession
    val n = math.max(if (nKnown >= 0L) nKnown else emb.count(), 1L)
    val mod = math.max(n / ksub, 1L)
    val rows = emb.filter(Fns.mixId(col("vec_id")) % mod === (3L % mod))
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(ksub).collect()
    require(rows.nonEmpty, s"no mixId(vec_id) % $mod == ${3L % mod} in the corpus (n=$n)")
    val cents = centsBc.value
    val res: Array[Array[Double]] = rows.map { r =>
      val v = r.getSeq[Float](1).toArray
      PqKernel.residual(v, CentroidKernel.byId(cents, CentroidKernel.nearestId(cents, v)))
    }
    require(res.head.length % m == 0,
      s"embedding dim ${res.head.length} not divisible by m=$m subspaces")
    spark.sparkContext.broadcast(PqKernel.ResBook(res, m))
  }

  /** IVF-PQ top-k — the full large-corpus ANN architecture (inverted
    * lists for CANDIDATE RESTRICTION, product quantization for COMPRESSED
    * SCORING, the composition used at billion-vector scale): every vector
    * is stored as (coarse list id, m RESIDUAL PQ codes — codes of
    * v − centroid, the production IVF-PQ encoding); a query probes its
    * `nprobe` nearest coarse lists (cosine, like cosineTopKIvf) and ranks
    * ONLY those candidates by residual ADC squared-L2. Because residuals
    * are taken against the PROBED list's centroid, the query builds one
    * small distance table per probe (nprobe·m·ksub subdists) instead of
    * one per query — the structural cost of residual quantization, still
    * independent of candidate count. Per query the scan touches
    * n·nprobe/K candidates at m lookups each.
    *
    * Plan: both broadcasts are O(K)+O(ksub); the candidate join is a cid
    * equi-join (shuffle or broadcast-hash by size); assignment passes
    * through a plan cut (codegen barrier) so the n·K nearest-centroid scan runs
    * once per corpus row (not re-inlined into both its consumers by
    * CollapseProject), and the codes side through a second barrier like
    * pqTopK. Output: (qid, nid, rank, adist_e6), ANN semantics (possibly
    * < k rows).
    */
  def pqTopKIvf(emb: DataFrame, queries: DataFrame, k: Int,
                maxCentroids: Int = IvfMaxCentroids, nprobe: Int = 4,
                ksub: Int = PqKsub, m: Int = 8): DataFrame = {
    import graft.plans.GeomExpressions.{pqAdcScore, pqDistTableRes, pqEncodeRes, vecNearestCentroids}
    // one count() sizes both builders (the documented eager probe, paid once)
    val n = emb.count()
    val bcCents = coarseQuantizer(emb, maxCentroids, n)
    val bcBook = pqResCodebook(emb, bcCents, ksub, m, n)

    val assigned = cut(emb.select(col("vec_id"), col("embedding"),
      element_at(vecNearestCentroids(col("embedding"), 1, bcCents), 1)
        .as("cid")))
    val codes = cut(assigned.select(col("vec_id"), col("cid"),
      pqEncodeRes(col("embedding"), col("cid"), bcCents, bcBook).as("codes")))
    // the probe list is computed BEFORE the explode (once per query); the
    // residual dtab is per (query, probe) BY DESIGN — see scaladoc
    val probes = cut(queries.select(col("vec_id").as("qid"),
        col("embedding").as("qemb"),
        vecNearestCentroids(col("embedding"), nprobe, bcCents).as("cids")))
      .select(col("qid"), col("qemb"), explode(col("cids")).as("cid"))
      .select(col("qid"), col("cid"),
        pqDistTableRes(col("qemb"), col("cid"), bcCents, bcBook).as("dtab"))
    val cand = probes.join(codes, "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        pqAdcScore(col("dtab"), col("codes")).as("adist_e6"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist_e6"), col("nid"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("adist_e6"))
  }

  /** Exact cosine top-k: (qid, nid, rank, cos_e6). Deterministic — scores
    * rounded to 1e-6 before ranking, ties broken by neighbor id.
    */
  /** HARD-NEGATIVE mining for contrastive training: for each query, the
    * top-k most-similar corpus vectors whose cosine stays strictly BELOW
    * `ceilE6` — vectors at or above the ceiling are positives/duplicates
    * (the pair you'd train TOWARD, not away from), so they are excluded
    * BEFORE the rank, which is what makes this a distinct operator: a
    * post-filtered top-k would under-fill exactly for the queries with
    * many duplicates, i.e. the ones that need negatives most. Same
    * physical shape as [[cosineTopK]] (broadcast query set, no corpus
    * shuffle, per-query window) — compose with the IVF path when the
    * query set is corpus-sized. Output (qid, nid, rank, cos_e6).
    */
  def hardNegatives(emb: DataFrame, queries: DataFrame, k: Int,
                    ceilE6: Long): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qemb")))
    val scored = emb.join(q, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(graft.plans.TextHashExpressions.vecCosine(col("embedding"), col("qemb")) * lit(1000000.0), 0)
          .cast("long").as("cos_e6"))
      .filter(col("cos_e6") < ceilE6)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_e6").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("cos_e6"))
  }

  def cosineTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qemb")))
    val scored = emb.join(q, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(graft.plans.TextHashExpressions.vecCosine(col("embedding"), col("qemb")) * lit(1000000.0), 0)
          .cast("long").as("cos_e6"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_e6").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("cos_e6"))
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
    * max(candidates) with each candidate's probe RANK kept (every vector
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
    import graft.plans.GeomExpressions.vecNearestCentroids
    require(candidates.nonEmpty && candidates == candidates.sorted,
      s"candidates must be ascending and non-empty: $candidates")
    val spark = emb.sparkSession
    import spark.implicits._
    val maxNp = candidates.last
    val bc = coarseQuantizer(emb, maxCentroids)
    val assigned = emb.withColumn("cid",
      element_at(vecNearestCentroids(col("embedding"), 1, bc), 1))
    val probes = queries.select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      .select(col("qid"), col("qemb"),
        posexplode(vecNearestCentroids(col("qemb"), maxNp, bc)))
      .select(col("qid"), col("qemb"), (col("pos") + 1).as("prn"), col("col").as("cid"))
    val cand = scope.persist(probes.join(assigned, "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), col("prn"),
        round(graft.plans.TextHashExpressions.vecCosine(col("embedding"), col("qemb")) * lit(1000000.0), 0)
          .cast("long").as("cos_e6")))
    val exact = scope.persist(cosineTopK(emb, queries, k).select("qid", "nid"))
    val total = math.max(exact.count(), 1L)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_e6").desc, col("nid"))
    val recalls = candidates.map { np =>
      val hits = cand.filter(col("prn") <= np)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
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

  /** The tuned search: run [[ivfAutotune]]'s calibration, then the IVF
    * top-k at the chosen nprobe — the end-to-end auto-tuned path for
    * pipelines that want the knob picked from data rather than config.
    */
  def cosineTopKIvfAuto(emb: DataFrame, queries: DataFrame, k: Int,
                        calibration: DataFrame, targetRecallPm: Long = 950L,
                        candidates: Seq[Int] = Seq(1, 2, 4, 8),
                        maxCentroids: Int = IvfMaxCentroids): DataFrame = {
    val tuned = ivfAutotune(emb, calibration, k, targetRecallPm, candidates,
        maxCentroids)
      .filter(col("chosen")).select("nprobe").collect()(0).getLong(0).toInt
    cosineTopKIvf(emb, queries, k, maxCentroids, tuned)
  }

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
    val rare = tc.groupBy("tok").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= dfCap).select("tok")
    // persisted (scope-released): feeds both join sides and the norms
    val capped = scope.persist(tc.join(rare, "tok"))
    val norms = capped.groupBy("key").agg(sum(col("c") * col("c")).as("n2"))
    val dots = capped.select(col("tok"), col("key").as("key_a"), col("c").as("ca"))
      .join(capped.select(col("tok"), col("key").as("key_b"), col("c").as("cb"))
        .hint("shuffle_hash"), "tok")
      .filter(col("key_a") < col("key_b"))
      .groupBy("key_a", "key_b").agg(sum(col("ca") * col("cb")).as("dot"))
    dots
      .join(norms.select(col("key").as("key_a"), col("n2").as("na2")), "key_a")
      .join(norms.select(col("key").as("key_b"), col("n2").as("nb2")), "key_b")
      .filter(col("dot") * col("dot") * 1000 >= lit(thrPm) * col("na2") * col("nb2"))
      .selectExpr("key_a", "key_b",
        "(dot * dot * 1000) div (na2 * nb2) AS cos2_pm")
  }
}
