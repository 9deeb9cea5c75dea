package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.CacheScope
import graft.functions.Fns

/** Training-data-pipeline deduplication operators over a (doc_id, text)
  * corpus. All emit deterministic integer/string outputs.
  *
  * Scale notes: exact dedup is a single hash-shuffle groupBy; MinHash/LSH
  * shuffles only (band_key → doc) pairs (k·rows, narrow); candidate
  * verification joins are band-bucket-local. Pair outputs are
  * candidate-bounded, never all-pairs.
  */
object DedupOps {

  /** Exact duplicate groups keyed by (sha256, length) of the full text;
    * keeps the smallest doc_id as the canonical representative
    * (deterministic). The composite key makes an accidental-collision
    * false-merge effectively impossible at the 10^12-row posture (md5
    * alone is 128-bit and collision-constructible).
    */
  def exactDuplicates(corpus: DataFrame): DataFrame =
    corpus.groupBy(sha2(col("text"), 256).as("text_sha"),
        length(col("text")).cast("long").as("text_len"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** Cross-document boilerplate detection at sub-document granularity
    * (the CCNet/RefinedWeb line-dedup adapted to unbroken text): the doc
    * is cut into non-overlapping `w`-token chunks (native TextHashKernel.wordChunks
    * — one codegen'd pass per row, no word explode), a chunk is
    * boilerplate when it occurs in >= `minDocs` DISTINCT documents, and
    * each doc reports how much of it is boilerplate.
    *
    * Output: (doc_id, n_chunks, n_boiler, boiler_pm) for every doc with
    * at least one full chunk; boiler_pm = floor(n_boiler*1000/n_chunks),
    * the CCNet-style drop-threshold score.
    *
    * Scale: explode is narrow (doc_id, hash) pairs; the global chunk
    * count is one hash-shuffle groupBy with partial aggregation (the
    * distinct-doc count first collapses (hash, doc) map-side); the
    * filtered boiler set joins back to the chunk stream — planned as a
    * broadcast-hash join while the boiler set is small and a shuffle
    * equi-join (AQE) once it outgrows the threshold — and the final
    * per-doc rollup shuffles one narrow row per chunk instance. The
    * chunk stream is recomputed (not cached) on both sides of the join:
    * a map-only explode is cheaper to replay than to persist at corpus
    * scale. No step is quadratic.
    */
  def boilerplateChunks(corpus: DataFrame, w: Int = 8,
                        minDocs: Int = 2): DataFrame = {
    val chunked = corpus.select(col("doc_id"),
      explode(graft.plans.TextHashExpressions.wordChunkHashes(col("text"), w)).as("ch"))
    val boiler = chunked.groupBy("ch")
      .agg(countDistinct("doc_id").as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("ch"), lit(1L).as("__b"))
    chunked.join(boiler, Seq("ch"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), count(col("__b")).as("n_boiler"))
      .withColumn("boiler_pm", expr("n_boiler * 1000 DIV n_chunks"))
  }

  val NumMinHashes = 12
  val BandSize = 4
  val ShingleCap = 256
  val ShingleLen = 10

  /** MinHash signatures (k = NumMinHashes) over character-10-gram shingles
    * of the first ShingleCap chars, via the native TextHashKernel.minhash
    * expression (the Column-composed Fns form is the executable spec but
    * evaluates interpreted lambdas per character — >100x slower).
    * Parameters tuned so band collisions on non-duplicates stay rare even
    * on a narrow-vocabulary corpus.
    */
  def minHashSignatures(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"),
      graft.plans.TextHashExpressions
        .shingleMinHash(col("text"), ShingleCap, ShingleLen, NumMinHashes).as("mh"))

  /** Band buckets larger than this are skipped by the LSH candidate
    * generation: a bucket of size s emits O(s^2) pairs, so one degenerate
    * mega-bucket (boilerplate shingles, near-empty docs) can dominate the
    * whole job at corpus scale. Measured bucket sizes on the test corpora
    * top out at 7, so the cap is inert at verification scale; exact
    * duplicates skipped this way are the exact-dedup pipeline's job
    * anyway. The DuckDB oracle replicates the cap bit-for-bit.
    */
  val MaxBandBucket = 64

  /** (doc_id, band, band_key) banded rows — the LSH bucketing both the
    * batch self-join and the streaming candidate operator share (one
    * stateless narrow pass: signature + posexplode of the band keys).
    */
  def bandedRows(corpus: DataFrame): DataFrame = {
    val nBands = NumMinHashes / BandSize
    val bandKeys = Fns.bindOnce(col("mh")) { mh =>
      transform(sequence(lit(0), lit(nBands - 1)), b => {
        (0 until BandSize).map(i => element_at(mh, b * BandSize + i + 1))
          .reduceLeft((acc, c) => (acc * lit(1000003L) + c) % lit(1000000007L))
      })
    }
    minHashSignatures(corpus)
      .select(col("doc_id"), posexplode(bandKeys).as(Seq("band", "band_key")))
  }

  /** Drop every row of a bucket larger than `cap` rows — the one bucket
    * guard of every candidate generator here and of its QUALIFY oracle
    * twin; `keys` identify the bucket. The kept keys (a row per bucket,
    * so they grow with the corpus) join back shuffled on `keys`, which
    * leaves the rows partitioned for [[bucketPairs]].
    */
  private[graft] def capBuckets(rows: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val small = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= cap)
      .select(keys.map(col): _*)
    rows.join(small.hint("shuffle_hash"), keys)
  }

  /** Every pair of rows sharing a bucket, the blocking step of every
    * near-duplicate candidate generator here: [[capBuckets]] at `cap`
    * (None: capped already, or bounded by construction), then one
    * equi-join on `keys` keeping `id` a < `id` b, hinted shuffled-hash so
    * that no runtime size re-plans it as a broadcast (a capped bucket
    * bounds each build-side table). Output: `keys`, the ids named `out`,
    * and each `carry` column c of both sides as c_a and c_b.
    */
  private[graft] def bucketPairs(rows: DataFrame, keys: Seq[String], id: String,
                                 cap: Option[Int], out: (String, String) = ("doc_a", "doc_b"),
                                 carry: Seq[String] = Nil): DataFrame = {
    val kept = cap.fold(rows)(capBuckets(rows, keys, _))
    def side(name: String, sfx: String) = kept.select(keys.map(col) ++
      (col(id).as(name) +: carry.map(c => col(c).as(s"${c}_$sfx"))): _*)
    side(out._1, "a").join(side(out._2, "b").hint("shuffle_hash"), keys)
      .filter(col(out._1) < col(out._2))
  }

  /** LSH candidate pairs: docs sharing at least one band (bands of
    * BandSize consecutive minhashes, band key = mod-chained polynomial).
    * Output (doc_a < doc_b, n_bands). One pass over the corpus (posexplode
    * of the band-key array), banded rows persisted for the self-join —
    * shuffle cost is O(bands·rows) narrow rows; never all-pairs, and
    * per-bucket pair count is bounded by MaxBandBucket^2.
    */
  def minHashLshPairs(corpus: DataFrame,
                      scope: CacheScope = CacheScope.global): DataFrame = {
    // persisted (scope-released): feeds the bucket-size filter and both
    // sides of the candidate self-join
    val banded = scope.persist(bandedRows(corpus))
    bucketPairs(banded, Seq("band", "band_key"), "doc_id", Some(MaxBandBucket))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Incremental near-dup candidates: a NEW batch LSH-joined against the
    * EXISTING corpus only — the shape every crawl ingestion actually runs
    * (pair today's batch against the index; never re-self-join the
    * accumulated corpus). At scale the existing side's banded rows are a
    * PRECOMPUTED index written once at ingest (see LayoutOps.writeBucketed
    * for the layout that makes the band-key join exchange-free); per batch
    * the work is one banded pass over the batch plus a bounded bucket
    * join. Both sides get the MaxBandBucket cap, computed per side —
    * a degenerate band key saturated on BOTH sides would otherwise emit
    * |old|·|new| pairs. Output (doc_new, doc_old, n_bands).
    */
  def minHashLshPairsIncremental(existing: DataFrame, fresh: DataFrame,
                                 scope: CacheScope = CacheScope.global): DataFrame = {
    val keptOld = capBuckets(scope.persist(bandedRows(existing)),
      Seq("band", "band_key"), MaxBandBucket)
    val keptNew = capBuckets(scope.persist(bandedRows(fresh)),
      Seq("band", "band_key"), MaxBandBucket)
    keptNew.as("n").join(keptOld.as("o"),
        col("n.band") === col("o.band") && col("n.band_key") === col("o.band_key"))
      .groupBy(col("n.doc_id").as("doc_new"), col("o.doc_id").as("doc_old"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Duplicate-cluster assignment: [[GraphOps.connectedComponents]] over
    * the (doc_a, doc_b) pair graph, as (doc_id, cluster_id) with cluster
    * id = smallest doc_id in the component — the step a dedup pipeline
    * runs after pair generation to pick one canonical representative per
    * group of transitively-linked near-duplicates.
    */
  def duplicateClusters(pairs: DataFrame,
                        scope: CacheScope = CacheScope.global): DataFrame =
    GraphOps.connectedComponents(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")), scope)
      .select(col("node_id").as("doc_id"), col("component").as("cluster_id"))

  /** Final dedup-pipeline step: one survivor per near-duplicate cluster —
    * the longest text wins, ties broken by smallest doc_id; documents in
    * no cluster survive as their own singleton. One left join + one
    * struct-min aggregation (map-side combinable), so the step scales like
    * any hash aggregation. Output (doc_id, cluster_id, text_len), one row
    * per surviving document.
    */
  def dedupSurvivors(corpus: DataFrame, clusters: DataFrame): DataFrame = {
    val withC = corpus.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cid"),
        length(col("text")).cast("long").as("len"))
    // survivor per cid = min(struct(-len, doc_id)) — (max len, min id)
    withC.groupBy("cid")
      .agg(min(struct((col("len") * -1L).as("nl"), col("doc_id").as("did"))).as("b"))
      .select(col("b.did").as("doc_id"), col("cid").as("cluster_id"),
        (col("b.nl") * -1L).as("text_len"))
  }

  /** Benchmark decontamination (the GPT-3/PaLM-style n-gram overlap
    * check): every SLIDING n-token window of each corpus document is
    * tested against the set of n-grams occurring anywhere in the
    * benchmark corpus, and each doc reports how many of its windows are
    * contaminated. Sliding (not chunked) windows catch a shared run at
    * any alignment; a single hit is grounds for dropping the doc in a
    * real pipeline, so the per-mille score keeps the full signal.
    *
    * Output: (doc_id, n_ngrams, n_hits, contam_pm) for every corpus doc
    * with at least n tokens (shorter docs have no window to test).
    *
    * Scale: the benchmark side is an eval suite — thousands of docs
    * against a 100 TB corpus — so its distinct-hash set is broadcast
    * (hinted; AQE flips to a shuffle join if a pathological benchmark
    * outgrows the threshold) and the corpus side stays a narrow
    * map-side explode + per-doc rollup: ONE shuffle total (doc_id
    * rollup), nothing quadratic, no corpus-side distinct.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    n: Int): DataFrame = {
    def grams(df: DataFrame) = df.select(col("doc_id"), explode(
      graft.plans.TextHashExpressions.slidingNgramHashes(col("text"), n)).as("h"))
    val bench = grams(benchmark).select("h").distinct()
      .withColumn("hit", lit(1))
    val hits = grams(corpus)
      .join(broadcast(bench), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"), count(col("hit")).as("n_hits"))
    val pm = col("n_hits") * 1000L
    hits.withColumn("contam_pm",
        ((pm - pmod(pm, col("n_ngrams"))) / col("n_ngrams")).cast("long"))
      .select(col("doc_id"), col("n_ngrams"), col("n_hits"), col("contam_pm"))
  }

  /** Corpus-internal repeated n-gram spans — the memorization/templating
    * surface of a training corpus (which exact word runs appear in more
    * than one document, and how often). Same sliding-hash kernel as
    * [[decontaminate]], turned inward: one narrow explode + one
    * map-side-combined groupBy on the span hash; count(distinct doc_id)
    * is the only two-phase aggregate. Nothing pairwise — the output is
    * per-SPAN, so cost is linear in token count at any corpus size.
    * Output (h, n_docs, n_occurrences) for spans seen in ≥ `minDocs` docs.
    */
  def commonSpans(corpus: DataFrame, n: Int, minDocs: Long): DataFrame =
    corpus.select(col("doc_id"), explode(
        graft.plans.TextHashExpressions.slidingNgramHashes(col("text"), n)).as("h"))
      .groupBy("h")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)

  /** Exact n-gram Jaccard verification of the LSH candidates (the
    * canonical MinHash-dedup pipeline: candidates from banding, verified
    * exactly): |A∩B| / |A∪B| over distinct shingle hashes, computed with
    * per-doc shingle arrays joined to the bounded candidate set — no
    * all-pairs stage anywhere. Output pairs with jaccard_pm (per-mille,
    * exact integer) >= threshold.
    */
  def ngramJaccardPairs(corpus: DataFrame, thresholdPm: Int,
                        scope: CacheScope = CacheScope.global): DataFrame = {
    val cand = minHashLshPairs(corpus, scope).select("doc_a", "doc_b")
    // persisted (scope-released): joined twice (doc_a side, doc_b side)
    val sets = scope.persist(corpus.select(col("doc_id"),
      array_distinct(graft.plans.TextHashExpressions
        .shingleHashes(col("text"), ShingleCap, ShingleLen)).as("shs")))
    val inter = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("sza", size(col("sa")).cast("long"))
      .withColumn("szb", size(col("sb")).cast("long"))
    val union = col("sza") + col("szb") - col("i")
    val num = col("i") * lit(1000L)
    inter
      .withColumn("jaccard_pm", ((num - pmod(num, union)) / union).cast("long"))
      .filter(col("jaccard_pm") >= thresholdPm)
      .select(col("doc_a"), col("doc_b"), col("jaccard_pm"))
  }

  /** WINNOWING document fingerprints (the MOSS scheme): over the
    * position-ordered n-gram chain hashes, every window of `w`
    * consecutive hashes contributes its RIGHTMOST MINIMUM; the distinct
    * selected (pos, hash) pairs are the fingerprint — guaranteed to
    * catch any shared substring of ≥ n+w−1 tokens while storing ~2/(w+1)
    * of the grams. The rightmost-min tie rule packs into ONE int64 key
    * h·2²¹ + (2²⁰ − p): a plain sliding `min` then picks (h asc, p desc)
    * — no per-window argmin gymnastics, bit-identical cross-engine.
    *
    * Scale posture: one narrow gram explode, ONE window pass partitioned
    * by doc (frame = w rows, state O(w)), one distinct — linear in
    * corpus tokens, no joins. Docs with fewer than n+w−1 tokens emit
    * nothing (no complete window — the standard contract). Position
    * contract: < 2^20 grams per document — ENFORCED with raise_error,
    * oversized docs fail loudly rather than emit corrupt fingerprints.
    * Output (doc_id, pos, h).
    */
  def winnowFingerprints(corpus: DataFrame, n: Int, w: Int): DataFrame = {
    val grams = corpus.select(col("doc_id"),
        graft.plans.TextHashExpressions.slidingNgramHashes(col("text"), n)
          .as("a"))
      .select(col("doc_id"), size(col("a")).cast("long").as("np"),
        posexplode(col("a")).as(Seq("p", "h")))
      // ENFORCED position contract: the packed key budgets 2^20 positions;
      // a doc with more grams would silently corrupt (2^20 − p) goes
      // negative, wrong window minima). Fail loudly instead.
      .withColumn("np",
        when(col("np") < lit(1L << 20), col("np"))
          .otherwise(raise_error(concat(lit("winnowFingerprints: doc "),
            col("doc_id"), lit(" has "), col("np"),
            lit(" grams >= 2^20 — exceeds the packed-position contract")))))
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    grams
      .withColumn("k",
        min(col("h") * lit(1L << 21) + (lit(1L << 20) - col("p"))).over(cw))
      .filter(col("p") <= col("np") - w)
      .select(col("doc_id"), col("k")).distinct()
      .select(col("doc_id"),
        (lit(1L << 20) - pmod(col("k"), lit(1L << 21))).as("pos"),
        expr(s"k div ${1L << 21}").as("h"))
  }

  /** MOSS-style near-dup CANDIDATE PAIRS from shared winnowing
    * fingerprints: documents sharing ≥ `minShared` distinct fingerprint
    * hashes, with the shared count — the match stage that turns
    * [[winnowFingerprints]] into a plagiarism/boilerplate detector (the
    * n+w−1 guarantee makes recall structural: any shared ≥8-token run
    * forces a shared fingerprint).
    *
    * Scale posture: the per-hash self-join is capped by the SAME
    * [[MaxBandBucket]] rule as every LSH band here — a boilerplate span
    * fingerprint appearing in s docs would otherwise emit s²/2 pairs;
    * dropped hashes are the stopword-boilerplate ones by construction
    * (documented recall cap, twinned via QUALIFY). Output
    * (doc_a, doc_b, n_shared).
    */
  def winnowPairs(corpus: DataFrame, n: Int, w: Int, minShared: Long,
                  scope: CacheScope = CacheScope.global): DataFrame = {
    val fps = scope.persist(
      winnowFingerprints(corpus, n, w).select("doc_id", "h").distinct())
    bucketPairs(fps, Seq("h"), "doc_id", Some(MaxBandBucket))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** EXACT set-similarity join with PREFIX FILTERING (the PPJoin family):
    * all pairs whose distinct-token-set Jaccard is ≥ thrPm permille —
    * deterministic and complete, unlike the MinHash path (probabilistic
    * recall) and without its signature cost. Tokens get a GLOBAL
    * rarity order (df, then token); a document's PREFIX is its first
    * |s| − ⌈τ·|s|⌉ + 1 tokens in that order, and the classic theorem
    * says two sets with J ≥ τ MUST share a prefix token — so the
    * candidate join runs on prefix tokens only, and rare tokens (tiny
    * df) dominate prefixes, bounding fan-out. Candidates verify with an
    * exact integer count: keep iff 1000·|∩| ≥ thrPm·(|a|+|b|−|∩|).
    *
    * Scale posture: df is one map-combined groupBy; the per-doc rank is
    * a window PARTITIONED by doc (bounded by doc length); the candidate
    * self-join is per prefix-token (stopword tokens never enter
    * prefixes at high τ — their df sorts them last); verification joins
    * the full token lists only for surviving candidate pairs. Output:
    * (doc_a, doc_b, inter, union_sz, jac_pm).
    */
  def ppjoinPairs(corpus: DataFrame, thrPm: Long,
                  scope: CacheScope = CacheScope.global): DataFrame = {
    // ONE tokenize pass: the distinct-token ARRAY per doc feeds the prefix
    // index (exploded), the sizes (size(), no groupBy shuffle) and the
    // verification, which intersects the two arrays per candidate pair
    // (|∩| = size(array_intersect) on distinct arrays) — two narrow joins
    // on doc ids, Θ(pairs) shuffled rows instead of Θ(pairs · |doc|).
    val tokArr = scope.persist(ppjoinTokArrays(corpus))
    val (toks, sz) = ppjoinToks(tokArr)
    val cand = ppjoinCandidates(toks, sz, thrPm, scope)
    val a = tokArr.select(col("doc_id").as("doc_a"), col("toks").as("__ta"),
      size(col("toks")).cast("long").as("sza"))
    val b = tokArr.select(col("doc_id").as("doc_b"), col("toks").as("__tb"),
      size(col("toks")).cast("long").as("szb"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("inter", size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .withColumn("union_sz", col("sza") + col("szb") - col("inter"))
      .filter(col("inter") * 1000 >= lit(thrPm) * col("union_sz"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("union_sz"),
        expr("(inter * 1000) div union_sz").as("jac_pm"))
  }

  /** PPJoin's one tokenization: (doc_id, toks), each doc's distinct tokens. */
  private[graft] def ppjoinTokArrays(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), array_distinct(
      regexp_extract_all(col("text"), lit("[^ ]+"), lit(0))).as("toks"))

  /** The candidate stage's inputs: (doc_id, tok) rows and (doc_id, sz). */
  private[graft] def ppjoinToks(tokArr: DataFrame): (DataFrame, DataFrame) =
    (tokArr.select(col("doc_id"), explode(col("toks")).as("tok")),
      tokArr.select(col("doc_id"), size(col("toks")).cast("long").as("sz")))

  /** PPJoin PREFIX rows (tok, doc_id, sz, rn): each document's first
    * |s| − ⌈τ·|s|⌉ + 1 tokens in the global (df, token) rarity order —
    * the shared candidate-key stage of the batch join and the streaming
    * twin (which replays these rows against per-token state). The df
    * table is corpus-global by definition; in a streaming deployment it
    * is the precomputed slowly-changing artifact the stream broadcasts.
    */
  private[graft] def ppjoinPrefixRows(toks: DataFrame, sz: DataFrame,
                                      thrPm: Long): DataFrame = {
    val df = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("tok"))
    toks.join(df, "tok")
      .withColumn("rn", row_number().over(w))
      .join(sz, "doc_id")
      .filter(col("rn") <=
        col("sz") - expr(s"(($thrPm * sz) + 999) div 1000") + 1)
      .select(col("tok"), col("doc_id"), col("sz"), col("rn"))
  }

  /** PPJoin candidate generator (exposed for the boundedness spec):
    * distinct (doc_a, doc_b) pairs surviving prefix + length +
    * positional filtering. toks = (doc_id, tok) distinct-token rows,
    * sz = (doc_id, sz) distinct-token counts.
    */
  private[graft] def ppjoinCandidates(toks: DataFrame, sz: DataFrame,
                                      thrPm: Long,
                                      scope: CacheScope = CacheScope.global): DataFrame = {
    // persisted (scope-released): BOTH sides of the prefix self-join read
    // this — uncached, each side recomputes the df groupBy + the per-doc
    // rank window from scratch
    val prefix = scope.persist(ppjoinPrefixRows(toks, sz, thrPm))
    // TWO lossless companion filters on the candidate join:
    //  • length prune: J ≥ τ forces min(|a|,|b|) ≥ τ·max(|a|,|b|)
    //    (|∩| ≤ min and |∪| ≥ max) — kills size-mismatched candidates;
    //  • POSITIONAL filter (PPJoin's 2nd filter): a shared prefix token
    //    at rarity-rank i in a and j in b bounds the whole overlap by
    //    ubound = min(i−1, j−1) + 1 + min(|a|−i, |b|−j)  (common tokens
    //    strictly before the match ≤ min(i−1,j−1); the match itself; the
    //    tails after it). J ≥ τ needs O·(1000+τ‰) ≥ τ‰·(|a|+|b|), and
    //    ubound ≥ O for EVERY shared occurrence of a true pair, so
    //    dropping rows whose ubound misses the bar loses nothing. This
    //    is what bounds candidates when token rarity collapses (a
    //    boilerplate-heavy shard where every prefix token has df ≈ n/V):
    //    high-rank matches on size-mismatched tails die HERE, before
    //    the distinct + verification joins.
    bucketPairs(prefix, Seq("tok"), "doc_id", None, carry = Seq("sz", "rn"))
      .filter(least(col("sz_a"), col("sz_b")) * 1000 >=
          lit(thrPm) * greatest(col("sz_a"), col("sz_b")) &&
        (least(col("rn_a"), col("rn_b")) +
          least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b"))) *
          lit(1000L + thrPm) >= lit(thrPm) * (col("sz_a") + col("sz_b")))
      .select("doc_a", "doc_b").distinct()
  }

  /** Per-shingle document-frequency cap for [[containmentPairs]]'
    * inverted index: shingles in more docs than this are boilerplate and
    * are dropped from the metric (the documented contract — the oracle
    * applies the same cap). The cap is ALSO the scale bound: a shingle
    * with df ≤ c emits ≤ c² candidate rows, so no stopword shingle can
    * go quadratic in the corpus.
    */
  val ContainDfCap = 64

  /** Asymmetric containment pairs: directed (doc_a → doc_b) where the
    * fraction of doc_a's distinct shingles also present in doc_b is ≥
    * thrPm permille — the quote/excerpt detector. NOT the symmetric
    * Jaccard path: a short document fully quoted inside a long one has
    * high containment but LOW Jaccard, so the MinHash-LSH candidate
    * generator ([[minHashLshPairs]]) is structurally blind to it; recall
    * here comes from a rare-shingle INVERTED INDEX instead (explode
    * distinct shingles, drop df > [[ContainDfCap]], self-join per
    * shingle). Intersections are exact over the capped shingle space;
    * containment = |∩| · 1000 div |S_a| (floor, exact int).
    *
    * Scale: candidate volume is Σ_sh df(sh)² ≤ cap · Σ df — linear in
    * corpus shingle mass at fixed cap; two hash shuffles (index build,
    * pair count) plus the size join. Output (doc_a, doc_b, cont_pm),
    * both directions evaluated independently.
    */
  def containmentPairs(corpus: DataFrame, thrPm: Long,
                       dfCap: Int = ContainDfCap,
                       scope: CacheScope = CacheScope.global): DataFrame = {
    // persisted (scope-released): the shingle explode is the expensive
    // text-hashing pass and BOTH the df aggregation and the capped-index
    // join read it — uncached it shingles the corpus twice
    val sh = scope.persist(corpus.select(col("doc_id"), explode(array_distinct(
      graft.plans.TextHashExpressions
        .shingleHashes(col("text"), ShingleCap, ShingleLen))).as("sh")))
    // persisted (scope-released): the capped index feeds both join sides
    // and the per-doc size aggregation
    val capped = scope.persist(capBuckets(sh, Seq("sh"), dfCap))
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("na"))
    // |∩| is symmetric: count each UNORDERED pair once (a < b) — half
    // the candidate rows through the pair exchange — and expand to both
    // directed containments on the aggregated (orders-of-magnitude
    // smaller) frame before the size join
    // persisted (scope-released): both union branches read the
    // aggregated pair frame — uncached, the heavy per-shingle join would
    // run once per branch
    val inter = scope.persist(bucketPairs(capped, Seq("sh"), "doc_id", None)
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter")))
    inter.unionByName(inter.select(col("doc_b").as("doc_a"),
        col("doc_a").as("doc_b"), col("inter")))
      .join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .filter(col("inter") * 1000 >= lit(thrPm) * col("na"))
      .selectExpr("doc_a", "doc_b", "(inter * 1000) div na AS cont_pm")
  }

  val SimHashBands = 4

  /** SimHash near-dup pairs: 64-bit simhash in 4x16-bit bands (hamming
    * LSH), pairs at hamming distance <= maxDist. Candidates = docs sharing
    * at least one full band; by pigeonhole this is recall-COMPLETE for
    * maxDist <= SimHashBands - 1 = 3 (require it). Each band key is 16
    * bits -> 65536 buckets per band, which bounds bucket sizes
    * statistically — but a degenerate corpus (millions of near-empty docs
    * whose simhash collapses to one value) still concentrates one bucket,
    * so band buckets larger than MaxBandBucket are skipped exactly like
    * the MinHash path: one such bucket of size s would emit s^2/2 pairs
    * and dominate the whole job at crawl scale. Docs sheared off this way
    * are (near-)identical — the exact-dedup pipeline's job.
    */
  def simHashPairs(corpus: DataFrame, maxDist: Int,
                   scope: CacheScope = CacheScope.global): DataFrame = {
    require(maxDist <= SimHashBands - 1,
      s"band bucketing is recall-complete only for maxDist <= ${SimHashBands - 1}")
    val sh = corpus.select(col("doc_id"),
      graft.plans.TextHashExpressions.simHash64(col("text")).as("sh"))
    // persisted (scope-released): feeds the bucket-size filter and both
    // sides of the candidate self-join
    val banded = scope.persist(sh.select(col("doc_id"), col("sh"),
      posexplode(array((0 until SimHashBands).map(j =>
        shiftright(col("sh"), 16 * j).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "band_key"))))
    bucketPairs(banded, Seq("band", "band_key"), "doc_id", Some(MaxBandBucket),
        carry = Seq("sh"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  val NearDupTables = 8
  val NearDupBits = 12

  /** Embedding-cosine near-duplicates: pairs with round(cos,4) >= threshold.
    * Candidates from multi-table sign-projection LSH (VecLshKernel.buckets,
    * 8 tables x 12 bits — the same family the ANN path uses): a pair is a
    * candidate iff some table assigns both vectors the same 12-bit bucket.
    * 4096 buckets per table bound the per-bucket self-join at scale (the
    * old 8-sign-bit form had 256 buckets total and went quadratic);
    * near-identical vectors agree on nearly every hyperplane, so
    * multi-table agreement is near-certain. Exact cosine verifies.
    *
    * Buckets larger than MaxBandBucket are skipped (same cap as the
    * MinHash/SimHash paths): 4096 buckets per table bound sizes only
    * statistically, and a crawl-scale corpus WILL have a degenerate
    * bucket (e.g. near-zero embeddings all hashing alike) whose s^2/2
    * pair blowup would dominate the job.
    */
  def embeddingNearDups(emb: DataFrame, thresholdE4: Long,
                        scope: CacheScope = CacheScope.global): DataFrame = {
    // persisted (scope-released): feeds the bucket-size filter and both
    // sides of the candidate self-join
    val e = scope.persist(SimilarityOps.lshBands(emb, "embedding", NearDupTables, NearDupBits,
      "vec_id", "embedding"))
    bucketPairs(e, Seq("table", "bucket"), "vec_id", Some(MaxBandBucket),
        ("vec_a", "vec_b"), Seq("embedding"))
      .select(col("vec_a"), col("vec_b"),
        round(graft.plans.TextHashExpressions.vecCosine(col("embedding_a"), col("embedding_b")) * lit(10000.0), 0)
          .cast("long").as("cos_e4"))
      .distinct()
      .filter(col("cos_e4") >= thresholdE4)
  }

  /** Edit-distance verification of LSH candidates — the classic near-dup
    * confirm stage alongside [[ngramJaccardPairs]]: levenshtein over the
    * CANDIDATE pairs only (the capped banded self-join of
    * [[minHashLshPairs]] — never all-pairs). Texts join back by id (two
    * hash joins), so the O(len²) DP kernel runs exactly once per
    * candidate; output (doc_a, doc_b, edist) for pairs within `maxDist`.
    */
  def editDistancePairs(corpus: DataFrame, maxDist: Int,
                        scope: CacheScope = CacheScope.global): DataFrame = {
    val cand = minHashLshPairs(corpus, scope).select("doc_a", "doc_b")
    // persisted (scope-released): joined twice — doc_a side and doc_b side
    val texts = scope.persist(corpus.select(col("doc_id"), col("text")))
    val ta = texts.select(col("doc_id").as("doc_a"), col("text").as("__ta"))
    val tb = texts.select(col("doc_id").as("doc_b"), col("text").as("__tb"))
    cand.join(ta, "doc_a").join(tb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__ta"), col("__tb")).cast("long").as("edist"))
      .filter(col("edist") <= maxDist)
  }

  // ---- incremental (cross-batch) dedup --------------------------------------

  /** Bloom-filter words over a long key column: `k` probe positions per
    * key in an m = 2^logM bit space, packed into m/32 (word, bits) rows.
    * Positions derive from [[Fns.mixId]] (BIGINT-safe, oracle-exact), and
    * the whole filter is ONE map-side-combinable bit_or aggregation over
    * at most m/32 groups — for the default logM=16 that is a 2048-row
    * table, broadcastable no matter how large the seen corpus is. Words
    * are 32-bit (bit index < 32) so neither engine ever shifts into the
    * sign bit.
    */
  def bloomBits(keys: DataFrame, keyCol: String, logM: Int = BloomLogM,
                k: Int = BloomK): DataFrame = {
    require(logM >= 1 && logM <= 31,
      s"logM must be in [1, 31] (mixId positions are < 2^31): $logM")
    val m = 1L << logM
    keys.select(explode(array((0 until k).map(j =>
        Fns.mixId(col(keyCol) + lit(j * BloomSeed)) % lit(m)): _*)).as("p"))
      .select(Fns.idiv(col("p"), 32).as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").as("mask"))
      .groupBy("word").agg(expr("bit_or(mask)").as("bits"))
  }

  /** Incremental-crawl dedup: flag every document of a `fresh` batch whose
    * key (content fingerprint) may already exist in the `seen` corpus —
    * Bloom probe first, exact confirmation join second. This is the
    * cross-batch companion of [[exactDuplicates]]: a daily 10^9-page crawl
    * increment must not shuffle-join the full 10^12-page history, so the
    * broadcast Bloom table (built from `seen` in one aggregation) kills
    * the non-duplicate bulk map-side, and only the bloom-hit sliver —
    * true duplicates plus the deterministic false-positive residue — pays
    * the exact key join. Both stages are deterministic (mixId positions),
    * so the DuckDB oracle reproduces the exact flag pattern, false
    * positives included.
    *
    * Output: (doc_id, bloom_hit, confirmed) for every fresh doc, 1/0
    * longs; bloom_hit >= confirmed always, and the gap is the measured
    * false-positive count of the filter configuration.
    */
  def bloomIncrementalDedup(seen: DataFrame, fresh: DataFrame, keyCol: String,
                            logM: Int = BloomLogM, k: Int = BloomK): DataFrame = {
    val m = 1L << logM
    val bloom = broadcast(bloomBits(seen.select(keyCol), keyCol, logM, k))
    val probes = fresh.select(col("doc_id"), col(keyCol))
      .withColumn("p", explode(array((0 until k).map(j =>
        Fns.mixId(col(keyCol) + lit(j * BloomSeed)) % lit(m)): _*)))
      .withColumn("word", Fns.idiv(col("p"), 32))
      .withColumn("mask", expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))"))
    val hits = probes.join(bloom, Seq("word"), "left")
      .groupBy("doc_id")
      .agg(min(when(coalesce(col("bits"), lit(0L))
        .bitwiseAND(col("mask")) === col("mask"), 1L).otherwise(0L)).as("bloom_hit"))
    val confirmed = fresh.join(hits, "doc_id").filter(col("bloom_hit") === 1L)
      .join(seen.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
      .select(col("doc_id"), lit(1L).as("__c"))
    hits.join(confirmed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bloom_hit"),
        coalesce(col("__c"), lit(0L)).as("confirmed"))
  }

  /** Bloom defaults: m = 2^16 bits / k = 4 probes — ~0.2% false-positive
    * rate at 4k keys; at crawl scale callers raise logM up to the hard
    * cap of 31 (mixId positions are < 2^31; the 2^26-row word table is
    * still broadcastable) — beyond ~10^9 keys, shard the filter by key
    * range instead.
    */
  val BloomLogM = 16
  val BloomK = 4
  /** Probe-position seed spacing (Knuth multiplicative constant); keeps
    * mixId inputs < 2^62 for any fingerprint < 2^61.
    */
  val BloomSeed = 2654435761L

  /** EXACT edit-distance-1 string join by deletion neighborhoods (the
    * FastSS construction): two strings are at Levenshtein distance 1 iff
    * either (a) they share a single-deletion variant at the SAME
    * position while differing (substitution — same-position is what
    * rules out transposition-style ed-2 pairs like "ab"/"ba"), or
    * (b) one IS a single-deletion variant of the other (indel). So the
    * join key is the variant string: each distinct input string of
    * length L emits L deletion variants plus itself, and ed-1 pairs fall
    * out of two equi-joins — a typo-cluster / near-identical-URL join
    * with NO distance kernel and no candidate generator.
    *
    * Scale posture: strings are DEDUPLICATED first, so a join bucket
    * (variant, pos) holds at most |alphabet|+1 distinct strings (the
    * ways to re-insert one character) — structurally bounded, no cap
    * parameter needed; id multiplicity re-enters only through the final
    * id join, whose fan-out is the true output size. Everything is
    * equi-join + groupBy: three hash shuffles, linear in total string
    * mass. Unlike [[editDistancePairs]] (LSH candidates + full DP
    * kernel, any maxDist) this path is exact and complete for d = 1.
    *
    * Output: (doc_a, doc_b, kind) with doc_a < doc_b, kind ∈
    * {'sub','indel'}.
    */
  def editOnePairs(df: DataFrame, idCol: String, strCol: String,
                   scope: CacheScope = CacheScope.global): DataFrame = {
    val ids = df.select(col(idCol).cast("long").as("__id"),
      col(strCol).as("__s"))
    val ds = ids.select("__s").distinct()
    // 0-based deletion position via posexplode over the 1-based transform
    // (length >= 1 guard: Spark's sequence(1, 0) DESCENDS, not empties)
    val del = scope.persist(ds.filter(length(col("__s")) >= 1)
      .select(col("__s"), posexplode(expr(
      "transform(sequence(1, length(__s)), " +
        "i -> concat(substring(__s, 1, i - 1), substring(__s, i + 1)))"))
        .as(Seq("pos", "key"))))
    val subs = bucketPairs(del, Seq("key", "pos"), "__s", None, ("sa", "sb"))
      .select("sa", "sb")
    val indel = ds.select(col("__s").as("key"), col("__s").as("sa"))
      .join(del.select(col("key"), col("__s").as("sb")), "key")
      .select("sa", "sb").distinct() // "aa"->"a" matches at 2 positions
    val pairs = subs.unionByName(indel)
      .select(least(col("sa"), col("sb")).as("sa"),
        greatest(col("sa"), col("sb")).as("sb"),
        when(length(col("sa")) === length(col("sb")), lit("sub"))
          .otherwise(lit("indel")).as("kind"))
    pairs
      .join(ids.select(col("__s").as("sa"), col("__id").as("ia")), "sa")
      .join(ids.select(col("__s").as("sb"), col("__id").as("ib")), "sb")
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"), col("kind"))
  }

  /** Place conflation — the gazetteer-merge join (same real-world place,
    * two records): candidate pairs whose NAMES are at exact Levenshtein
    * distance 1 (the complete [[editOnePairs]] FastSS join — typos and
    * transliteration drift) that also lie within `radiusFix` of each
    * other (exact int64 planar d²). Name similarity alone over-merges
    * ("Springfield"); proximity alone over-merges (market stalls); the
    * conjunction is the classic conflation rule.
    *
    * Input: (place_id, name, x, y). Output: (place_a, place_b, kind, d2)
    * with place_a < place_b, kind ∈ {'sub','indel'}.
    *
    * Scale posture: candidates come ONLY from the deletion-neighborhood
    * equi-join (structurally bounded buckets — see [[editOnePairs]]);
    * the coordinate filter is two hash joins on place_id. Never
    * all-pairs, no distance candidate generator needed because the name
    * index already bounds the pair set.
    */
  def conflatePlaces(places: DataFrame, radiusFix: Long): DataFrame = {
    val pairs = editOnePairs(places, "place_id", "name")
      .select(col("doc_a").as("place_a"), col("doc_b").as("place_b"),
        col("kind"))
    val ca = places.select(col("place_id").as("place_a"),
      col("x").as("xa"), col("y").as("ya"))
    val cb = places.select(col("place_id").as("place_b"),
      col("x").as("xb"), col("y").as("yb"))
    val dx = col("xa") - col("xb"); val dy = col("ya") - col("yb")
    pairs.join(ca, "place_a").join(cb, "place_b")
      .filter(dx * dx + dy * dy <= lit(radiusFix) * lit(radiusFix))
      .select(col("place_a"), col("place_b"), col("kind"),
        (dx * dx + dy * dy).as("d2"))
  }
}
