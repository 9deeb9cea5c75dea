package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, LoopFrame}
import graft.functions.Fns
import graft.plans.{HllExpressions, TextHashExpressions}

/** CCNet-style statistical language-model quality scoring: documents are
  * scored by their mean bigram negative log-likelihood under a
  * Laplace-smoothed bigram model trained on a reference split — the
  * "perplexity filter" of a crawl-to-training-data pipeline (docs whose
  * NLL is far above the corpus median are gibberish/boilerplate; far
  * below, degenerate repetition).
  *
  * Everything is deterministic cross-engine: token/bigram keys are the
  * sliding n-gram chain hashes (n=1 and n=2), the per-position
  * probability (c_uni + V)/(c_bigram + 1) is ONE IEEE division of
  * integer counts, its log is the fixed-op-order lnDet kernel quantized
  * to e6 PER ROW (integer sums are associative; float sums across a
  * shuffle are not), and the doc score is the integer mean.
  */
object LmOps {

  /** Per-doc mean bigram NLL (e6 nats) of `corpus` under the bigram LM of
    * `train`. Output: (doc_id, n_bigrams, nll_e6) for docs with >= 2
    * tokens. NLL per position = ln((c_prefix + V) / (c_bigram + 1)) with
    * c_* counts in `train` and V = distinct train unigrams (Laplace) —
    * the ratio is >= 1 (a bigram occurs at most as often as its prefix)
    * and must stay < 2^21 (the unrolled range-reduction contract of
    * [[graft.core.Hll.lnE6]]): train token counts beyond that need a
    * wider unroll on both engines.
    *
    * Scale posture: train-side count tables are map-combined groupBys;
    * V joins in-plan as a broadcast 1-row aggregate (no driver probe);
    * the corpus side is a narrow posexplode joined to the two count
    * tables (shuffle equi-joins — AQE broadcasts them while the vocab is
    * small) and ONE final rollup shuffle on doc_id. Nothing quadratic,
    * nothing driver-side.
    */
  def lmScore(corpus: DataFrame, train: DataFrame): DataFrame = {
    def uni(df: DataFrame) = df.select(col("doc_id"), explode(
      TextHashExpressions.slidingNgramHashes(col("text"), 1)).as("ph"))
    def big(df: DataFrame) = df.select(col("doc_id"), explode(
      TextHashExpressions.slidingNgramHashes(col("text"), 2)).as("bh"))
    val cu = uni(train).groupBy("ph").agg(count(lit(1)).as("cu"))
    val cb = big(train).groupBy("bh").agg(count(lit(1)).as("cb"))
    val v = cu.agg(count(lit(1)).as("v"))

    // corpus positions: bigram hash + its prefix unigram hash (the
    // unigram array rides the row; element_at is 1-based)
    val pos = corpus.select(col("doc_id"),
        TextHashExpressions.slidingNgramHashes(col("text"), 1).as("ua"),
        posexplode(TextHashExpressions.slidingNgramHashes(col("text"), 2))
          .as(Seq("pos", "bh")))
      .select(col("doc_id"), col("bh"),
        element_at(col("ua"), col("pos") + 1).as("ph"))

    val scored = pos
      .join(cb, Seq("bh"), "left")
      .join(cu, Seq("ph"), "left")
      .crossJoin(broadcast(v))
      .withColumn("x",
        (coalesce(col("cu"), lit(0L)) + col("v")).cast("double") /
          (coalesce(col("cb"), lit(0L)) + lit(1L)).cast("double"))
      .withColumn("e", HllExpressions.lnE6(col("x")))
    val sums = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("e").as("se"))
    sums.select(col("doc_id"), col("n_bigrams"),
      ((col("se") - pmod(col("se"), col("n_bigrams"))) / col("n_bigrams"))
        .cast("long").as("nll_e6"))
  }

  /** One BPE-training MERGE ROUND: the frequency table of adjacent
    * symbol pairs over the word-frequency-weighted corpus — at the
    * character stage (the first round of real BPE training, where the
    * alphabet is single characters), the top row IS the first merge a
    * tokenizer trainer would make. Top `k` pairs by (count DESC, pair)
    * so the cut is deterministic.
    *
    * Scale posture: word counting collapses the corpus to its VOCABULARY
    * first (one hash groupBy — Zipf makes |vocab| ≪ corpus tokens), the
    * character-pair explode then runs per DISTINCT word (bounded by
    * word length), and one more map-side-combined groupBy + a
    * TakeOrdered ends it. No window, no join.
    * Input: (doc_id, text). Output: (pair, cnt, rank).
    */
  def bpePairCounts(corpus: DataFrame, k: Int): DataFrame = {
    val words = corpus.select(explode(
        regexp_extract_all(col("text"), lit("[^ ]+"), lit(0))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .filter(length(col("w")) >= 2)
    words
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum("wc").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("pair")))
          .cast("long"))
  }

  /** LANGUAGE-BALANCED subsample: every language keeps its
    * mixId-smallest `n_min` docs, where n_min is the size of the
    * smallest language — the exact, re-runnable "uniform mixture" cut of
    * a multilingual corpus (the rebalancing step between quality gating
    * and training). Deterministic: the per-language rank orders by
    * (mixId(doc_id), doc_id), so re-sharding or re-running never changes
    * the selected set.
    *
    * Scale posture: one per-language window (rank) + a broadcast of the
    * single n_min scalar (computed distributively, joined as a 1-row
    * frame — no driver collect). The window partitions by lang — the
    * same bounded-key contract as every per-group rank here; a
    * monster language spills its sort, the others proceed in parallel.
    * Output: (doc_id, lang, lang_rank).
    */
  def balancedSample(docs: DataFrame): DataFrame = {
    val ranked = docs.select(col("doc_id"), col("lang"))
      .withColumn("lang_rank", row_number().over(
        Window.partitionBy("lang")
          .orderBy(Fns.mixId(col("doc_id")), col("doc_id"))).cast("long"))
    val nMin = ranked.groupBy("lang").agg(count(lit(1)).as("n"))
      .agg(min("n").as("__nmin"))
    ranked.join(broadcast(nMin), col("lang_rank") <= col("__nmin"))
      .select(col("doc_id"), col("lang"), col("lang_rank"))
  }

  /** Bigram PMI collocations over a token corpus: for every adjacent word
    * pair seen ≥ `minCount` times,
    * `pmi = ln( p(ab) / (p(a)·p(b)) ) = ln( c_ab·Nu² / (Nb·c_a·c_b) )`
    * quantized to e6 nats with the same deterministic ln kernel as the LM
    * scorer (the double products exceed 2^53 and round — identically on
    * both engines, every op a fixed IEEE step). The collocation table of
    * a corpus (multi-word entities, templating phrases) — and negative
    * PMI is meaningful too (x < 1 keeps k = 0 in the range reduction, so
    * the kernel stays exact-twin there).
    *
    * Shape: tokens posexplode once; bigrams come from a lead() window
    * partitioned by doc (one doc-keyed shuffle, no interpreted HOF in the
    * hot path); unigram counts join back broadcast (vocabulary-sized);
    * the totals are 1-row broadcast aggregates. Output (wa, wb, cab,
    * pmi_e6).
    */
  /** TextRank keyword scores: integer PageRank over the word
    * co-occurrence graph — the classic unsupervised keyword-extraction
    * primitive, here as a pure composition of the tokenizer shared with
    * [[pmiCollocations]] and [[GraphOps.pageRank]]'s fixed-point
    * arithmetic (bit-identical across engines, same rationale). The
    * graph: an UNDIRECTED edge between adjacent tokens whose unordered
    * bigram count reaches `minCount` (the noise floor — singleton
    * co-occurrences are stopword scaffolding), materialized as both
    * directed edges so the directed PageRank walks it symmetrically.
    *
    * Scale posture: tokenization is one narrow posexplode; the bigram
    * window is per-doc (partitioned window, no global sort); the edge
    * threshold bounds the graph to recurring collocations; then
    * [[GraphOps.pageRank]]'s documented per-iteration shape. Output:
    * (word, rank_e6).
    */
  def textRank(corpus: DataFrame, iterations: Int, minCount: Long,
               scope: CacheScope = CacheScope.global): DataFrame =
    wordRank(corpus, iterations, minCount, weighted = false, scope)

  /** WEIGHTED TextRank: the walk follows co-occurrence counts —
    * [[textRank]]'s graph with the bigram count as edge weight `w`, so
    * [[GraphOps.pageRank]] takes ⌊rank·w/sw⌋ contributions. Same
    * encode/decode bijection, same bit-identity argument.
    */
  def textRankWeighted(corpus: DataFrame, iterations: Int, minCount: Long,
                       scope: CacheScope = CacheScope.global): DataFrame =
    wordRank(corpus, iterations, minCount, weighted = true, scope)

  /** [[GraphOps.pageRank]] over the TextRank word graph: the undirected
    * [[collocationGraph]] edges encoded to dense word ids ([[wordIds]]),
    * each edge in both directions (its count as `w` when `weighted`),
    * and the ranks decoded back to (word, rank_e6).
    */
  private def wordRank(corpus: DataFrame, iterations: Int, minCount: Long,
                       weighted: Boolean, scope: CacheScope): DataFrame = {
    val und = collocationGraph(corpus, minCount)
    val vocab = scope.persist(wordIds(und))
    val enc = und
      .join(vocab.select(col("w").as("a"), col("wid").as("ida")), "a")
      .join(vocab.select(col("w").as("b"), col("wid").as("idb")), "b")
    def directed(from: String, to: String) = enc.select(
      Seq(col(from).as("src"), col(to).as("dst")) ++
        (if (weighted) Seq(col("c").as("w")) else Nil): _*)
    GraphOps.pageRank(directed("ida", "idb").unionByName(directed("idb", "ida")),
        iterations, scope = scope)
      .join(vocab.select(col("wid").as("node_id"), col("w").as("word")),
        "node_id")
      .select(col("word"), col("rank_e6"))
  }

  /** The recurring-collocation word graph shared by both TextRank
    * variants: an undirected edge (a < b, count c ≥ minCount) between
    * adjacent tokens. Tokenization is one narrow posexplode; the bigram
    * window is per-doc (partitioned, no global sort).
    */
  private def collocationGraph(corpus: DataFrame, minCount: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = corpus.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bi = toks.select(col("w").as("wa"), lead(col("w"), 1).over(w).as("wb"))
      .filter(col("wb").isNotNull && col("wa") =!= col("wb"))
    bi.select(least(col("wa"), col("wb")).as("a"),
        greatest(col("wa"), col("wb")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
  }

  /** Bijective word → id dictionary for the collocation graph: ids are
    * the lexicographic rank — a single-partition window BOUNDED by the
    * recurring-collocation vocabulary (the bounded-domain window class
    * of WindowBoundSpec). PageRank's fixed-point update is
    * label-invariant, so encode → rank → decode emits exactly the
    * string loop's rows — and the integral ids unlock [[GraphOps]]'
    * single-shard twin on small graphs.
    */
  private def wordIds(und: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    und.select(col("a").as("w")).unionByName(und.select(col("b").as("w")))
      .distinct()
      .withColumn("wid", row_number().over(Window.orderBy("w")).cast("long"))
  }

  /** Mixed-language document segmentation: language-ID per fixed-width
    * NON-overlapping token chunk (Fns.langId's marker heuristic), then
    * consecutive same-language chunks merged into spans by the
    * gaps-and-islands construction (chunk index minus per-(doc, lang)
    * rank is constant exactly along a run). Real crawl pages switch
    * language mid-document — a per-doc label either mislabels or drops
    * them; spans let a pipeline keep the majority-language slice.
    *
    * Scale posture: one narrow explode (chunks), per-row codegen
    * language scoring, one PER-DOC window (partitioned, no global sort)
    * and one aggregation. Output:
    * (doc_id, lang, start_chunk, end_chunk, n_chunks).
    */
  def langSpans(docs: DataFrame, width: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(width >= 1)
    val toks = filter(split(col("text"), " "), t => length(t) > lit(0))
    val chunks = docs
      .select(col("doc_id"), toks.as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("ws"),
        explode(expr(s"sequence(CAST(0 AS BIGINT), " +
          s"CAST((size(ws) + ${width - 1}) div $width - 1 AS BIGINT))")).as("ci"))
      .select(col("doc_id"), col("ci"),
        graft.functions.Fns.langId(array_join(
          slice(col("ws"), (col("ci") * width + 1).cast("int"), lit(width)),
          " ")).as("lang"))
    val w = Window.partitionBy("doc_id", "lang").orderBy("ci")
    chunks
      .withColumn("grp", col("ci") - row_number().over(w))
      .groupBy("doc_id", "lang", "grp")
      .agg(min(col("ci")).as("start_chunk"), max(col("ci")).as("end_chunk"),
        count(lit(1)).as("n_chunks"))
      .drop("grp")
  }

  def pmiCollocations(corpus: DataFrame, minCount: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = corpus.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bi = toks.select(col("w").as("wa"), lead(col("w"), 1).over(w).as("wb"))
      .filter(col("wb").isNotNull)
    val cu = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nu = toks.agg(count(lit(1)).as("nu"))
    val nb = bi.agg(count(lit(1)).as("nb"))
    bi.groupBy("wa", "wb").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
      .join(broadcast(cu.select(col("w").as("wa"), col("c").as("ca"))), "wa")
      .join(broadcast(cu.select(col("w").as("wb"), col("c").as("cb"))), "wb")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .select(col("wa"), col("wb"), col("cab"),
        HllExpressions.lnE6(
          (col("cab").cast("double") * col("nu") * col("nu")) /
            (col("nb").cast("double") * col("ca") * col("cb"))).as("pmi_e6"))
  }

  /** BPE MERGE TRAINING — the iterative half of [[bpePairCounts]]: R
    * rounds of (count adjacent symbol pairs weighted by word frequency →
    * take the max-count pair, ties to the lexicographically smallest →
    * merge every non-overlapping occurrence left-to-right). Words are
    * the space-padded symbol strings " d a t a "; the merge is a
    * LEFT-TO-RIGHT FOLD over the symbol list — merge when (last(acc),
    * cur) == (x, y) — which is exactly the trainer's greedy
    * non-overlapping rule because the merged token is strictly longer
    * than x and therefore can never re-trigger as the left side of the
    * same round's pattern. (A delimiter-string replace(' x y ') is NOT
    * equivalent: consecutive matches share the boundary space and runs
    * like 'x y x y' under-merge.) No end-of-word marker — a documented
    * intra-word contract.
    *
    * Scale posture: the state table is the VOCABULARY (word, freq,
    * symbol string) — Zipf-bounded, not corpus-bounded; each round is
    * one map-side-combined pair-count shuffle, a TakeOrdered(1) argmax
    * whose single row is the round's broadcast decision (the one
    * documented driver probe — a tokenizer trainer is sequential in its
    * merge list by definition), and a narrow map applying the merge.
    * Round state moves through a [[graft.core.LoopFrame]]. Output:
    * (round, sym_a, sym_b, cnt) — the learned merge table.
    */
  def bpeTrain(corpus: DataFrame, rounds: Int,
               scope: CacheScope = CacheScope.global): DataFrame =
    bpeTrainCore(corpus, rounds, scope)._1

  /** [[bpeTrain]]'s merge list APPLIED back to the corpus: tokenize every
    * document with the learned vocabulary and emit per-doc word and token
    * counts — the compression measurement that tells a pipeline whether
    * its tokenizer budget fits (tokens-per-doc drives training cost).
    *
    * Scale posture: tokenization happens ONCE PER VOCABULARY WORD (the
    * trained state already holds each word's symbol string — token count
    * is a length, no re-fold), then one hash join of the exploded corpus
    * words against that Zipf-bounded vocabulary and a map-side-combined
    * per-doc rollup. Output: (doc_id, n_words, n_tokens).
    */
  def bpeApply(corpus: DataFrame, rounds: Int,
               scope: CacheScope = CacheScope.global): DataFrame = {
    val state = bpeTrainCore(corpus, rounds, scope)._2
    val vocab = state.select(col("w"),
      size(split(trim(col("s")), " ")).cast("long").as("ntok"))
    corpus.select(col("doc_id"), explode(
        regexp_extract_all(col("text"), lit("[^ ]+"), lit(0))).as("w"))
      .join(vocab, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_tokens"))
  }

  /** Vocabulary budget for the single-shard BPE trainer: the whole
    * merge-round ladder runs in ONE task when the (Zipf-bounded) word
    * state fits — the rounds are sequential by definition (each merge
    * decision feeds the next), so the only distributed work worth
    * keeping above this size is the per-round fold map.
    */
  val LocalVocabWords: Long = 1L << 20

  /** Shared trainer dispatch: returns (merge table, final vocabulary
    * state (w, wc, s)). State keeps the raw word `w` as the join key
    * for [[bpeApply]]. Under [[LocalVocabWords]] the whole round ladder
    * runs in one task ([[bpeTrainLocal]]); above it the distributed
    * loop runs verbatim ([[bpeTrainLoop]], spec-reachable).
    */
  private def bpeTrainCore(corpus: DataFrame, rounds: Int,
                           scope: CacheScope): (DataFrame, DataFrame) = {
    val words0 = scope.persist(corpus.select(explode(
        regexp_extract_all(col("text"), lit("[^ ]+"), lit(0))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(col("w"), col("wc"), concat(lit(" "),
        array_join(regexp_extract_all(col("w"), lit("."), lit(0)), " "),
        lit(" ")).as("s")))
    LocalGraph.dispatchBySize(words0, LocalVocabWords)(
      bpeTrainLocal(words0, rounds, scope))(
      _ => bpeTrainLoop(words0, rounds, scope))
  }

  /** Single-shard twin of the BPE trainer under [[LocalVocabWords]]:
    * all merge rounds in one task over the in-memory word state — the
    * identical argmax (cnt desc, then UTF-8-byte-order (x, y), matching
    * Spark's UTF8String binary sort) and the identical left-to-right
    * non-overlapping fold. The tagged output splits into the merge
    * table and the final state with two filters over one persisted
    * vocab-sized frame; parity spec'd against the loop.
    */
  private def bpeTrainLocal(words0: DataFrame, rounds: Int,
                            scope: CacheScope): (DataFrame, DataFrame) = {
    val spark = words0.sparkSession
    import spark.implicits._
    val nRounds = rounds
    val tagged = scope.persist(words0
      .select(col("w"), col("wc"), col("s"))
      .as[(String, Long, String)].coalesce(1).mapPartitions { it =>
        def u8lt(a: String, b: String): Boolean = {
          val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          while (i < x.length && i < y.length) {
            val c = (x(i) & 0xff) - (y(i) & 0xff)
            if (c != 0) return c < 0
            i += 1
          }
          x.length < y.length
        }
        val ws = new scala.collection.mutable.ArrayBuffer[
          (String, Long, Array[String])]()
        it.foreach { case (w, wc, s) => ws += ((w, wc, s.trim.split(" "))) }
        val merges = new scala.collection.mutable.ArrayBuffer[
          (Long, String, String, Long)]()
        var r = 0L
        var done = false
        while (r < nRounds && !done) {
          r += 1
          val cnt = new java.util.HashMap[(String, String), Long]()
          ws.foreach { case (_, wc, syms) =>
            var i = 0
            while (i < syms.length - 1) {
              cnt.merge((syms(i), syms(i + 1)), wc, (a, b) => a + b)
              i += 1
            }
          }
          if (cnt.isEmpty) done = true
          else {
            var bx: String = null; var by: String = null; var bc = Long.MinValue
            val ci = cnt.entrySet().iterator()
            while (ci.hasNext) {
              val e = ci.next()
              val (x, y) = e.getKey
              if (e.getValue > bc ||
                  (e.getValue == bc && (u8lt(x, bx) ||
                    (x == bx && u8lt(y, by))))) {
                bc = e.getValue; bx = x; by = y
              }
            }
            merges += ((r, bx, by, bc))
            var i = 0
            while (i < ws.length) {
              val (w, wc, syms) = ws(i)
              val out = new scala.collection.mutable.ArrayBuffer[String](
                syms.length)
              syms.foreach { s =>
                if (out.nonEmpty && out.last == bx && s == by)
                  out(out.length - 1) = bx + by
                else out += s
              }
              ws(i) = (w, wc, out.toArray)
              i += 1
            }
          }
        }
        merges.iterator.map { case (round, x, y, c) =>
          (0, round, x, y, c, "", 0L, "") } ++
          ws.iterator.map { case (w, wc, syms) =>
            (1, 0L, "", "", 0L, w, wc, " " + syms.mkString(" ") + " ") }
      }.toDF("t", "round", "sym_a", "sym_b", "cnt", "w", "wc", "s"))
    (tagged.filter(col("t") === 0)
        .select(col("round"), col("sym_a"), col("sym_b"), col("cnt")),
      tagged.filter(col("t") === 1).select(col("w"), col("wc"), col("s")))
  }

  /** The distributed round loop of the BPE trainer (spec-reachable
    * directly). `words0` must be the (w, wc, s) vocabulary state.
    */
  private[graft] def bpeTrainLoop(words0: DataFrame, rounds: Int,
      scope: CacheScope = CacheScope.global): (DataFrame, DataFrame) = {
    val spark = words0.sparkSession
    import spark.implicits._
    val state = new LoopFrame(words0)
    val merges = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var r = 0L
    var done = false
    while (r < rounds && !done) {
      r += 1
      val top = state.frame
        .select(col("wc"), split(trim(col("s")), " ").as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(0, size(a) - 2), i -> struct(a[i] AS x, a[i+1] AS y))"))
          .as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y"))
        .limit(1).collect() // the round's single-row merge decision
      if (top.isEmpty) done = true
      else {
        val (x, y, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, x, y, cnt))
        val folded = aggregate(
          split(trim(col("s")), " "),
          array().cast("array<string>"),
          (acc, sym) => when(size(acc) > 0 &&
              element_at(acc, -1) === lit(x) && sym === lit(y),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(x + y))))
            .otherwise(concat(acc, array(sym))))
        state.advance(state.frame.select(col("w"), col("wc"),
          concat(lit(" "), array_join(folded, " "), lit(" ")).as("s")))
      }
    }
    (merges.toSeq.toDF("round", "sym_a", "sym_b", "cnt"), state.keep(scope))
  }
}
