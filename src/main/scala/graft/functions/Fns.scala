package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.{CellId, TextHash}
import graft.plans.NativeCall

/** Column-level function catalog — the engine's scalar layer.
  *
  * Most builders compose built-in `org.apache.spark.sql.functions`
  * (whole-stage-codegen'd Catalyst expressions); no Scala UDFs in the hot
  * path. Where a query needs an exact DuckDB-oracle twin, the math is pure
  * int64 so both engines agree bit-for-bit.
  *
  * The cell builders and [[mixId]] are native calls into their `core`
  * kernels ([[CellId]], [[TextHash.mixId]]) through
  * [[graft.plans.NativeCall]]: one definition serves the driver and the
  * executors, and a static call stays one expression node where a
  * built-in composition that reads its input twice per step is copied
  * into every consumer by CollapseProject.
  */
object Fns {

  // ---- integer helpers -----------------------------------------------------

  /** Exact integer division for non-negative a (both operands long-valued).
    * Implemented as (a - a % b) / b: the double division is exact because
    * the numerator is divisible by b and the quotient < 2^53.
    */
  def idiv(a: Column, b: Long): Column =
    ((a - pmod(a, lit(b))) / lit(b)).cast("long")

  /** [[idiv]] with a column-valued positive divisor — FLOOR division on
    * any-sign numerators (pmod keeps the subtracted remainder positive).
    * NOTE: DuckDB's `//` TRUNCATES toward zero on negative numerators, so
    * oracle twins must keep numerators non-negative (fold the offset into
    * the numerator) for cross-engine parity. Exactness bound as above.
    */
  def idiv2(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  // ---- deterministic point synthesis ---------------------------------------
  // Points derived from an integer key by multiplicative hashing; identical
  // SQL exists on the DuckDB side. lon in ±90°, lat in ±60° so that squared
  // fix-point distances stay within int64 (see Knn).

  def lonFixOf(key: Column): Column =
    (key * lit(2654435761L)) % lit(1800000000L) - lit(900000000L)

  def latFixOf(key: Column): Column =
    (key * lit(2246822519L)) % lit(1200000000L) - lit(600000000L)

  /** Fixed-point (1e-7 deg) to degrees — position.hpp:43-45. */
  def fixToDeg(fix: Column): Column = fix.cast("double") / lit(1e7)

  // ---- geodesy --------------------------------------------------------------

  /** Haversine distance in meters, reference constants
    * (reference/include/osmium/geometry/haversine.hpp:43-57).
    * Pure built-in trig — stays inside whole-stage codegen.
    */
  def haversineMeters(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val degToRad = lit(0.017453292519943295769236907684886)
    val r = lit(6372797.560856)
    val lonh = sin((lon1 - lon2) * degToRad * lit(0.5))
    val lath = sin((lat1 - lat2) * degToRad * lit(0.5))
    val tmp = cos(lat1 * degToRad) * cos(lat2 * degToRad)
    // clamp: near-antipodal pairs can push the sum a 1-ulp past 1.0,
    // where asin(sqrt(>1)) = NaN and a long cast would silently yield 0.
    // The clamp must be NULL-PROPAGATING (CASE, not least): least(NULL,
    // 1.0) is 1.0 in BOTH engines, which silently turned a null input
    // (e.g. a window lag's first row) into a πR "distance"
    val h = lath * lath + tmp * lonh * lonh
    lit(2.0) * r * asin(sqrt(when(h > lit(1.0), lit(1.0)).otherwise(h)))
  }

  // ---- tiling ---------------------------------------------------------------

  /** Web-mercator tile x at zoom z (clamped into [0, 2^z)). */
  def tileX(z: Int, lonDeg: Column): Column = {
    val n = 1L << z
    val raw = floor((lonDeg + lit(180.0)) / lit(360.0) * lit(n.toDouble)).cast("long")
    least(greatest(raw, lit(0L)), lit(n - 1))
  }

  /** Web-mercator tile y at zoom z (lat clamped to the mercator domain). */
  def tileY(z: Int, latDeg: Column): Column = {
    val n = 1L << z
    val latC = least(greatest(latDeg, lit(-85.05112877980659)), lit(85.05112877980659))
    val latR = radians(latC)
    val raw = floor((lit(1.0) - log(tan(latR) + lit(1.0) / cos(latR)) / lit(math.Pi))
      / lit(2.0) * lit(n.toDouble)).cast("long")
    least(greatest(raw, lit(0L)), lit(n - 1))
  }

  // ---- cell ids -------------------------------------------------------------

  /** Equirectangular grid x / y of fix coords at 2^level resolution
    * (generalizes reference/examples/nodedensity.cpp:47-54): exact int64,
    * clamped into the edge cells on both sides, ANSI overflow errors — the
    * kernel [[CellId.cellX]] / [[CellId.cellY]] that builds the driver-side
    * covers.
    */
  def cellX(lonFix: Column, level: Int): Column =
    NativeCall(CellId, "cellX", LongType, lonFix.cast("long"), lit(level))
  def cellY(latFix: Column, level: Int): Column =
    NativeCall(CellId, "cellY", LongType, latFix.cast("long"), lit(level))

  /** Sentinel-bit morton cell id from grid coordinates ([[CellId.fromXY]]:
    * level sentinel | spread(cx) | spread(cy)<<1, parent = id >> 2) — every
    * operator that buckets by cell goes through this or [[cellId]], the
    * from-fix-coords form.
    */
  def cellIdFromXY(cx: Column, cy: Column, level: Int): Column =
    NativeCall(CellId, "fromXY", LongType, cx.cast("long"), cy.cast("long"), lit(level))

  def cellId(lonFix: Column, latFix: Column, level: Int): Column =
    NativeCall(CellId, "fromFix", LongType, lonFix.cast("long"), latFix.cast("long"), lit(level))

  // ---- text analysis --------------------------------------------------------

  /** Whitespace token count via regexp (identical RE2/Java semantics for
    * this pattern).
    */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^ ]+"), lit(0)))

  /** Occurrences of a literal substring — replace/length arithmetic, exact. */
  def substrCount(text: Column, pat: String): Column =
    ((length(text) - length(replace(text, lit(pat), lit("")))) / lit(pat.length)).cast("long")

  /** Stopword markers per language for the n-gram/stopword language-ID
    * heuristic (space-padded to avoid partial-word hits).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " la "),
    "es" -> Seq(" el ", " y ", " de la "),
  )

  /** Canonical host of a URL for host-level corpus statistics: lowercased
    * host with userinfo/port/path/query/fragment stripped; the scheme
    * class covers RFC 3986 (letters, digits, +.-: svn+ssh://,
    * chrome-extension://). Scheme-less strings normalize to '' (one
    * merged bucket — documented contract). Pure regexp — a crawl-scale
    * normalization that must stay inside whole-stage codegen (no
    * parse_url UDF detour) and have an exact DuckDB twin.
    */
  // userinfo may itself contain '@' (RFC 3986 delimits at the LAST '@'
  // before the path), so the optional userinfo class allows it and the
  // host class forbids it
  val UrlHostRegex = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]+)"
  def urlNormHost(url: Column): Column =
    lower(regexp_extract(url, UrlHostRegex, 1))

  /** Full URL canonicalization for capture-level dedup (the CDX
    * "url key" step of a crawl pipeline): lowercase scheme and host, strip
    * userinfo / fragment / the scheme's default port, sort query
    * parameters, normalize an empty path to "/". Pure regexp + array
    * built-ins — stays inside whole-stage codegen. The correctness oracle
    * is ADVERSARIAL rather than a twin: the synthetic capture corpus
    * ([[graft.sources.Synth.pagesCaptures]]) is built so every surface
    * form has a closed-form canonical URL the DuckDB side computes by
    * arithmetic alone — any canonicalization defect hash-mismatches.
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val hostport =
      lower(regexp_extract(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/?#@]*)", 1))
    val host = when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(hostport)
    val rest = regexp_extract(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$", 1)
    val path = regexp_replace(rest, "\\?.*$", "")
    val qs = regexp_extract(rest, "\\?(.*)$", 1)
    val cq = array_join(sort_array(split(qs, "&")), "&")
    concat(scheme, lit("://"), host,
      when(path === "", lit("/")).otherwise(path),
      when(qs === "", lit("")).otherwise(concat(lit("?"), cq)))
  }

  /** PII redaction for training-data pipelines: emails, dotted-quad IPs
    * and SSN-shaped ids replaced by typed placeholder tokens. The regexes
    * are restricted to constructs with identical semantics in Java regex
    * (Spark) and RE2 (DuckDB) — character classes, bounded repetition,
    * `\b` word boundaries; no lookaround — so the oracle twin runs the
    * SAME patterns (with the 'g' flag: DuckDB replaces only the first
    * match by default). Email runs first so an address's digit runs are
    * not half-eaten by the IP pattern. Pure regexp_replace chain: stays
    * in whole-stage codegen, no UDF.
    */
  val PiiEmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpRegex = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiIdRegex = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, PiiEmailRegex, "<EMAIL>"),
        PiiIpRegex, "<IP>"),
      PiiIdRegex, "<ID>")

  /** Heuristic language id: argmax of marker-hit counts, deterministic
    * tie-break by the LangMarkers order, 'und' (undetermined) when all zero.
    */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val scores = LangMarkers.map { case (lang, ms) =>
      lang -> ms.map(m => substrCount(padded, m)).reduce(_ + _)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Quality score in [0,1000]: blends length, mean token length and
    * punctuation-free ratio. Integer output (exact).
    */
  def qualityScore(text: Column): Column = {
    val toks = tokenCount(text)
    val lenScore = least(length(text).cast("long"), lit(400L))         // 0..400
    val tokScore = least(toks * lit(4L), lit(400L))                    // 0..400
    val stopHits = least(substrCount(concat(lit(" "), text, lit(" ")), " the ") * lit(40L), lit(200L))
    lenScore + tokScore + stopHits                                     // 0..1000
  }

  /** 31-ary Horner hash of the first 8 chars — int64-exact, and expressible
    * as plain ascii/substr arithmetic in any SQL engine.
    */
  def tokenHash(tok: Column): Column =
    (1 to 8).map(i => ascii(substring(tok, i, 1)).cast("long"))
      .reduceLeft((acc, a) => acc * lit(31L) + a)

  /** BPE-ish subword pre-tokenization count: letter runs, digit runs, and
    * single other-non-space characters — the class structure of GPT-style
    * pre-tokenizer regexes, restricted to constructs with identical
    * semantics in Java regex and RE2/DuckDB so the oracle can replicate it
    * verbatim.
    */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0)))

  /** Order-independent document fingerprint: sum of token hashes mod 2^61-1
    * (bounded: ≤ 2^47 per token hash × ≤ 2^20 tokens < 2^63 pre-mod).
    */
  def docFingerprint(text: Column): Column = {
    val toks = regexp_extract_all(text, lit("[^ ]+"), lit(0))
    pmod(
      aggregate(toks, lit(0L), (acc, t) => acc + tokenHashExpr(t)),
      lit(2305843009213693951L))
  }

  private def tokenHashExpr(tok: Column): Column =
    (1 to 8).map(i => ascii(substring(tok, i, 1)).cast("long"))
      .reduceLeft((acc, a) => acc * lit(31L) + a)

  /** Character n-gram shingle hashes of the first `cap` chars: Horner base
    * 31 over `len` chars, reduced mod 1e9+7 (Horner stays < 2^63 for
    * len <= 12; the mod keeps the minhash multiply in int64).
    */
  def shingleHashes(text: Column, cap: Int, len: Int): Column = {
    val t = substring(text, 1, cap)
    val idx = sequence(lit(1), greatest(length(t) - lit(len - 1), lit(1)))
    transform(idx, i =>
      (0 until len).map(o => ascii(substring(t, i + lit(o), lit(1))).cast("long"))
        .reduceLeft((acc, a) => acc * lit(31L) + a) % lit(1000000007L))
  }

  /** MinHash signature component j over shingle hashes:
    * min((a_j·h + b_j) mod p), p = 1e9+7. Universal-hash family with
    * deterministic per-j constants.
    */
  def minHash(shingles: Column, j: Int): Column = {
    val a = 1000003L + 2L * j   // odd multipliers
    val b = 12345L + 7919L * j
    array_min(transform(shingles, h => (h * lit(a) + lit(b)) % lit(1000000007L)))
  }

  /** BIGINT-safe id scatter ([[TextHash.mixId]]: two LCG-mod-(2^31-1)
    * rounds with xor-shift folds) used by the IVF/PQ residue samplers (and
    * their DuckDB oracles) so that clustered id spaces still sample
    * uniformly.
    */
  def mixId(c: Column): Column = NativeCall(TextHash, "mixId", LongType, c.cast("long"))

  /** Let-binding for collection expressions: evaluates `v` exactly once and
    * exposes it to `body` as a lambda variable. Without this, k references
    * to the same Column re-evaluate its whole subtree k times (Catalyst
    * CollapseProject inlines projections; higher-order lambdas are the
    * only value-binding construct available to expressions).
    */
  def bindOnce(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), x => body(x)), 1)

  /** All k minhash components as ONE array-valued expression with the
    * shingle array evaluated exactly once per row. Critical for
    * performance: k separate minHash() columns each recompute the
    * shingling, which dominated the dedup stage 12-fold.
    */
  def minHashArray(shingles: Column, k: Int): Column =
    bindOnce(shingles) { shs =>
      transform(sequence(lit(0), lit(k - 1)), j => {
        val a = lit(1000003L) + lit(2L) * j
        val b = lit(12345L) + lit(7919L) * j
        array_min(transform(shs, h => (h * a + b) % lit(1000000007L)))
      })
    }

  /** 16-bit SimHash over token hashes: bit b set iff the weighted sum of
    * (±1 per token, sign from token-hash bit b) is positive.
    */
  def simHash16(text: Column): Column = {
    val toks = regexp_extract_all(text, lit("[^ ]+"), lit(0))
    val hashes = transform(toks, t => tokenHashExpr(t))
    // bind the hash array once: the 16 per-bit aggregates then scan a
    // materialized array instead of re-hashing every token 16 times
    bindOnce(hashes) { hs =>
      (0 until 16).map { b =>
        val votes = aggregate(hs, lit(0L),
          (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
        when(votes > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    }
  }

  /** 64-bit SimHash spec form (4x16-bit bands, see core.TextHash.simHash64
    * for the layout and the recall guarantee). Interpreted and slow —
    * parity spec for the native TextHashExpressions.simHash64 only.
    */
  def simHash64(text: Column): Column = {
    val toks = regexp_extract_all(text, lit("[^ ]+"), lit(0))
    val hashes = transform(toks, t => tokenHashExpr(t) % lit(1000000007L))
    bindOnce(hashes) { hs =>
      (0 until 64).map { idx =>
        val j = idx / 16; val b = idx % 16
        val a = lit(1000003L + 2L * j); val c = lit(12345L + 7919L * j)
        val votes = aggregate(hs, lit(0L), (acc, h) => {
          val hj = (h * a + c) % lit(1000000007L)
          acc + when(shiftright(hj, b).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))
        })
        when(votes > 0, lit(1L << idx)).otherwise(lit(0L))
      }.reduce((x, y) => x.bitwiseOR(y))
    }
  }

  // ---- embeddings -----------------------------------------------------------

  /** Dot product of two float arrays as a deterministic left fold in double
    * precision (functions.zip_with + aggregate — codegen-friendly).
    */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  def cosineSim(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))
}
