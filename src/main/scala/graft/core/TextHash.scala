package graft.core

/** Tight-loop text hashing kernel backing the native Catalyst expressions
  * (graft.plans.TextHashKernel.minhash / shingles). Value-identical to the
  * Column-composed forms in graft.functions.Fns (shingleHashes/minHash) —
  * those serve as the executable spec; these run ~100x faster because the
  * interpreted higher-order-function path allocates and boxes per element.
  *
  * Semantics (shared with the DuckDB oracle SQL):
  *  - shingle i (1-based, i in [1, max(n-L+1, 1)]) over the first `cap`
  *    CHARACTERS: Horner base 31 over code points, positions past the end
  *    contribute 0 (matching ascii(substr(...)) = 0 on empty), reduced
  *    mod 1e9+7
  *  - minhash_j = min over shingles of (h * (1000003 + 2j) + (12345 + 7919j))
  *    mod 1e9+7
  */
object TextHash {
  val P = 1000000007L

  /** splitmix64-style integer mixer — deterministic pseudo-random weights
    * for LSH hyperplanes without any RNG state.
    */
  def mix64(v: Long): Long = {
    var z = v + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** BIGINT-safe id mixer shared bit-for-bit with the DuckDB oracle
    * (mix64's wrapping 64-bit multiplies can't be written in DuckDB SQL —
    * BIGINT overflow raises). Two rounds of LCG-mod-(2^31-1) + xor-shift;
    * every intermediate stays under 2^62, output in [0, 2^31). Used to
    * scatter vec_ids before residue sampling so a clustered id space
    * (snowflake ids, all ids = r mod 1000) still yields a near-uniform
    * sample.
    */
  def mixId(v: Long): Long = {
    val M = 2147483647L
    var z = (v % M + M) % M
    z = (z * 1103515245L + 12345L) % M
    z = z ^ (z >>> 16)
    z = (z * 69069L + 1L) % M
    z ^ (z >>> 16)
  }

  /** Deterministic hyperplane weight in (-0.5, 0.5) for (table, bit, dim). */
  def lshWeight(table: Int, bit: Int, dim: Int): Double = {
    val h = mix64(table.toLong * 1000003L + bit.toLong * 8191L + dim.toLong)
    (h & 0xFFFFFFFFL).toDouble / 4294967296.0 - 0.5
  }

  /** Sign-projection LSH buckets over a float vector: `tables` independent
    * `bits`-bit signatures (bit b of table t = sign of the deterministic
    * hyperplane (t,b) dot v).
    */
  def lshBuckets(vec: Array[Float], tables: Int, bits: Int): Array[Long] = {
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        var dot = 0.0
        var j = 0
        while (j < vec.length) {
          dot += lshWeight(t, b, j) * vec(j)
          j += 1
        }
        if (dot >= 0) bucket |= 1L << b
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }

  /** Code points of the first `cap` characters. */
  private def codePoints(s: String, cap: Int): Array[Int] = {
    val out = new Array[Int](math.min(s.length, cap))
    var i = 0; var n = 0
    while (i < s.length && n < cap) {
      val cp = s.codePointAt(i)
      out(n) = cp
      n += 1
      i += Character.charCount(cp)
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  def shingleHashes(s: String, cap: Int, len: Int): Array[Long] = {
    val cps = codePoints(s, cap)
    val n = cps.length
    val m = math.max(n - (len - 1), 1)
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var k = 0
      while (k < len) {
        val c = if (i + k < n) cps(i + k) else 0
        h = h * 31 + c
        k += 1
      }
      out(i) = h % P
      i += 1
    }
    out
  }

  /** 8-char Horner token hash: positions past the token end contribute 0
    * (matches ascii(substring(tok, k, 1)) = 0 in the Column-composed spec,
    * Fns.tokenHash).
    */
  def tokenHash(cps: Array[Int], from: Int, to: Int): Long = {
    var h = 0L
    var k = 0
    while (k < 8) {
      val c = if (from + k < to) cps(from + k) else 0
      h = h * 31 + c
      k += 1
    }
    h
  }

  /** 16-bit SimHash over space-separated tokens (tokens = maximal runs of
    * non-space code points, the '[^ ]+' of the spec form Fns.simHash16).
    */
  def simHash16(s: String): Long = {
    val cps = new Array[Int](s.length)
    var i = 0; var n = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      cps(n) = cp; n += 1
      i += Character.charCount(cp)
    }
    val votes = new Array[Int](16)
    var p = 0
    while (p < n) {
      if (cps(p) != ' ') {
        var q = p
        while (q < n && cps(q) != ' ') q += 1
        val h = tokenHash(cps, p, q)
        var b = 0
        while (b < 16) {
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        p = q
      } else p += 1
    }
    var sh = 0L
    var b = 0
    while (b < 16) {
      if (votes(b) > 0) sh |= 1L << b
      b += 1
    }
    sh
  }

  /** 64-bit SimHash as four independent 16-bit bands (hamming-LSH layout):
    * band j votes on bits 0..15 of h_j = ((H mod P) * (1000003+2j) +
    * (12345+7919j)) mod P, H = the 8-char Horner token hash. Band j
    * occupies value bits [16j, 16j+16). Four bands give the standard
    * pigeonhole guarantee: any pair at hamming distance <= 3 shares at
    * least one full band — so band-bucket candidate generation is
    * recall-complete for maxDist <= 3 (unlike the old 16-bit/2-half form,
    * complete only for distance <= 1). All arithmetic int64-safe:
    * H < 2^45, H mod P < 2^30, * a_j < 2^51.
    */
  def simHash64(s: String): Long = {
    val cps = new Array[Int](s.length)
    var i = 0; var n = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      cps(n) = cp; n += 1
      i += Character.charCount(cp)
    }
    val votes = new Array[Int](64)
    var p = 0
    while (p < n) {
      if (cps(p) != ' ') {
        var q = p
        while (q < n && cps(q) != ' ') q += 1
        val hmod = tokenHash(cps, p, q) % P
        var j = 0
        while (j < 4) {
          val hj = (hmod * (1000003L + 2L * j) + (12345L + 7919L * j)) % P
          var b = 0
          while (b < 16) {
            val idx = j * 16 + b
            if (((hj >> b) & 1L) == 1L) votes(idx) += 1 else votes(idx) -= 1
            b += 1
          }
          j += 1
        }
        p = q
      } else p += 1
    }
    var sh = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sh |= 1L << b
      b += 1
    }
    sh
  }

  /** Order-independent document fingerprint: sum of 8-char Horner token
    * hashes mod 2^61-1, tokens = maximal runs of non-space code points —
    * value-identical to the Column spec form Fns.docFingerprint (raw sum
    * first, one mod at the end; magnitudes bounded as documented there).
    */
  def docFingerprint(s: String): Long = {
    val cps = new Array[Int](s.length)
    var i = 0; var n = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      cps(n) = cp; n += 1
      i += Character.charCount(cp)
    }
    var sum = 0L
    var p = 0
    while (p < n) {
      if (cps(p) != ' ') {
        var q = p
        while (q < n && cps(q) != ' ') q += 1
        sum += tokenHash(cps, p, q)
        p = q
      } else p += 1
    }
    java.lang.Math.floorMod(sum, 2305843009213693951L)
  }

  /** Non-overlapping w-token chunk hashes (the CCNet-style boilerplate
    * dedup key): tokens = maximal runs of non-space code points; chunk i
    * covers tokens [i*w, i*w+w); an incomplete tail chunk is dropped.
    * Chunk hash = mod-chain of the 8-char Horner token hashes,
    * h = (h * 1000003 + (tokenHash mod P)) mod P — int64-safe
    * (h < P ~ 1e9, h*1000003 < 2^50).
    */
  def wordChunkHashes(s: String, w: Int): Array[Long] = {
    val cps = new Array[Int](s.length)
    var i = 0; var n = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      cps(n) = cp; n += 1
      i += Character.charCount(cp)
    }
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var h = 0L
    var inChunk = 0
    var p = 0
    while (p < n) {
      if (cps(p) != ' ') {
        var q = p
        while (q < n && cps(q) != ' ') q += 1
        h = (h * 1000003L + tokenHash(cps, p, q) % P) % P
        inChunk += 1
        if (inChunk == w) { out += h; h = 0L; inChunk = 0 }
        p = q
      } else p += 1
    }
    out.toArray
  }

  /** SLIDING n-token window hashes — the benchmark-decontamination key.
    * Same tokenization (maximal runs of non-space code points) and chain
    * hash as [[wordChunkHashes]], but windows advance one token at a time
    * so an n-token run shared with a benchmark document is caught at ANY
    * alignment (non-overlapping chunks would miss shifted contamination).
    * O(T*n) per document — the chain mod is not cheaply invertible, and n
    * is small (8-13), so the rolling recomputation is cheaper than a
    * modular-inverse rolling hash and keeps the DuckDB twin a plain
    * fold over list slices.
    */
  def slidingNgramHashes(s: String, n: Int): Array[Long] = {
    val cps = new Array[Int](s.length)
    var i = 0; var cn = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      cps(cn) = cp; cn += 1
      i += Character.charCount(cp)
    }
    // token hashes, pre-reduced mod P like the chunk chain
    val th = new scala.collection.mutable.ArrayBuffer[Long]()
    var p = 0
    while (p < cn) {
      if (cps(p) != ' ') {
        var q = p
        while (q < cn && cps(q) != ' ') q += 1
        th += tokenHash(cps, p, q) % P
        p = q
      } else p += 1
    }
    val t = th.length
    if (t < n) Array.emptyLongArray
    else {
      val out = new Array[Long](t - n + 1)
      var w = 0
      while (w <= t - n) {
        var h = 0L
        var k = 0
        while (k < n) { h = (h * 1000003L + th(w + k)) % P; k += 1 }
        out(w) = h
        w += 1
      }
      out
    }
  }

  /** Hashed-token linear classifier score (fastText-style inference with
    * a deterministic weight table): tokens = maximal runs of non-space
    * code points (the wordChunkHashes tokenization); each token's 8-char
    * Horner hash mod P indexes the pseudo-random integer weight
    * mixId(h) % 2001 - 1000 in [-1000, 1000]; the score is the plain sum.
    * Deliberately a pure int64 pipeline (hash -> mixId -> small residue)
    * so the inference is one codegen'd map stage and the DuckDB twin
    * (tokenHashSql + mixIdSql, unnest + sum) matches bit-for-bit. A real
    * deployment swaps the weight derivation for a broadcast weight table
    * (the CountInSortedSet / LmNllSum broadcast pattern) — the plan shape
    * (zero-shuffle scoring) is identical.
    */
  def linearScore(s: String): Long = {
    val cps = new Array[Int](s.length)
    var i = 0; var n = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      cps(n) = cp; n += 1
      i += Character.charCount(cp)
    }
    var sum = 0L
    var p = 0
    while (p < n) {
      if (cps(p) != ' ') {
        var q = p
        while (q < n && cps(q) != ' ') q += 1
        sum += mixId(tokenHash(cps, p, q) % P) % 2001L - 1000L
        p = q
      } else p += 1
    }
    sum
  }

  /** Cosine similarity of two float vectors, accumulated in double in
    * ascending index order — bit-identical to the Column spec form
    * (Fns.cosineSim: zip_with/aggregate left folds) and to the DuckDB
    * oracle's ordered sums.
    */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y
      i += 1
    }
    i = 0
    while (i < a.length) { val x = a(i).toDouble; na += x * x; i += 1 }
    i = 0
    while (i < b.length) { val y = b(i).toDouble; nb += y * y; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def minHash(s: String, cap: Int, len: Int, k: Int): Array[Long] = {
    val sh = shingleHashes(s, cap, len)
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      val a = 1000003L + 2L * j
      val b = 12345L + 7919L * j
      var min = Long.MaxValue
      var i = 0
      while (i < sh.length) {
        val v = (sh(i) * a + b) % P
        if (v < min) min = v
        i += 1
      }
      out(j) = min
      j += 1
    }
    out
  }
}
