package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.TextHash

/** Codegen bridge for generated Java (primitive-loop kernel calls). */
object TextHashKernel {
  def shingles(s: UTF8String, cap: Int, len: Int): GenericArrayData =
    new GenericArrayData(TextHash.shingleHashes(s.toString, cap, len))
  def minhash(s: UTF8String, cap: Int, len: Int, k: Int): GenericArrayData =
    new GenericArrayData(TextHash.minHash(s.toString, cap, len, k))

  /** max-run/total per-mille over the row's sorted shingle hashes —
    * value-identical to the explode + groupBy count formulation (floor
    * division, total >= 1 because shingleHashes emits >= 1 hash).
    */
  def repNgramPm(s: UTF8String, cap: Int, len: Int): Long = {
    val hs = TextHash.shingleHashes(s.toString, cap, len)
    java.util.Arrays.sort(hs)
    var maxRun = 1L
    var run = 1L
    var i = 1
    while (i < hs.length) {
      if (hs(i) == hs(i - 1)) { run += 1; if (run > maxRun) maxRun = run }
      else run = 1
      i += 1
    }
    maxRun * 1000L / hs.length
  }

  def wordChunks(s: UTF8String, w: Int): GenericArrayData =
    new GenericArrayData(TextHash.wordChunkHashes(s.toString, w))

  def slidingNgrams(s: UTF8String, n: Int): GenericArrayData =
    new GenericArrayData(TextHash.slidingNgramHashes(s.toString, n))

  def simHash16(s: UTF8String): Long = TextHash.simHash16(s.toString)
  def simHash64(s: UTF8String): Long = TextHash.simHash64(s.toString)
  def docFingerprint(s: UTF8String): Long = TextHash.docFingerprint(s.toString)
  def linearScore(s: UTF8String): Long = TextHash.linearScore(s.toString)
}

/** Broadcast-backed membership-count kernel (sorted long array +
  * binary search — zero per-row allocation).
  */
object SetKernel {
  def unwrap(bc: AnyRef): AnyRef =
    bc.asInstanceOf[Broadcast[Array[Long]]].value

  def countIn(setRef: AnyRef, hs: ArrayData): Long = {
    val set = setRef.asInstanceOf[Array[Long]]
    var c = 0L; var i = 0; val n = hs.numElements()
    while (i < n) {
      if (java.util.Arrays.binarySearch(set, hs.getLong(i)) >= 0) c += 1
      i += 1
    }
    c
  }
}

/** Broadcast LM count tables: parallel sorted-key/count arrays for
  * unigrams and bigrams plus the vocabulary size — the shipped "model"
  * of streaming LM scoring.
  */
object LmKernel {
  case class Model(uKeys: Array[Long], uCounts: Array[Long],
                   bKeys: Array[Long], bCounts: Array[Long], v: Long)

  def unwrap(bc: AnyRef): AnyRef =
    bc.asInstanceOf[Broadcast[Model]].value

  private def lookup(keys: Array[Long], counts: Array[Long], k: Long): Long = {
    val i = java.util.Arrays.binarySearch(keys, k)
    if (i >= 0) counts(i) else 0L
  }

  /** Σ over bigram positions of round(lnDet((cu+V)/(cb+1))·1e6) — the
    * identical per-position arithmetic of the batch LmOps.lmScore
    * (ua(i) is the prefix unigram of ba(i) by construction of the
    * sliding hashes).
    */
  def nllSum(modelRef: AnyRef, ua: ArrayData, ba: ArrayData): Long = {
    val m = modelRef.asInstanceOf[Model]
    var s = 0L; var i = 0; val n = ba.numElements()
    while (i < n) {
      val cu = lookup(m.uKeys, m.uCounts, ua.getLong(i))
      val cb = lookup(m.bKeys, m.bCounts, ba.getLong(i))
      s += graft.core.Hll.lnE6((cu + m.v).toDouble / (cb + 1L).toDouble)
      i += 1
    }
    s
  }
}

/** Native per-row LM NLL sum against a BROADCAST bigram model — the
  * stateless streaming face of LmOps.lmScore (a live doc scores in its
  * own micro-batch; the count tables travel as one broadcast handle).
  */
case class LmNllSum(left: Expression, right: Expression,
                    modelBc: Broadcast[LmKernel.Model])
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "lm_nll_sum"

  override def nullSafeEval(ua: Any, ba: Any): Any =
    LmKernel.nllSum(modelBc.value,
      ua.asInstanceOf[ArrayData], ba.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("modelBc", modelBc, "java.lang.Object")
    val cached = ctx.addMutableState("java.lang.Object", "lmModel", v => s"$v = null;")
    nullSafeCodeGen(ctx, ev, (ua, ba) =>
      s"""if ($cached == null) { $cached = graft.plans.LmKernel.unwrap($bcRef); }
         |${ev.value} = graft.plans.LmKernel.nllSum($cached, $ua, $ba);""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native count of array elements present in a BROADCAST sorted long set —
  * the per-row face of benchmark decontamination, for surfaces where a
  * join+rollup is unavailable or wasteful (a STREAMING doc row must score
  * statelessly in its own micro-batch; see StreamingOps.decontamStream).
  * Same broadcast-handle/plan-size posture as PointInPolygonSet, with the
  * unwrapped array cached in a codegen mutable member.
  */
case class CountInSortedSet(child: Expression, setBc: Broadcast[Array[Long]])
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "count_in_sorted_set"

  override def nullSafeEval(hs: Any): Any =
    SetKernel.countIn(setBc.value, hs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("setBc", setBc, "java.lang.Object")
    val cached = ctx.addMutableState("java.lang.Object", "sortedSet", v => s"$v = null;")
    nullSafeCodeGen(ctx, ev, hs =>
      s"""if ($cached == null) { $cached = graft.plans.SetKernel.unwrap($bcRef); }
         |${ev.value} = graft.plans.SetKernel.countIn($cached, $hs);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen bridge for the cosine kernel (ArrayData float unwrap). */
object VecCosineKernel {
  def cosine(a: org.apache.spark.sql.catalyst.util.ArrayData,
             b: org.apache.spark.sql.catalyst.util.ArrayData): Double =
    TextHash.cosine(a.toFloatArray(), b.toFloatArray())
}

/** Codegen bridge for the WKT point writer (C++ setprecision(10) parity
  * via core.Wkt.fmtG).
  */
object WktKernel {
  def pointWkt(lonFix: Long, latFix: Long): UTF8String =
    UTF8String.fromString(
      s"POINT(${graft.core.Wkt.fmtG(lonFix / 1e7)} ${graft.core.Wkt.fmtG(latFix / 1e7)})")
}

/** Codegen bridge for the GeoJSON LineString feature writer (same fmtG
  * number formatting as the WKT family — C++ setprecision(10) parity).
  */
object GeoJsonKernel {
  def lineFeature(id: Long,
                  xs: org.apache.spark.sql.catalyst.util.ArrayData,
                  ys: org.apache.spark.sql.catalyst.util.ArrayData): UTF8String = {
    val xa = xs.toLongArray(); val ya = ys.toLongArray()
    val sb = new java.lang.StringBuilder(64 + 24 * xa.length)
    sb.append("{\"type\":\"Feature\",\"properties\":{\"way_id\":").append(id)
      .append("},\"geometry\":{\"type\":\"LineString\",\"coordinates\":[")
    var i = 0
    while (i < xa.length) {
      if (i > 0) sb.append(',')
      sb.append('[').append(graft.core.Wkt.fmtG(xa(i) / 1e7)).append(',')
        .append(graft.core.Wkt.fmtG(ya(i) / 1e7)).append(']')
      i += 1
    }
    sb.append("]}}")
    UTF8String.fromString(sb.toString)
  }
}

/** Codegen bridge for the LSH-bucket kernel (ArrayData float unwrap). */
object VecLshKernel {
  def buckets(vec: org.apache.spark.sql.catalyst.util.ArrayData,
              tables: Int, bits: Int): GenericArrayData =
    new GenericArrayData(TextHash.lshBuckets(vec.toFloatArray(), tables, bits))
}

object TextHashExpressions {
  private val LongArray = ArrayType(LongType, containsNull = false)

  /** Native 16-bit SimHash (long) — value-identical to Fns.simHash16. */
  def simHash16(text: Column): Column =
    NativeCall(TextHashKernel, "simHash16", LongType, text)

  /** Native 64-bit SimHash (4x16-bit bands) — value-identical to
    * Fns.simHash64; band layout documented at core.TextHash.simHash64.
    */
  def simHash64(text: Column): Column =
    NativeCall(TextHashKernel, "simHash64", LongType, text)

  /** Native document fingerprint (sum of token hashes mod 2^61-1) —
    * value-identical to Fns.docFingerprint, replacing its interpreted
    * aggregate-over-tokens lambda in hot ingest paths.
    */
  def docFingerprint(text: Column): Column =
    NativeCall(TextHashKernel, "docFingerprint", LongType, text)

  /** Hashed-token linear classifier score — fastText-style inference as one
    * codegen'd scalar (kernel: TextHash.linearScore), so classifier-based
    * corpus filtering is a zero-shuffle map stage.
    */
  def linearScore(text: Column): Column =
    NativeCall(TextHashKernel, "linearScore", LongType, text)

  /** Native cosine similarity over two `array<float>` embeddings —
    * value-identical to the Column spec form Fns.cosineSim (same
    * ascending-index double accumulation), but a tight primitive loop
    * inside whole-stage codegen instead of interpreted zip_with/aggregate
    * lambdas (the measured 10-100x HOF penalty).
    */
  def vecCosine(a: Column, b: Column): Column =
    NativeCall(VecCosineKernel, "cosine", DoubleType, a, b)

  /** Native WKT point formatter — keeps q_wkt-style exports inside
    * whole-stage codegen where the equivalent Scala UDF would break the
    * span (the reference's ostream writer, geometry/point.hpp:70-75).
    */
  def pointWkt(lonFix: Column, latFix: Column): Column =
    NativeCall(WktKernel, "pointWkt", StringType, lonFix, latFix)

  /** Native GeoJSON Feature writer for fix-coordinate line geometries —
    * the sibling sink format of the WKT/WKB writers, kept inside
    * whole-stage codegen (a Scala UDF would break the span).
    */
  def lineGeoJson(id: Column, xs: Column, ys: Column): Column =
    NativeCall(GeoJsonKernel, "lineFeature", StringType, id, xs, ys)

  /** Native sign-projection LSH buckets over an `array<float>` embedding:
    * `tables` independent `bits`-bit signatures from deterministic
    * hyperplanes (core.TextHash.lshWeight). The ANN scale path for
    * similarity search — candidates come from bucket equality, exact cosine
    * reranks.
    */
  def vecLshBuckets(vec: Column, tables: Int, bits: Int): Column =
    NativeCall(VecLshKernel, "buckets", LongArray, vec, lit(tables), lit(bits))

  /** Native `array<long>` of character n-gram shingle hashes. Replaces the
    * Column-composed Fns.shingleHashes in hot paths: the interpreted
    * higher-order-function form evaluates a boxed lambda per character and
    * was measured >100x slower at sf0.1 (see DedupOps).
    */
  def shingleHashes(text: Column, cap: Int, len: Int): Column =
    NativeCall(TextHashKernel, "shingles", LongArray, text, lit(cap), lit(len))

  /** Native `array<long>` MinHash signature over character n-gram shingles —
    * one pass, no per-element boxing; value-identical to
    * Fns.minHashArray(Fns.shingleHashes(...)) (property-tested).
    */
  def shingleMinHash(text: Column, cap: Int, len: Int, k: Int): Column =
    NativeCall(TextHashKernel, "minhash", LongArray, text, lit(cap), lit(len), lit(k))

  /** Per-mille share of a document's most frequent n-gram shingle — the
    * duplicate-n-gram repetition quality signal. A PURE PER-ROW function:
    * computing it with explode + two groupBys shuffles rows*shingles rows
    * for nothing; this kernel sorts the row's own shingle array and counts
    * the longest run, so the whole query is one map stage.
    */
  def repNgramPm(text: Column, cap: Int, len: Int): Column =
    NativeCall(TextHashKernel, "repNgramPm", LongType, text, lit(cap), lit(len))

  /** Native `array<long>` of non-overlapping w-token chunk hashes — the
    * per-row key array of the CCNet-style cross-document boilerplate dedup
    * (DedupOps.boilerplateChunks). Kernel: TextHash.wordChunkHashes.
    */
  def wordChunkHashes(text: Column, w: Int): Column =
    NativeCall(TextHashKernel, "wordChunks", LongArray, text, lit(w))

  /** Native `array<long>` of SLIDING n-token window hashes — the
    * per-position key array of benchmark decontamination
    * (DedupOps.decontaminate). Kernel: TextHash.slidingNgramHashes.
    */
  def slidingNgramHashes(text: Column, n: Int): Column =
    NativeCall(TextHashKernel, "slidingNgrams", LongArray, text, lit(n))

  def countInSortedSet(hs: Column, bc: Broadcast[Array[Long]]): Column =
    GraftColumnBridge.column(
      CountInSortedSet(GraftColumnBridge.expression(hs), bc))

  def lmNllSum(ua: Column, ba: Column, bc: Broadcast[LmKernel.Model]): Column =
    GraftColumnBridge.column(LmNllSum(
      GraftColumnBridge.expression(ua), GraftColumnBridge.expression(ba), bc))
}
