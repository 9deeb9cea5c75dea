package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType, StructType}

import graft.core.{Planar, TextHash}

/** Codegen bridge for the row-wise ring-containment kernel. */
object RingKernel {
  def contains(x: Long, y: Long, xs: ArrayData, ys: ArrayData): Boolean =
    Planar.pointInRing(x, y, xs.toLongArray(), ys.toLongArray())

  def convexIntersects(axs: ArrayData, ays: ArrayData,
                       bxs: ArrayData, bys: ArrayData): Boolean =
    Planar.convexIntersects(axs.toLongArray(), ays.toLongArray(),
      bxs.toLongArray(), bys.toLongArray())

  def segIntersectsRing(seg: ArrayData, xs: ArrayData, ys: ArrayData): Boolean = {
    val s = seg.toLongArray()
    Planar.segIntersectsRing(s(0), s(1), s(2), s(3), xs.toLongArray(), ys.toLongArray())
  }

  /** Floor fix coords of the exact crossing point of two packed segments —
    * empty array when parallel/collinear or disjoint (see
    * core.Planar.segIntersectionFix).
    */
  def segIntersectionFix(segA: ArrayData, segB: ArrayData): ArrayData = {
    val a = segA.toLongArray(); val b = segB.toLongArray()
    new GenericArrayData(
      Planar.segIntersectionFix(a(0), a(1), a(2), a(3), b(0), b(1), b(2), b(3)))
  }

  /** Chaikin corner cutting of one coordinate axis, `rounds` iterations,
    * exact integer: each round keeps the endpoints and replaces every
    * edge (a, b) with ⌊(3a+b)/4⌋, ⌊(a+3b)/4⌋ (Math.floorDiv IS floor
    * division — identical to the offset formulation the SQL twin uses on
    * negatives). Arrays shorter than 2 pass through. One JIT'd loop per
    * row instead of a 6^rounds-fold nested SQL expression tree.
    */
  def chaikin(a: ArrayData, rounds: Int): GenericArrayData = {
    var cur = a.toLongArray()
    var r = 0
    while (r < rounds && cur.length >= 2) {
      val n = cur.length
      val out = new Array[Long](2 * n)
      out(0) = cur(0)
      var i = 0
      while (i < n - 1) {
        out(2 * i + 1) = Math.floorDiv(3 * cur(i) + cur(i + 1), 4)
        out(2 * i + 2) = Math.floorDiv(cur(i) + 3 * cur(i + 1), 4)
        i += 1
      }
      out(2 * n - 1) = cur(n - 1)
      cur = out
      r += 1
    }
    new GenericArrayData(cur)
  }

  /** Squared discrete Fréchet distance between two coordinate-array
    * polylines (see core.Planar.discreteFrechet2).
    */
  def discreteFrechet2(axs: ArrayData, ays: ArrayData,
                       bxs: ArrayData, bys: ArrayData): Long =
    Planar.discreteFrechet2(axs.toLongArray(), ays.toLongArray(),
      bxs.toLongArray(), bys.toLongArray())

  /** Squared-distance DTW cost between two coordinate-array polylines
    * (see core.Planar.dtw2).
    */
  def dtw2(axs: ArrayData, ays: ArrayData,
           bxs: ArrayData, bys: ArrayData): Long =
    Planar.dtw2(axs.toLongArray(), ays.toLongArray(),
      bxs.toLongArray(), bys.toLongArray())

  /** Twice the signed shoelace area in fix^2 units (positive = CCW) —
    * exact: the kernel accumulates in BigInt, so absolute coords never
    * overflow mid-sum; the RESULT must fit int64 (any sub-hemisphere
    * ring does — a near-world-bbox ring is rejected, not wrapped).
    */
  def area2(xs: ArrayData, ys: ArrayData): Long = {
    val a = Planar.signedArea2(xs.toLongArray(), ys.toLongArray())
    require(a.isValidLong, "ring area2 overflows int64 (near-world-size ring)")
    a.longValue
  }

  /** EXACT ring centroid in fix coords — [cx, cy] as the FLOOR of the
    * shoelace centroid rationals Σ(vᵢ+vⱼ)·crossᵢⱼ / (3·A2), fully in
    * BigInt (the numerators reach ~10^28 on world-scale rings). The
    * divisor is sign-normalized first so floor semantics are
    * orientation-independent (CW and CCW rings of the same polygon give
    * the same centroid); degenerate zero-area rings are rejected, not
    * silently wrong.
    */
  def centroidFix(xs: ArrayData, ys: ArrayData): GenericArrayData = {
    val x = xs.toLongArray(); val y = ys.toLongArray()
    val n = x.length
    require(n >= 3, "centroid needs a ring of >= 3 points")
    var a2 = BigInt(0); var cxn = BigInt(0); var cyn = BigInt(0)
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val cr = BigInt(x(i)) * y(j) - BigInt(x(j)) * y(i)
      a2 += cr
      cxn += (BigInt(x(i)) + x(j)) * cr
      cyn += (BigInt(y(i)) + y(j)) * cr
      i += 1
    }
    require(a2 != 0, "degenerate ring (zero area) has no centroid")
    var d = a2 * 3
    if (d.signum < 0) { d = -d; cxn = -cxn; cyn = -cyn }
    def fdiv(num: BigInt): Long = {
      val q = (num - (((num % d) + d) % d)) / d
      require(q.isValidLong, "centroid overflows fix range")
      q.longValue
    }
    new GenericArrayData(Array(fdiv(cxn), fdiv(cyn)))
  }

  /** Convex hull statistics `[area2, n_vertices]` of a point SET (order-
    * free) in fix coords — exact extreme-edge formulation: a directed
    * edge (a,b) is a hull edge iff every other distinct point lies
    * strictly left of it, or collinear strictly INSIDE the segment (so a
    * collinear chain contributes exactly its maximal edge and interior
    * chain points are not counted as vertices). Σ cross(a,b) over the
    * qualifying edges is twice the CCW hull area; a fully-collinear set
    * telescopes to area 0 with its two extreme endpoints as "vertices".
    * O(n³) per row — ways are short (the same locally-dense contract as
    * segmentCellCover). BigInt keeps world-scale coords exact; the
    * RESULT must fit int64 (any local way does).
    */
  def hullStats(xs: ArrayData, ys: ArrayData): GenericArrayData = {
    val rx = xs.toLongArray(); val ry = ys.toLongArray()
    // dedup the point set (way derivations can repeat a vertex)
    val pts = rx.zip(ry).distinct
    val n = pts.length
    var area2 = BigInt(0); var nv = 0L
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        if (j != i) {
          val (ax, ay) = pts(i); val (bx, by) = pts(j)
          var ok = true
          var k = 0
          while (ok && k < n) {
            if (k != i && k != j) {
              val (px, py) = pts(k)
              val cr = BigInt(bx - ax) * (py - ay) - BigInt(by - ay) * (px - ax)
              if (cr.signum < 0) ok = false
              else if (cr.signum == 0) {
                val dot = BigInt(px - ax) * (bx - ax) + BigInt(py - ay) * (by - ay)
                val len2 = BigInt(bx - ax) * (bx - ax) + BigInt(by - ay) * (by - ay)
                if (!(dot.signum > 0 && dot < len2)) ok = false
              }
            }
            k += 1
          }
          if (ok) {
            area2 += BigInt(ax) * by - BigInt(bx) * ay
            nv += 1
          }
        }
        j += 1
      }
      i += 1
    }
    require(area2.isValidLong, "hull area2 overflows int64")
    new GenericArrayData(Array(area2.longValue, nv))
  }
}

/** Row-wise Douglas-Peucker kernel over one way's ordered point array. */
object PolylineKernel {

  /** Douglas-Peucker keep-set over a (seq, x, y) struct array sorted by
    * seq. The candidate rule is shared VERBATIM with the SQL oracle's
    * unrolled stages: within an interval the split point maximizes
    * (|cross|, dist²-to-chord-start, -idx) lexicographically, and the
    * interval splits only when that point's perpendicular distance
    * STRICTLY exceeds tol — cross² > tol²·len², with a point-distance
    * fallback (p² > tol²) when the chord is degenerate (len² = 0, e.g. a
    * closed way). Comparisons are exact BigInt: a world-spanning chord's
    * cross product exceeds int64 and must not wrap. Endpoints are always
    * kept; recursion depth ≤ interior-point count (each split consumes
    * one point), which is what bounds the oracle's stage unroll.
    */
  def simplify(pts: ArrayData, tolFix: Long): ArrayData = {
    val n = pts.numElements()
    val xs = new Array[Long](n); val ys = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = pts.getStruct(i, 3)
      xs(i) = r.getLong(1); ys(i) = r.getLong(2)
      i += 1
    }
    val keep = new Array[Boolean](n)
    if (n > 0) { keep(0) = true; keep(n - 1) = true }
    val tol2 = BigInt(tolFix) * tolFix
    var stack: List[(Int, Int)] = List((0, n - 1))
    while (stack.nonEmpty) {
      val (a, b) = stack.head; stack = stack.tail
      if (b - a >= 2) {
        val dx = BigInt(xs(b) - xs(a)); val dy = BigInt(ys(b) - ys(a))
        val l2 = dx * dx + dy * dy
        var bk = -1; var bcr = BigInt(-1); var bp2 = BigInt(-1)
        var k = a + 1
        while (k < b) {
          val cr = (dx * (ys(a) - ys(k)) - dy * (xs(a) - xs(k))).abs
          val px = BigInt(xs(k) - xs(a)); val py = BigInt(ys(k) - ys(a))
          val p2 = px * px + py * py
          if (bk < 0 || cr > bcr || (cr == bcr && p2 > bp2)) {
            bk = k; bcr = cr; bp2 = p2
          }
          k += 1
        }
        val split = if (l2 == 0) bp2 > tol2 else bcr * bcr > tol2 * l2
        if (split) { keep(bk) = true; stack = (a, bk) :: (bk, b) :: stack }
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any](n)
    i = 0
    while (i < n) { if (keep(i)) out += pts.getStruct(i, 3).copy(); i += 1 }
    new GenericArrayData(out.toArray)
  }
}

object ClipKernel {

  /** Exact Liang-Barsky clip of segment [x0,y0,x1,y1] to the closed
    * integer rect [rx0,ry0,rx1,ry1], floor-quantized — the vector-tile cut
    * of a way segment to one tile's extent. The clip parameter t is kept
    * as an exact fraction n/d (d > 0 after sign normalization); a
    * degenerate axis (dx = 0 or dy = 0) contributes the neutral fractions
    * 0/1 and 1/1, valid because callers guarantee bbox overlap on that
    * axis (segmentCellCover's candidate contract). Under the span contract
    * (|d| ≤ maxSpanFix, |n| ≤ span + cell) every product stays ≤ ~2^50 —
    * pure int64, no BigInt, and an exact DuckDB twin (with `//` corrected
    * to floor division, which DuckDB truncates).
    *
    * Returns [cx0, cy0, cx1, cy1] in t order (entry first).
    */
  def clipSegRect(seg: ArrayData, rect: ArrayData): ArrayData = {
    val x0 = seg.getLong(0); val y0 = seg.getLong(1)
    val x1 = seg.getLong(2); val y1 = seg.getLong(3)
    val rx0 = rect.getLong(0); val ry0 = rect.getLong(1)
    val rx1 = rect.getLong(2); val ry1 = rect.getLong(3)
    val dx = x1 - x0; val dy = y1 - y0
    var inXn = 0L; var inXd = 1L; var outXn = 1L; var outXd = 1L
    if (dx > 0) { inXn = rx0 - x0; inXd = dx; outXn = rx1 - x0; outXd = dx }
    else if (dx < 0) { inXn = x0 - rx1; inXd = -dx; outXn = x0 - rx0; outXd = -dx }
    var inYn = 0L; var inYd = 1L; var outYn = 1L; var outYd = 1L
    if (dy > 0) { inYn = ry0 - y0; inYd = dy; outYn = ry1 - y0; outYd = dy }
    else if (dy < 0) { inYn = y0 - ry1; inYd = -dy; outYn = y0 - ry0; outYd = -dy }
    // t0 = max(0, inX, inY); t1 = min(1, outX, outY) — fraction compares
    // are exact cross-products (denominators positive)
    var n0 = inXn; var d0 = inXd
    if (inYn * d0 > n0 * inYd) { n0 = inYn; d0 = inYd }
    if (n0 <= 0) { n0 = 0; d0 = 1 }
    var n1 = outXn; var d1 = outXd
    if (outYn * d1 < n1 * outYd) { n1 = outYn; d1 = outYd }
    if (n1 >= d1) { n1 = 1; d1 = 1 }
    new GenericArrayData(Array(
      x0 + Math.floorDiv(dx * n0, d0), y0 + Math.floorDiv(dy * n0, d0),
      x0 + Math.floorDiv(dx * n1, d1), y0 + Math.floorDiv(dy * n1, d1)))
  }
}

/** Broadcast-backed kernel for IVF coarse-quantizer assignment. */
object CentroidKernel {
  /** (cid, embedding) pairs sorted by cid ascending. */
  type Cents = Array[(Long, Array[Float])]

  def unwrap(bc: AnyRef): AnyRef = bc.asInstanceOf[Broadcast[Cents]].value

  /** Decimal HALF_UP at 1e-6, matching Spark's round() (BigDecimal HALF_UP
    * on the double's shortest decimal form) and DuckDB round() — the
    * assignment must rank by the SAME rounded score the oracle ranks by.
    * Non-finite cosines (zero-norm embeddings: 0/0) score 0 instead of
    * crashing the task on BigDecimal.valueOf(NaN); both engines' SQL twins
    * error on such input downstream, so no passing case diverges.
    */
  def roundE6(x: Double): Long = {
    val scaled = x * 1e6
    if (java.lang.Double.isNaN(scaled) || java.lang.Double.isInfinite(scaled)) 0L
    else java.math.BigDecimal.valueOf(scaled)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
  }

  /** Centroid vector by id (cents sorted by id — binary search). */
  def byId(centsRef: AnyRef, cid: Long): Array[Float] = {
    val cents = centsRef.asInstanceOf[Cents]
    var lo = 0
    var hi = cents.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = cents(mid)._1
      if (c == cid) return cents(mid)._2
      else if (c < cid) lo = mid + 1
      else hi = mid - 1
    }
    throw new NoSuchElementException(s"centroid id $cid not in quantizer")
  }

  /** Nearest single centroid id — the driver-side twin of nearest(top=1)
    * used when training the residual codebook (same rank rule: rounded
    * cosine desc, cid asc).
    */
  def nearestId(cents: Cents, v: Array[Float]): Long = {
    var bestE6 = Long.MinValue
    var bestId = Long.MaxValue
    var i = 0
    while (i < cents.length) {
      val e6 = roundE6(TextHash.cosine(cents(i)._2, v))
      if (e6 > bestE6 || (e6 == bestE6 && cents(i)._1 < bestId)) {
        bestE6 = e6; bestId = cents(i)._1
      }
      i += 1
    }
    bestId
  }

  /** Top `top` centroid ids by (round(cos*1e6) desc, cid asc) — a tight
    * primitive loop over the O(K) broadcast centroid table, so assignment
    * is one map stage: n·K cosines, zero shuffle, no n×K row explosion.
    */
  def nearest(centsRef: AnyRef, vec: ArrayData, top: Int): GenericArrayData = {
    val cents = centsRef.asInstanceOf[Cents]
    val v = vec.toFloatArray()
    val n = math.min(top, cents.length)
    val bestE6 = new Array[Long](n)
    val bestId = new Array[Long](n)
    var filled = 0
    var i = 0
    while (i < cents.length) {
      val e6 = roundE6(TextHash.cosine(cents(i)._2, v))
      val id = cents(i)._1
      var pos = if (filled < n) filled else n
      while (pos > 0 &&
          (bestE6(pos - 1) < e6 || (bestE6(pos - 1) == e6 && bestId(pos - 1) > id))) {
        pos -= 1
      }
      if (pos < n) {
        var j = math.min(filled, n - 1)
        while (j > pos) { bestE6(j) = bestE6(j - 1); bestId(j) = bestId(j - 1); j -= 1 }
        bestE6(pos) = e6
        bestId(pos) = id
        if (filled < n) filled += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(bestId, filled))
  }
}

/** Broadcast-backed kernels for product-quantization (PQ) encode and
  * asymmetric-distance (ADC) scoring of residuals v − centroid. The
  * codebook is `ksub` sample residuals; subspace j of entry ci is its
  * slice [j*subDim, (j+1)*subDim). All distances are squared-L2
  * accumulated in double in ascending index order and rounded to 1e-6
  * (CentroidKernel.roundE6) BEFORE any compare or sum, so argmin ties and
  * ADC totals are exact integer arithmetic on both engines. Raw PQ is
  * residual PQ against [[zeroCentroid]]: float-to-double widening is
  * exact and x − 0.0 == x, so every double op is the raw one.
  */
object PqKernel {
  /** Residual codebook — entry i is sample i's residual (v − coarse
    * centroid) as EXACT doubles (float-to-double widening is exact; the
    * double subtraction is the op both engines evaluate). Production
    * IVF-PQ encodes residuals, not raw vectors: within one inverted list
    * the vectors share a centroid, so residual magnitudes are small and
    * the ksub codewords spend their resolution on the differences that
    * rank the list — most of the recall at high compression.
    */
  case class ResBook(cents: Array[Array[Double]], m: Int) {
    val subDim: Int = if (cents.isEmpty) 0 else cents(0).length / m
  }

  def unwrapRes(bc: AnyRef): AnyRef = bc.asInstanceOf[Broadcast[ResBook]].value

  /** Centroid id of [[zeroCentroid]]. */
  val ZeroCid = 0L

  /** The one-entry centroid table whose centroid is the `dim`-dim zero
    * vector: residuals against it are the raw vectors.
    */
  def zeroCentroid(dim: Int): CentroidKernel.Cents = Array((ZeroCid, new Array[Float](dim)))

  /** v − c in double (the oracle's CAST(... AS DOUBLE) subtraction). */
  def residual(v: Array[Float], c: Array[Float]): Array[Double] = {
    val out = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { out(i) = v(i).toDouble - c(i).toDouble; i += 1 }
    out
  }

  private def subDistE6Res(r: Array[Double], cent: Array[Double],
                           off: Int, subDim: Int): Long = {
    var s = 0.0
    var i = 0
    while (i < subDim) {
      val d = r(off + i) - cent(off + i)
      s += d * d
      i += 1
    }
    CentroidKernel.roundE6(s)
  }

  /** Residual PQ code of `vec` given its coarse centroid id: per
    * subspace, the index of the codebook entry with minimal rounded
    * squared-L2 sub-distance (first index on ties).
    */
  def encodeRes(centsRef: AnyRef, bookRef: AnyRef, vec: ArrayData,
                cid: Long): GenericArrayData = {
    val book = bookRef.asInstanceOf[ResBook]
    val r = residual(vec.toFloatArray(), CentroidKernel.byId(centsRef, cid))
    val out = new Array[Int](book.m)
    var j = 0
    while (j < book.m) {
      var best = Long.MaxValue
      var bi = 0
      var ci = 0
      while (ci < book.cents.length) {
        val d = subDistE6Res(r, book.cents(ci), j * book.subDim, book.subDim)
        if (d < best) { best = d; bi = ci }
        ci += 1
      }
      out(j) = bi
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Residual ADC table of a query against ONE probed list: the query's
    * residual is taken against that list's centroid, so the table is per
    * (query, probe) — the structural cost of residual quantization
    * (nprobe small tables instead of one), paid once per probe, not per
    * candidate.
    */
  def distTableRes(centsRef: AnyRef, bookRef: AnyRef, vec: ArrayData,
                   cid: Long): GenericArrayData = {
    val book = bookRef.asInstanceOf[ResBook]
    val r = residual(vec.toFloatArray(), CentroidKernel.byId(centsRef, cid))
    val ksub = book.cents.length
    val out = new Array[Long](book.m * ksub)
    var j = 0
    while (j < book.m) {
      var ci = 0
      while (ci < ksub) {
        out(j * ksub + ci) = subDistE6Res(r, book.cents(ci), j * book.subDim, book.subDim)
        ci += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** ADC score: integer sum of the code's table entries. */
  def adc(dtab: ArrayData, codes: ArrayData): Long = {
    val m = codes.numElements()
    val ksub = dtab.numElements() / m
    var s = 0L
    var j = 0
    while (j < m) {
      s += dtab.getLong(j * ksub + codes.getInt(j))
      j += 1
    }
    s
  }
}

/** Native residual-PQ encode: codes of (vec − centroid[cid]) against the
  * broadcast residual codebook. Children are (vec, cid); both broadcasts
  * ride the expression with the same unwrap-cache pattern.
  */
case class PqEncodeRes(left: Expression, right: Expression,
                       centsBc: Broadcast[CentroidKernel.Cents],
                       bookBc: Broadcast[PqKernel.ResBook])
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode_res"

  override def nullSafeEval(vec: Any, cid: Any): Any =
    PqKernel.encodeRes(centsBc.value, bookBc.value,
      vec.asInstanceOf[ArrayData], cid.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("ivfCentsBc", centsBc, "java.lang.Object")
    val bookRef = ctx.addReferenceObj("pqResBookBc", bookBc, "java.lang.Object")
    val cCents = ctx.addMutableState("java.lang.Object", "ivfCentsER", v => s"$v = null;")
    val cBook = ctx.addMutableState("java.lang.Object", "pqResBookER", v => s"$v = null;")
    nullSafeCodeGen(ctx, ev, (vec, cid) =>
      s"""if ($cCents == null) { $cCents = graft.plans.CentroidKernel.unwrap($centsRef); }
         |if ($cBook == null) { $cBook = graft.plans.PqKernel.unwrapRes($bookRef); }
         |${ev.value} = graft.plans.PqKernel.encodeRes($cCents, $cBook, $vec, $cid);""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native residual ADC table of (query vec, probed cid). */
case class PqDistTableRes(left: Expression, right: Expression,
                          centsBc: Broadcast[CentroidKernel.Cents],
                          bookBc: Broadcast[PqKernel.ResBook])
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_dist_table_res"

  override def nullSafeEval(vec: Any, cid: Any): Any =
    PqKernel.distTableRes(centsBc.value, bookBc.value,
      vec.asInstanceOf[ArrayData], cid.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("ivfCentsBc", centsBc, "java.lang.Object")
    val bookRef = ctx.addReferenceObj("pqResBookBc", bookBc, "java.lang.Object")
    val cCents = ctx.addMutableState("java.lang.Object", "ivfCentsDR", v => s"$v = null;")
    val cBook = ctx.addMutableState("java.lang.Object", "pqResBookDR", v => s"$v = null;")
    nullSafeCodeGen(ctx, ev, (vec, cid) =>
      s"""if ($cCents == null) { $cCents = graft.plans.CentroidKernel.unwrap($centsRef); }
         |if ($cBook == null) { $cBook = graft.plans.PqKernel.unwrapRes($bookRef); }
         |${ev.value} = graft.plans.PqKernel.distTableRes($cCents, $cBook, $vec, $cid);""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native IVF coarse-quantizer assignment: `array<long>` of the `top`
  * nearest centroid ids (cosine rounded to 1e-6 desc, ties by cid asc)
  * from a BROADCAST centroid table. The centroid table travels as a Spark
  * broadcast variable (O(K), K bounded — see SimilarityOps.VecCandidates.Ivf),
  * and the generated code caches the unwrapped array in a mutable member
  * so the hot loop never touches the Broadcast lazy val (the contended
  * volatile read measured 2x at 32 threads on the PIP path).
  */
case class VecNearestCentroids(child: Expression, top: Int,
                               centsBc: Broadcast[CentroidKernel.Cents])
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_nearest_centroids"

  override def nullSafeEval(vec: Any): Any =
    CentroidKernel.nearest(centsBc.value, vec.asInstanceOf[ArrayData], top)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("centsBc", centsBc, "java.lang.Object")
    val cached = ctx.addMutableState("java.lang.Object", "ivfCents", v => s"$v = null;")
    nullSafeCodeGen(ctx, ev, vec =>
      s"""if ($cached == null) { $cached = graft.plans.CentroidKernel.unwrap($bcRef); }
         |${ev.value} = graft.plans.CentroidKernel.nearest($cached, $vec, $top);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GeomExpressions {
  private val LongArray = ArrayType(LongType, containsNull = false)

  /** The (seq, x, y) point array [[PolylineKernel.simplify]] reads and
    * returns; `seq` only orders the points.
    */
  private val PolylinePoints = ArrayType(new StructType()
    .add("seq", LongType).add("x", LongType).add("y", LongType))

  /** Native exact ray-cast point-in-ring test where the RING IS A COLUMN —
    * the refinement predicate of the DataFrame-native polygon-corpus PIP join
    * (SpatialOps.pipJoinPolygons). Unlike PointInPolygonSet (whose polygon
    * set is a broadcast side table, right for small admin sets), the geometry
    * here rides the joined row, so the polygon corpus can be arbitrarily
    * large and fully distributed. Boundary-inclusive, exact int64 — on CCW
    * convex rings it equals the half-plane conjunction the DuckDB oracle
    * computes. Reference capability: PreparedPolygon::contains,
    * reference/include/osmium/multipolygon/builder.hpp:707-711.
    */
  def pointInRings(x: Column, y: Column, xs: Column, ys: Column): Column =
    NativeCall(RingKernel, "contains", BooleanType, x, y, xs, ys)

  def vecNearestCentroids(vec: Column, top: Int,
                          bc: Broadcast[CentroidKernel.Cents]): Column =
    GraftColumnBridge.column(VecNearestCentroids(
      GraftColumnBridge.expression(vec), top, bc))

  /** Native exact convex-convex intersection predicate where BOTH rings are
    * columns — the refinement of the polygon-polygon overlay join
    * (SpatialOps.polyIntersectJoin): separating-axis over edge normals,
    * every orientation test exact (see core.Planar.convexIntersects).
    * CLOSED semantics (boundary contact intersects) to match the oracle's
    * strict `cross < 0` separation rule. Geometry rides the joined row, so
    * both polygon corpora stay fully distributed.
    */
  def convexIntersects(axs: Column, ays: Column, bxs: Column, bys: Column): Column =
    NativeCall(RingKernel, "convexIntersects", BooleanType, axs, ays, bxs, bys)

  /** Native exact segment-vs-ring intersection predicate (CLOSED semantics:
    * endpoint inside the ring, endpoint on the boundary, or any boundary
    * edge touched/crossed all count) — the refinement of the way-in-polygon
    * join (SpatialOps.wayPolyJoin). The segment rides as a packed
    * `[x0,y0,x1,y1]` array (same convention as [[clipSegRect]]); the ring is
    * a pair of coordinate-array columns, so both the way corpus and the
    * polygon corpus stay fully distributed. See core.Planar.segIntersectsRing.
    */
  def segIntersectsRing(seg: Column, xs: Column, ys: Column): Column =
    NativeCall(RingKernel, "segIntersectsRing", BooleanType, seg, xs, ys)

  /** Native exact 2x-signed-area of a fixed-point ring column (shoelace,
    * BigInt-accumulated, see [[RingKernel.area2]]). Reference capability:
    * the ring-orientation test the assembler runs per ring,
    * reference/include/osmium/multipolygon/builder.hpp (CCW/CW
    * classification), exposed as a scalar.
    */
  def ringArea2(xs: Column, ys: Column): Column =
    NativeCall(RingKernel, "area2", LongType, xs, ys)

  /** Native exact segment-segment intersection POINT — the planarization
    * kernel (SpatialOps.planarize): floor fix coords of the rational
    * crossing point, empty array when parallel/collinear or disjoint.
    * Both segments ride as packed `[x0,y0,x1,y1]` arrays (the
    * [[segIntersectsRing]]/[[clipSegRect]] convention), so both way
    * corpora stay fully distributed. See core.Planar.segIntersectionFix.
    */
  def segIntersectionFix(segA: Column, segB: Column): Column =
    NativeCall(RingKernel, "segIntersectionFix", LongArray, segA, segB)

  /** Native squared discrete Fréchet distance between two coordinate-array
    * polylines — the refinement kernel of the trajectory-similarity join
    * (SpatialOps.frechetJoin). O(m·n) rolling-row DP, exact int64 minimax
    * on fix coords; both track corpora ride the joined row, fully
    * distributed. See core.Planar.discreteFrechet2.
    */
  def frechetDf2(axs: Column, ays: Column, bxs: Column, bys: Column): Column =
    NativeCall(RingKernel, "discreteFrechet2", LongType, axs, ays, bxs, bys)

  /** Native rolling-DP DTW cost on the joined row — the sum sibling of
    * [[frechetDf2]] (min over monotone couplings of Σ d² instead of max).
    * See core.Planar.dtw2.
    */
  def dtwD2(axs: Column, ays: Column, bxs: Column, bys: Column): Column =
    NativeCall(RingKernel, "dtw2", LongType, axs, ays, bxs, bys)

  /** Native Hilbert-curve index of a grid cell — core.CellId.hilbert as a
    * codegen'd scalar so range-partitioned layout writes (the Hilbert
    * sibling of LayoutOps' z-order) stay a zero-shuffle map stage.
    */
  def hilbertIndex(x: Column, y: Column, order: Int): Column =
    NativeCall(graft.core.CellId, "hilbert", LongType, lit(order), x, y)

  /** Native Douglas-Peucker simplification of a way's ordered (seq, x, y)
    * struct-array column — the vector-tile generalization step (ways keep
    * their shape within tol at render scale). The geometry rides the row
    * (no broadcast), so the way corpus is fully distributed; the array
    * in/array out shape keeps the per-way recursion OFF the shuffle (one
    * groupBy builds the array, the kernel runs map-side). `pts` is cast to
    * `array<struct<seq: bigint, x: bigint, y: bigint>>`, the result type.
    */
  def simplifyPolyline(pts: Column, tolFix: Long): Column =
    NativeCall(PolylineKernel, "simplify", PolylinePoints,
      pts.cast(PolylinePoints), lit(tolFix))

  /** Native exact ring centroid: `[cx_fix, cy_fix]` of a fixed-point ring
    * column (shoelace centroid, BigInt, floor-quantized to fix units, see
    * [[RingKernel.centroidFix]]) — the label-anchor / cluster-representative
    * scalar of a polygon pipeline, exact so both engines agree to the last
    * unit.
    */
  def ringCentroidFix(xs: Column, ys: Column): Column =
    NativeCall(RingKernel, "centroidFix", LongArray, xs, ys)

  /** Native convex-hull stats of a point-set column: `[area2, n_vertices]`
    * (exact integer extreme-edge rule, see [[RingKernel.hullStats]]) — the
    * per-feature footprint scalar of a spatial pipeline (way extent class,
    * sliver detection, hull-area/bbox-area compactness). The DuckDB twin is
    * the same rule formulated relationally (pairs + NOT EXISTS witness).
    */
  def hullStats(xs: Column, ys: Column): Column =
    NativeCall(RingKernel, "hullStats", LongArray, xs, ys)

  /** Native Chaikin corner-cutting of one coordinate-array axis (exact
    * integer, see [[RingKernel.chaikin]]) — replaces the nested-`transform`
    * SQL formulation whose expression tree grew 6^rounds-fold.
    */
  def chaikinAxis(a: Column, rounds: Int): Column =
    NativeCall(RingKernel, "chaikin", LongArray, a, lit(rounds))

  /** Native ADC lookup-sum: long score of (distTable, codes) — pure, no
    * broadcast, m array reads per row.
    */
  def pqAdcScore(dtab: Column, codes: Column): Column =
    NativeCall(PqKernel, "adc", LongType, dtab, codes)

  def pqEncodeRes(vec: Column, cid: Column,
                  centsBc: Broadcast[CentroidKernel.Cents],
                  bookBc: Broadcast[PqKernel.ResBook]): Column =
    GraftColumnBridge.column(PqEncodeRes(GraftColumnBridge.expression(vec),
      GraftColumnBridge.expression(cid), centsBc, bookBc))

  def pqDistTableRes(vec: Column, cid: Column,
                     centsBc: Broadcast[CentroidKernel.Cents],
                     bookBc: Broadcast[PqKernel.ResBook]): Column =
    GraftColumnBridge.column(PqDistTableRes(GraftColumnBridge.expression(vec),
      GraftColumnBridge.expression(cid), centsBc, bookBc))

  /** Native exact segment-to-rect clip (`[x0,y0,x1,y1] × [rx0,ry0,rx1,ry1]
    * → [cx0,cy0,cx1,cy1]`, see [[ClipKernel.clipSegRect]]) — the vector-tile
    * geometry cut. Both operands ride the row (no broadcast), so the plan
    * stays a pure map stage over the (segment, cell) cover rows.
    */
  def clipSegRect(seg: Column, rect: Column): Column =
    NativeCall(ClipKernel, "clipSegRect", LongArray, seg, rect)
}
