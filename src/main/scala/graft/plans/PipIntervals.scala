package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

import graft.core.{CellCover, CellId, Planar}

/** Sorted-interval cell-list point-in-polygon index — the S2-idiomatic
  * strategy the north rule names verbatim ("broadcast sorted-interval cell
  * lists + exact ray-casting refinement"), as an alternative physical plan
  * to the broadcast cell-cover JOIN of
  * [[graft.operators.SpatialOps.pipJoinConvex]].
  *
  * Build (driver, polygon side is small-by-construction — admin polygons):
  * an ADAPTIVE multi-level cover per polygon — coarse cells fully inside
  * the polygon stay coarse and are marked FULL; boundary cells refine down
  * to `maxLevel` and are marked PARTIAL. Cells are classified by
  * [[graft.core.CellCover]], the exact classifier that also builds the
  * broadcast join's single-level cover; the two plans differ in how a
  * point finds its cover cells (one binary search here, a hash join
  * there). Every cover cell becomes its MaxLevel descendant-id range
  * [[CellId.rangeMin]]..[[CellId.rangeMax]]
  * (the property the sentinel-bit id layout exists for), and the ranges of
  * ALL polygons are swept into DISJOINT sorted elementary segments, each
  * carrying the list of (polygon, full?) refs that cover it.
  *
  * Probe (executor, the 10^12-row point side): ONE binary search of the
  * point's MaxLevel cell id over the broadcast segment starts, then per
  * candidate either accept immediately (FULL cell — the interior fast path
  * that skips the ray cast for the bulk of a large polygon's area) or
  * refine with the exact boundary-inclusive ray cast
  * ([[Planar.pointInPolygon]], the same kernel as every other PIP path, so
  * results are bit-identical). The operator is a pure MAP stage: no join,
  * no shuffle of the point side at all — strictly fewer moving parts than
  * the broadcast-hash-join plan, and the right physical strategy when the
  * polygon set fits comfortably in a broadcast (reference capability:
  * PreparedPolygon::contains at
  * reference/include/osmium/multipolygon/builder.hpp:707-711).
  */
object PipIntervalKernel {

  /** Broadcast payload: disjoint sorted segments of MaxLevel cell-id space.
    * `payloads(i)` holds refs `polyId << 1 | (full ? 1 : 0)` sorted by
    * polyId; `polys` is the exact ring geometry for PARTIAL refinement.
    */
  final class Index(val starts: Array[Long], val ends: Array[Long],
                    val payloads: Array[Array[Int]],
                    val polys: Map[Int, Array[(Array[Long], Array[Long])]])
    extends Serializable {
    def segmentCount: Int = starts.length
    def fullRefs: Int = payloads.iterator.map(_.count(r => (r & 1) == 1)).sum
  }

  private val Empty = new GenericArrayData(Array.empty[Int])

  /** All polygons containing point (x, y), sorted ascending — FULL cells
    * accept without touching geometry; PARTIAL cells run the exact kernel.
    */
  def hits(idxRef: AnyRef, x: Long, y: Long): GenericArrayData = {
    val idx = idxRef.asInstanceOf[Index]
    val id = CellId.fromFix(x, y, CellId.MaxLevel)
    var i = java.util.Arrays.binarySearch(idx.starts, id)
    if (i < 0) i = -i - 2 // greatest segment with start <= id
    if (i < 0 || id > idx.ends(i)) return Empty
    val refs = idx.payloads(i)
    var n = 0
    val buf = new Array[Int](refs.length)
    var k = 0
    while (k < refs.length) {
      val r = refs(k)
      val pid = r >> 1
      if ((r & 1) == 1 || Planar.pointInPolygon(x, y, idx.polys(pid))) {
        buf(n) = pid; n += 1
      }
      k += 1
    }
    if (n == 0) Empty
    else new GenericArrayData(java.util.Arrays.copyOf(buf, n))
  }

  def unwrap(bc: AnyRef): AnyRef = bc.asInstanceOf[Broadcast[Index]].value

  // ---- driver-side index construction --------------------------------------

  /** Adaptive cover of one polygon: recurse PARTIAL cells from `minLevel`
    * to `maxLevel`; FULL cells stop coarse. Emits (cell, full).
    */
  private def adaptiveCover(rings: Array[(Array[Long], Array[Long])],
                            minLevel: Int, maxLevel: Int): Seq[(Long, Boolean)] = {
    val xs = rings.flatMap(_._1); val ys = rings.flatMap(_._2)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    def walk(cell: Long): Unit = {
      val lvl = CellId.level(cell)
      CellCover.classify(cell, rings) match {
        case CellCover.Full => out += ((cell, true))
        case CellCover.Partial =>
          if (lvl >= maxLevel) out += ((cell, false))
          else CellId.children(cell).foreach(walk)
        case _ => ()
      }
    }
    CellId.coverBBox(xs.min, ys.min, xs.max, ys.max, minLevel).foreach(walk)
    out.toSeq
  }

  /** Build the disjoint sorted-interval index over a polygon map. */
  def build(polys: Map[Int, Array[(Array[Long], Array[Long])]],
            minLevel: Int, maxLevel: Int): Index = {
    // (rangeMin, rangeMax, ref) per cover cell, all polygons
    val cells = polys.toSeq.sortBy(_._1).flatMap { case (pid, rings) =>
      adaptiveCover(rings, minLevel, maxLevel).map { case (cell, full) =>
        (CellId.rangeMin(cell), CellId.rangeMax(cell),
          (pid << 1) | (if (full) 1 else 0))
      }
    }
    // sweep into disjoint elementary segments carrying the active ref set
    val events = cells.flatMap { case (lo, hi, ref) =>
      Seq((lo, true, ref), (hi + 1, false, ref)) // hi = rangeMax < 2^62, +1 safe
    }.sortBy(e => (e._1, e._2))
    val starts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ends = scala.collection.mutable.ArrayBuffer.empty[Long]
    val pays = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    val active = scala.collection.mutable.SortedSet.empty[Int]
    var prev = Long.MinValue
    events.foreach { case (pos, isStart, ref) =>
      if (pos != prev && active.nonEmpty && prev != Long.MinValue) {
        starts += prev; ends += pos - 1; pays += active.toArray
      }
      if (pos != prev) prev = pos
      if (isStart) active += ref else active -= ref
    }
    new Index(starts.toArray, ends.toArray, pays.toArray, polys)
  }
}

/** `pip_interval_hits(lon_fix, lat_fix)` → array<int> of containing polygon
  * ids, against a broadcast [[PipIntervalKernel.Index]]. Native codegen so
  * the whole probe (binary search + ray cast) stays inside the scan's
  * whole-stage-codegen span; the expression tree carries only the O(1)
  * broadcast handle (same posture as [[PointInPolygonSet]]).
  */
case class PipIntervalHits(left: Expression, right: Expression,
                           idxBc: Broadcast[PipIntervalKernel.Index])
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pip_interval_hits"

  override def nullSafeEval(x: Any, y: Any): Any =
    PipIntervalKernel.hits(idxBc.value, x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("pipIdxBc", idxBc, "java.lang.Object")
    val cached = ctx.addMutableState("java.lang.Object", "pipIdx", v => s"$v = null;")
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"""if ($cached == null) { $cached = graft.plans.PipIntervalKernel.unwrap($bcRef); }
         |${ev.value} = graft.plans.PipIntervalKernel.hits($cached, $x, $y);""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PipIntervalHits {
  def apply(spark: SparkSession, x: Column, y: Column,
            idx: PipIntervalKernel.Index): Column =
    GraftColumnBridge.column(PipIntervalHits(
      GraftColumnBridge.expression(x),
      GraftColumnBridge.expression(y),
      spark.sparkContext.broadcast(idx)))
}
