package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType}

import graft.core.Planar

/** Static kernel entry for generated code (plain JVM-callable shape). */
object PipKernel {
  type Polys = Map[Int, Array[(Array[Long], Array[Long])]]

  def contains(polys: AnyRef, polyId: Int, x: Long, y: Long): Boolean =
    polys.asInstanceOf[Polys].get(polyId) match {
      case Some(rings) => Planar.pointInPolygon(x, y, rings)
      case None => false
    }

  /** Broadcast unwrap for generated code: the task carries only the
    * broadcast HANDLE; the polygon map is fetched once per executor via
    * TorrentBroadcast instead of serializing into every task closure.
    * The generated code caches the unwrapped map in a mutable member so
    * the hot loop never touches the Broadcast lazy val.
    */
  def unwrap(bc: AnyRef): AnyRef =
    bc.asInstanceOf[Broadcast[Polys]].value
}

/** Native Catalyst expression for the exact ray-cast point-in-polygon
  * refinement: `pointInPolygonSet(poly_id, lon_fix, lat_fix)` against a
  * BROADCAST polygon set (rings with holes, even-odd parity — the engine
  * counterpart of PreparedPolygon::contains at
  * reference/include/osmium/multipolygon/builder.hpp:707-711).
  *
  * It is the PARTIAL-cell refinement of the one broadcast PIP strategy,
  * [[graft.operators.SpatialOps.pip]]: the filter after its inner cell
  * join, and the join condition of its left-anti form (a FULL cell
  * short-circuits the `Or` before this expression runs).
  *
  * Implements doGenCode so the predicate stays inside whole-stage codegen
  * (a Scala UDF here would break the codegen span around the broadcast
  * cell-cover join). The polygon set travels as a Spark broadcast
  * variable: the expression tree — and thus every serialized task — holds
  * only the O(1) broadcast handle, so the plan size is independent of the
  * polygon corpus (a country-scale set embedded as a plan reference object
  * would otherwise ship with every task closure).
  */
case class PointInPolygonSet(first: Expression, second: Expression, third: Expression,
                             polysBc: Broadcast[PipKernel.Polys])
  extends TernaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "point_in_polygon_set"

  override def nullSafeEval(polyId: Any, x: Any, y: Any): Any =
    PipKernel.contains(polysBc.value, polyId.asInstanceOf[Int],
      x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("polysBc", polysBc, "java.lang.Object")
    val cached = ctx.addMutableState("java.lang.Object", "pipPolys", v => s"$v = null;")
    nullSafeCodeGen(ctx, ev, (polyId, x, y) =>
      s"""if ($cached == null) { $cached = graft.plans.PipKernel.unwrap($bcRef); }
         |${ev.value} = graft.plans.PipKernel.contains($cached, $polyId, $x, $y);""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object PointInPolygonSet {
  def apply(spark: SparkSession, polyId: Column, x: Column, y: Column,
            polys: PipKernel.Polys): Column =
    fromBroadcast(polyId, x, y, spark.sparkContext.broadcast(polys))

  def fromBroadcast(polyId: Column, x: Column, y: Column,
                    bc: Broadcast[PipKernel.Polys]): Column =
    GraftColumnBridge.column(PointInPolygonSet(
      GraftColumnBridge.expression(polyId),
      GraftColumnBridge.expression(x),
      GraftColumnBridge.expression(y), bc))
}
