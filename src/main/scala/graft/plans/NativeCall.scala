package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.DataType

/** A native row kernel as a Catalyst expression: Spark's StaticInvoke of
  * `kernel.method(args)` with result type `dataType`. Whole-stage codegen
  * emits the static call inline; interpreted evaluation (and constant
  * folding) invokes the same method by reflection. A null argument gives a
  * null result; the kernel itself never returns null. Int and long
  * parameters ride as literal arguments (`lit(k)`), and each argument's
  * Catalyst type must map to the method's parameter type exactly (long →
  * Long, array → ArrayData, string → UTF8String; cast an int column to
  * long for a Long parameter).
  */
private[graft] object NativeCall {
  def apply(kernel: AnyRef, method: String, dataType: DataType, args: Column*): Column =
    GraftColumnBridge.column(StaticInvoke(kernel.getClass, dataType, method,
      args.map(GraftColumnBridge.expression), returnNullable = false))
}
