package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The timed action of every query: one aggregation that reads every output
  * column and returns (rows, checksum). The checksum is the bit_xor of
  * per-row xxhash64 values — the lineage checksum `CheckpointOps` writes —
  * so it does not depend on row order or partitioning. Floating-point
  * values are rounded to 6 decimals first (the oracle comparison's
  * tolerance), so a legal reordering of a float sum does not read as a
  * wrong answer.
  */
object Checksum {
  final case class Result(rows: Long, checksum: Long)

  def of(df: DataFrame): Result = {
    val cols = df.schema.fields.toSeq.map(f => canonical(col(s"`${f.name}`"), f.dataType).as(f.name))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("__h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("__h")), lit(0L)))
      .collect()(0)
    Result(r.getLong(0), r.getLong(1))
  }

  /** Rounds floats to 6 decimals at any nesting depth and turns maps into
    * key-sorted entry arrays (xxhash64 does not hash maps).
    */
  private def canonical(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) if needs(et) => transform(c, x => canonical(x, et))
    case StructType(fs) if fs.exists(f => needs(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(map_entries(canonicalMap(c, vt)))
    case _ => c
  }

  private def canonicalMap(c: Column, vt: DataType): Column =
    if (needs(vt)) transform_values(c, (_, v) => canonical(v, vt)) else c

  private def needs(t: DataType): Boolean = t match {
    case FloatType | DoubleType | _: MapType => true
    case ArrayType(et, _) => needs(et)
    case StructType(fs) => fs.exists(f => needs(f.dataType))
    case _ => false
  }
}
