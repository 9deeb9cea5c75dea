package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.LongType

import graft.core.Hll

object HllExpressions {
  /** est_e3 of (regSum: long, nRegs: long) at register count m — the
    * native HLL estimator finish via the core.Hll kernel: raw estimator
    * above the linear-counting threshold, m·lnDet(m/zeroRegs) below. A
    * Column-composed twin of Hll.lnDet is possible but its range-reduction
    * CASE and series subtrees duplicate ~26x through (t-1)/(t+1) and the
    * Horner chain and blow the plan up; one codegen'd static call keeps the
    * plan O(1) and the arithmetic bit-identical to the streaming kernel and
    * (by fixed IEEE op order) the DuckDB oracle.
    */
  def hllEstE3(regSum: Column, nRegs: Column, m: Int): Column =
    NativeCall(Hll, "estE3", LongType, regSum, nRegs, lit(m))

  /** round(lnDet(x)·1e6) of a double column in [1, 2^21) — one codegen'd
    * call per row for the same plan-size reason as [[hllEstE3]] (the
    * Column-composed lnDet twin duplicates its range-reduction/series
    * subtrees ~26x).
    */
  def lnE6(x: Column): Column =
    NativeCall(Hll, "lnE6", LongType, x)
}
