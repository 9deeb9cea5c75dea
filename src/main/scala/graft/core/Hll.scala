package graft.core

/** HyperLogLog constants and scalar kernels — the single source of truth
  * for the batch operator (SketchOps.hllDistinct), the streaming twin
  * (StreamingOps.hllStream) and the DuckDB oracle SQL (SparkEntry
  * interpolates these constants), so a parameter change cannot drift
  * between the three forms.
  *
  * Contract: hashes must be NONNEGATIVE (e.g. the 61-bit docFingerprint).
  * All register math is integer: rho = trailing zeros of (hash div m) + 1
  * capped at RhoCap; the harmonic sum is kept as int64 (each register
  * contributes 2^(RhoCap - rho), empty registers 2^RhoCap; max m·2^RhoCap
  * << 2^63), and the estimate is a short fixed sequence of IEEE double
  * ops — deterministic across engines.
  *
  * Small-range correction: when zero registers exist and the raw estimate
  * indicates cardinality <= 2.5m, the estimator switches to linear
  * counting m·ln(m/V) (V = zero registers). ln() itself is libm — its
  * last ulp differs between engines — so the correction uses lnDet, a
  * fixed-op-order polynomial (power-of-two range reduction + atanh
  * series): +,-,*,/ are exactly specified by IEEE 754, so every engine
  * that evaluates the same op sequence produces the same double, and the
  * branch keeps bit-exact oracle parity. The branch condition itself is
  * integer-only (regSum >= lcThreshold, a precomputed long).
  *
  * m is configurable (any power of two 16..4096; default 64). alpha uses
  * the 0.7213/(1+1.079/m) family for ALL m so estimates at the historical
  * default never shift.
  */
object Hll {
  val M = 64
  val RhoCap = 44
  val Scale: Long = 1L << RhoCap

  /** alpha_m = 0.7213 / (1 + 1.079/m), the standard bias constant. */
  def alpha(m: Int): Double = 0.7213 / (1.0 + 1.079 / m.toDouble)
  val Alpha: Double = alpha(M)

  /** Numerator of the raw estimator: alpha · m² · 2^RhoCap. */
  def estNumerator(m: Int): Double = alpha(m) * (m.toDouble * m.toDouble) * Scale.toDouble
  val EstNumerator: Double = estNumerator(M)

  /** Integer regSum threshold equivalent to rawEst <= 2.5·m: regSum >=
    * estNumerator/(2.5m). Integer compare — trivially engine-exact.
    */
  def lcThreshold(m: Int): Long = math.ceil(estNumerator(m) / (2.5 * m)).toLong

  /** log2 of the register count. Enforces the documented contract
    * (power of two, 16..4096): beyond 2^18 the reg_sum accumulator
    * m·2^RhoCap would silently overflow int64.
    */
  def log2m(m: Int): Int = {
    require(m >= 16 && m <= 4096 && (m & (m - 1)) == 0,
      s"m must be a power of two in [16, 4096]: $m")
    java.lang.Integer.numberOfTrailingZeros(m)
  }

  /** Register index of a nonnegative hash. */
  def reg(h: Long, m: Int = M): Int = (h % m).toInt

  /** Rank of a nonnegative hash (trailing zeros of h div m, +1, capped). */
  def rho(h: Long, m: Int = M): Int =
    math.min(java.lang.Long.numberOfTrailingZeros(h >>> log2m(m)) + 1, RhoCap)

  // atanh-series coefficients and ln 2 — referenced by the Column and SQL
  // twins so all three forms interpolate the SAME doubles (Scala double
  // toString round-trips through DuckDB's literal parser)
  val Ln2: Double = 0.6931471805599453
  val C3: Double = 1.0 / 3.0
  val C5: Double = 1.0 / 5.0
  val C7: Double = 1.0 / 7.0
  val C9: Double = 1.0 / 9.0
  val C11: Double = 1.0 / 11.0
  val C13: Double = 1.0 / 13.0

  /** Deterministic ln for x in [1, 2^20): halve to t in [1,2) (exact
    * power-of-two scaling), then the atanh series in u = (t-1)/(t+1)
    * (|u| < 1/3; truncation after u^13 ~ 3e-9 — far inside the e3
    * rounding, and IDENTICAL in every engine since every op is a basic
    * IEEE op in a fixed order). The Column/SQL twins must mirror this op
    * order exactly.
    */
  def lnDet(x: Double): Double = {
    var k = 0; var t = x
    while (t >= 2.0) { t = t * 0.5; k += 1 }
    val u = (t - 1.0) / (t + 1.0)
    val u2 = u * u
    val s = 2.0 * u * (1.0 + u2 * (C3 + u2 * (C5 + u2 * (C7 + u2 * (C9 + u2 * (C11 + u2 * C13))))))
    k * Ln2 + s
  }

  /** round(lnDet(x)·1e6) HALF_UP — the per-row deterministic NLL
    * quantizer of LM quality scoring (operators.LmOps): quantizing each
    * row BEFORE aggregation turns the score sum into integer arithmetic,
    * which is associative — a float sum over a shuffle would be
    * order-nondeterministic and break oracle parity. x must be in
    * [1, 2^21): the range the SQL twin's 20 unrolled halvings cover.
    * Non-finite x yields 0 (BigDecimal.valueOf(NaN) throws) — callers
    * construct x from integer counts, so a passing case never hits it.
    */
  def lnE6(x: Double): Long = {
    val v = lnDet(x) * 1000000.0
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) 0L
    else java.math.BigDecimal.valueOf(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
  }

  /** e3-rounded HALF_UP (matches Spark/DuckDB round for positives). */
  private def roundE3(v: Double): Long =
    java.math.BigDecimal.valueOf(v * 1000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** Raw estimate · 1000 (no small-range branch — kept for callers that
    * need the uncorrected value).
    */
  def estE3(regSum: Long): Long = roundE3(EstNumerator / regSum)

  /** Corrected estimate · 1000: linear counting m·lnDet(m/V) when zero
    * registers exist and the raw estimate is <= 2.5m, else raw.
    */
  def estE3(regSum: Long, nRegs: Long, m: Int): Long = {
    val v = m - nRegs
    if (v > 0 && regSum >= lcThreshold(m))
      roundE3(m.toDouble * lnDet(m.toDouble / v.toDouble))
    else roundE3(estNumerator(m) / regSum)
  }
}
