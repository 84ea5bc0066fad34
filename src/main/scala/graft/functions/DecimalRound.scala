package graft.functions

/** The engine's one fixed-point quantizer, shared by the scoring kernels
  * whose results a DuckDB twin recomputes with `round(x, n)`.
  *
  * Both functions round the JDK's `Double.toString` decimal of their
  * argument half away from zero (Scala's `BigDecimal(d)`), not its exact
  * binary value; DuckDB's `round` agrees on that decimal. The known edge
  * stays documented where it arises: a transcendental (`ln`, `log2`) that
  * differs by one ulp between the two engines can put a value on the other
  * side of a half, and the sixth decimal absorbs that only away from the
  * half (`HllKernels`' estimate, the per-term `e6` of the LM and NB
  * scorers).
  */
object DecimalRound {

  /** `round(d * 1e6)` as a BIGINT: per-term fixed point, so sums are exact
    * integer arithmetic whatever their order.
    */
  def e6(d: Double): Long =
    BigDecimal(d * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** `round(d, scale)`, half away from zero. */
  def round(d: Double, scale: Int): Double =
    BigDecimal(d).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
}
