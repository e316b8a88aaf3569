package graft.functions

/** Spark's `round(x, 6)` on a double, in Scala: the shortest decimal
  * rendering of `x` (`Double.toString`, which both `BigDecimal(x)` and
  * `java.math.BigDecimal.valueOf(x)` parse) rounded HALF_UP to scale 6
  * — not the exact binary value (`new java.math.BigDecimal(x)`), which
  * disagrees with Spark on representational near-ties.
  * Stateful twins and row kernels that compute a display value outside
  * Catalyst call this, so their rows compare bit-equal to the batch
  * operator's `round(…, 6)` column.
  */
object Rounding {
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
