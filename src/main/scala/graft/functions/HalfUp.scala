package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** Spark's `round(d, scale)` on a double: HALF_UP on the decimal that
  * `Double.toString` prints (`BigDecimal.valueOf`), NaN/±∞ passed
  * through, +0.0 for a result that rounds to zero.
  *
  * The fast path floors |d|·10^scale and divides the integer by
  * 10^scale. Both operands are exact doubles, so the quotient is
  * correctly rounded — the same double `BigDecimal.doubleValue` returns
  * for an unscaled value below 2^52. The product and the printed
  * decimal each lie within two ulps of the exact scaled value, so a
  * fraction more than [[Slack]] ulps from .5 rounds the same way on
  * both; nearer to .5, or at 2^52 and past it, `BigDecimal` decides. */
object HalfUp {
  private val Pow10 = Array.tabulate(23)(i => s"1e$i".toDouble) // exact doubles
  private val Limit = 4503599627370496.0 // 2^52
  private val Slack = 8.0

  def round(d: Double, scale: Int): Double =
    if (d.isNaN || d.isInfinite) d
    else {
      val p10 = Pow10(scale)
      val p = math.abs(d) * p10
      val f = math.floor(p)
      val frac = p - f // exact below 2^52
      if (p < Limit && math.abs(frac - 0.5) > Slack * math.ulp(p)) {
        val n = if (frac > 0.5) f + 1.0 else f
        if (n == 0.0) 0.0 else if (d < 0) -n / p10 else n / p10
      } else JBigDecimal.valueOf(d).setScale(scale, RoundingMode.HALF_UP).doubleValue()
    }
}
