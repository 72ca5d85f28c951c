package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Numeric helpers shared by the declared queries. */
object Num {

  /** Oracle-aligned double rounding: round in PRODUCT space —
    * `round(x·10^d, 0) / 10^d` — instead of `round(x, d)`.
    *
    * Spark's `round(x, d)` takes the exact decimal expansion of the
    * double (`BigDecimal(x)`) and applies HALF_UP, so an average like
    * 28.794999999999999 (the double nearest 28.795) rounds DOWN to 28.79.
    * DuckDB — the correctness oracle — rounds the double PRODUCT
    * `x·10^d`, where the same value becomes exactly 2879.5 and rounds UP
    * to 28.80. Midpoints are common, not rare: the mean of two 2-dp
    * inputs is a .xx5 midpoint half the time (343 of q05's 5427 groups
    * differed at sf0.01). Doing the multiply first makes both engines
    * round the identical IEEE-754 double, and HALF_UP == C `round()` for
    * the positive-and-away-from-zero cases both use. */
  def oround(c: Column, d: Int): Column =
    if (d == 0) round(c, 0)
    else {
      val p = math.pow(10, d)
      round(c * p, 0) / p
    }

  /** Spark's `round(x, 0)` on a double — `BigDecimal.valueOf(x)` rounded
    * HALF_UP — bit for bit, without the BigDecimal and the
    * `Double.toString` it costs per call. `rint` is the nearest integer
    * except at a tie, where HALF_UP goes away from zero instead of to
    * even.
    * `x − rint(x)` is exact for every double (Sterbenz), so the tie test
    * is exact, and so is `n.5 ± 0.5`. `+ 0.0` turns rint's −0.0 into the
    * +0.0 a BigDecimal gives. NaN and ±∞ pass through, as in `round`. */
  def halfUp(x: Double): Double = {
    val n = math.rint(x)
    if (math.abs(x - n) == 0.5) x + math.signum(x) * 0.5 else n + 0.0
  }

  /** [[halfUp]] as a column expression. */
  def halfUp(c: Column): Column = {
    val n = rint(c)
    when(abs(c - n) === 0.5, c + signum(c) * 0.5).otherwise(n + 0.0)
  }
}
