package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Num

/** [[Num.halfUp]] must be Spark's `round(x, 0)` on doubles bit for bit —
  * sign of zero and infinities included, NaN for NaN — in both its
  * forms. */
class NumSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("halfUp equals round(x, 0) bit for bit on ties, their neighbours and random doubles") {
    val rnd = new scala.util.Random(11)
    val ties = (-2000 to 2000).map(_ + 0.5)
    val xs: Seq[Double] =
      ties ++ ties.map(math.nextUp) ++ ties.map(math.nextDown) ++
        Seq(0.0, -0.0, 0.49999999999999994, -0.49999999999999994, -0.3, 4503599627370495.5,
          4503599627370497.0, -4503599627370497.0, Double.MaxValue, Double.MinValue,
          Double.MinPositiveValue, Double.NaN, Double.PositiveInfinity,
          Double.NegativeInfinity) ++
        Seq.fill(20000)(java.lang.Double.longBitsToDouble(rnd.nextLong())) ++
        Seq.fill(20000)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(18)))
    // NaN payload bits carry no meaning: any NaN matches any NaN
    def same(a: Double, b: Double) =
      java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b) ||
        (a.isNaN && b.isNaN)
    val rows = xs.toDF("x")
      .select(col("x"), round(col("x"), 0).as("spark"), Num.halfUp(col("x")).as("column"))
      .collect()
    assert(rows.length == xs.size)
    val bad = rows.filter { r =>
      val (x, spark, column) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      !same(column, spark) || !same(Num.halfUp(x), spark)
    }
    assert(bad.isEmpty, s"${bad.length} mismatches, first: ${bad.take(5).mkString(", ")}")
  }
}
