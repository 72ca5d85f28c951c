package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property equivalence for [[graft.plans.BoundLevenshtein]]: on random
  * string pairs (unicode, empties, nulls included) every rewritable
  * comparison shape must keep exactly the rows an independent local
  * dynamic program keeps — while the optimized plan provably runs the
  * banded form, so the property exercises the rewritten path and not a
  * silently-unrewritten one. */
class BoundLevenshteinPropSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** Textbook O(|a|·|b|) DP, independent of both Spark forms. BMP-only
    * inputs keep char == codepoint so the reference can work on chars. */
  private def refDist(a: String, b: String): Int = {
    val (n, m) = (a.length, b.length)
    val prev = Array.tabulate(m + 1)(identity)
    val cur = new Array[Int](m + 1)
    for (i <- 1 to n) {
      cur(0) = i
      for (j <- 1 to m) {
        val sub = prev(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1)
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
      }
      Array.copy(cur, 0, prev, 0, m + 1)
    }
    prev(m)
  }

  private val strGen: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    1 -> Gen.const(null),
    4 -> Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(('a' to 'e') ++ Seq('ä', 'ß', '中', ' '))).map(_.mkString)))

  private val pairs: Seq[(String, String)] =
    Gen.listOfN(250, Gen.zip(strGen, strGen))(
      Gen.Parameters.default, org.scalacheck.rng.Seed(7L)).get

  test("all four rewritable shapes match the reference DP on random pairs") {
    import spark.implicits._
    // Round-trip through parquet so the relation survives to the
    // optimizer (a local relation would be folded before the rule runs).
    val dir = SparkTestSession.tempDir("graft-lev-prop").toString
    pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)

    def expectIds(pred: Int => Boolean): Set[Long] =
      pairs.zipWithIndex.collect {
        case ((a, b), i) if a != null && b != null && pred(refDist(a, b)) => i.toLong
      }.toSet

    for (k <- Seq(0, 1, 2, 3, 7)) {
      val shapes = Seq(
        ("lev<=k", df.filter(levenshtein(col("a"), col("b")) <= k), (d: Int) => d <= k),
        ("lev<k", df.filter(levenshtein(col("a"), col("b")) < k), (d: Int) => d < k),
        ("k>=lev", df.filter(lit(k) >= levenshtein(col("a"), col("b"))), (d: Int) => d <= k),
        ("k>lev", df.filter(lit(k) > levenshtein(col("a"), col("b"))), (d: Int) => d > d - 1 && d < k))
      for ((name, kept, pred) <- shapes) {
        // `< 0` / `> 0` shapes keep no rewrite target; skip the plan
        // assertion only where the rule is defined not to fire (k == 0
        // for the strict forms).
        val strictZero = k == 0 && (name == "lev<k" || name == "k>lev")
        if (!strictZero) {
          val bounded = kept.queryExecution.optimizedPlan.collect { p =>
            p.expressions.flatMap(_.collect {
              case l: org.apache.spark.sql.catalyst.expressions.Levenshtein
                if l.threshold.isDefined => l
            })
          }.flatten.size
          assert(bounded == 1, s"$name k=$k must run the banded form")
        }
        val got = kept.select("id").collect().map(_.getLong(0)).toSet
        assert(got == expectIds(pred), s"$name k=$k row-set mismatch")
      }
    }
  }
}
