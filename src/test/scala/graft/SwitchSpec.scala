package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** d02 carries each doc's shingle array through the band shuffle; d07
  * bands narrow and joins the surviving pairs back to the shingle table.
  * Both claim the one od02 oracle, so both shapes must verify the
  * identical pair set — on the estate, and on a long-document corpus
  * whose payloads are the ones join-back exists for. */
class SwitchSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def pairs(query: String, dir: String) =
    SparkEntry.queries(query)(spark, dir).collect().toSeq

  test("both shapes produce the identical verified pair set") {
    val carry = pairs("d02_minhash_lsh_pairs", sf)
    assert(carry.nonEmpty, s"d02 must find pairs at $sf")
    assert(carry == pairs("d07_lsh_joinback", sf),
      "carry (d02) and join-back (d07) must be output-identical (shared oracle)")
  }

  test("a long-document corpus: both shapes verify the same planted pairs") {
    val dir = SparkTestSession.tempDir("graft_switch").toString
    // 64 docs × 1024 unique-ish tokens ≈ 35 KB of shingle payload/doc
    // (even/odd pairs near-dup so verify has work)
    spark.range(64).select(
        col("id").as("doc_id"),
        array_join(
          transform(sequence(lit(1), lit(1024)), i =>
            when(col("id") % 2 === 1 && i % 20 === 0,
              concat(lit("w"), col("id"), lit("x"), i))
              .otherwise(
                concat(lit("w"), (col("id") - col("id") % 2), lit("x"), i))),
          " ").as("text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val carry = pairs("d02_minhash_lsh_pairs", dir)
    assert(carry.size >= 32, s"the planted pairs must verify, got ${carry.size}")
    assert(carry == pairs("d07_lsh_joinback", dir),
      "carry (d02) and join-back (d07) must be output-identical on long documents")
  }
}
