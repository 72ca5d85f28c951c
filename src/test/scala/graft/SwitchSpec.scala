package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.DedupQueries

/** The automated d02↔d07 carry↔join-back switch
  * ([[DedupQueries.chooseJoinBack]]): shape equality, the estate
  * decision, and the long-payload flip. */
class SwitchSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("both shapes produce the identical verified pair set") {
    def rows(jb: Boolean) =
      DedupQueries.lshVerifiedPairs(spark, sf, forceShape = Some(jb))
        .select(col("da"), col("db"), round(col("jac"), 9).as("j"))
        .distinct().orderBy("da", "db").collect().toSeq
    assert(rows(false) == rows(true),
      "carry and join-back must be output-identical (shared oracle)")
  }

  test("the sf estate's small payloads pick carry, and the decision is logged") {
    SparkEntry.queries("d02_minhash_lsh_pairs")(spark, sf).collect()
    SparkEntry.queries("d10_minhash_calibration")(spark, sf).collect()
    SparkEntry.queries("d18_banding_curve")(spark, sf).collect()
    assert(DedupQueries.switchDecision("d02_bucket_census").contains("carry"))
    assert(DedupQueries.switchDecision("d10_switch").contains("carry"))
    assert(DedupQueries.switchDecision("d18_switch").contains("carry"))
  }

  test("a long-document corpus flips the decision to join-back") {
    val dir = SparkTestSession.tempDir("graft_switch").toString
    // 64 docs × 1024 unique-ish tokens ≈ 35 KB of shingle payload/doc —
    // far past the cutoff (even/odd pairs near-dup so verify has work)
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
    val n = DedupQueries.lshVerifiedPairs(spark, dir).count()
    assert(n >= 32, s"the planted pairs must verify, got $n")
    assert(DedupQueries.switchDecision("d02_bucket_census").contains("join-back"),
      "35 KB/doc payloads must pick the join-back shape")
  }
}
