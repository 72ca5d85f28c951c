package graft

import graft.queries.DedupQueries
import org.scalatest.funsuite.AnyFunSuite

/** Pins d11_edit_distance's fingerprint-block bound (VERDICT r6 #1): a
  * hot fingerprint block — the boilerplate-template-page failure mode —
  * must never enter pair enumeration, and the dropped mass must be
  * surfaced through the `d11_block_census` observation rather than
  * silently vanishing. */
class D11BlockCapSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("a block larger than D11BlockCap yields ZERO pairs; census reports it") {
    val cap = DedupQueries.PairBlockCap
    val hot = cap + 6 // one template page owning `hot` docs → one fp block
    val dir = SparkTestSession.tempDir("graft_d11cap").toString

    // hot block: identical boilerplate text → identical min-bigram fp.
    // small block: three identical docs → 3 pairs, the survivors.
    val docs =
      (1 to hot).map(i => (i.toLong, "template boilerplate page body repeated")) ++
        Seq(101L, 102L, 103L).map(i => (i, "alpha beta gamma delta epsilon"))
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'web' AS source",
        "CAST(length(text) AS LONG) AS n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    val df = SparkEntry.queries("d11_edit_distance")(spark, dir)
    val rows = df.collect()

    // survivors: exactly the 3 small-block pairs, nothing from the hot block
    assert(rows.length == 3, s"expected the 3 small-block pairs, got ${rows.toSeq}")
    rows.foreach { r =>
      assert(r.getLong(0) > 100L && r.getLong(1) > 100L,
        s"hot-block doc leaked into pair enumeration: $r")
    }

    // the bound is surfaced, not silent: the census rides stage 1's job
    // (the full query's barrier hides stage 1's CollectMetrics, so read
    // it from the stage the observe is attached to)
    val stage1 = DedupQueries.d11Pairs(spark, dir)
    stage1.collect()
    val census = stage1.queryExecution.observedMetrics("d11_block_census")
    assert(census.getAs[Long]("docs_in_dropped_blocks") == hot.toLong,
      s"census must count every doc in the dropped block, got $census")
    assert(census.getAs[Long]("max_block_size") == hot.toLong, s"got $census")
    assert(census.getAs[Double]("dropped_pair_mass") == hot * (hot - 1) / 2.0,
      s"got $census")
  }
}
