package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.DedupQueries

/** Pins d08's (j, band) bucket bound (the round-8 `weak` fix): exact-dup
  * template mass carries ONE 60-bit simhash, so all 10 of its
  * block-pair buckets go hot — the cap must keep that mass out of the band
  * self-join (its hd-0 pairs were never d08 output anyway), the dropped
  * mass must surface through `d08_band_census`, and genuine Hamming-1..3
  * neighbors must keep flowing through unharmed.
  *
  * Fixture determinism: doc 2 = doc 1's 20 tokens + "gold" shifts the
  * 60-bit simhash by EXACTLY Hamming 1 (md5 is fixed; verified against
  * the same arithmetic in python), leaving 4 of 5 12-bit blocks
  * shared — the pair is found through C(4,2) = 6 of the 10 block-pair
  * buckets and verified at hd 1. */
class D08BandCapSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val cap = DedupQueries.PairBlockCap

  private def stage(hot: Int): String = {
    val dir = SparkTestSession.tempDir(s"graft_d08cap_$hot").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lam mu nu xi omicron pi rho sigma tau upsilon"
    val tmpl = "zzq template footer nav copyright zzq template footer nav copyright"
    val docs = Seq((1L, base), (2L, base + " gold")) ++
      (1 to hot).map(i => (1000000L + i, tmpl))
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'web' AS source",
        "CAST(length(text) AS LONG) AS n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("hot band buckets are capped out; the hd-1 neighbor pair survives, flat") {
    val hot1 = cap + 6
    val small = SparkEntry.queries("d08_simhash_hamming")(spark, stage(hot1)).collect()
    val big = SparkEntry.queries("d08_simhash_hamming")(spark, stage(2 * hot1)).collect()
    Seq(small, big).foreach { rows =>
      assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq((1L, 2L, 1L)),
        s"exactly the planted hd-1 pair must survive, got ${rows.toSeq}")
    }
  }

  test("d08_band_census reports the dropped template mass exactly") {
    val hot = cap + 6
    // the banded stage, not d08Pairs — the pair stage checkpoints it,
    // which cuts the CollectMetrics out of the final query's lineage
    val stage1 = DedupQueries.d08Banded(spark, stage(hot))
    stage1.collect()
    val census = stage1.queryExecution.observedMetrics("d08_band_census")
    // every hot doc sits in all 10 of its block-pair buckets, each
    // oversized; docs 1/2 share no 24-bit block pair with the template
    assert(census.getAs[Long]("docs_in_dropped_blocks") == 10L * hot,
      s"census must count each hot doc once per band, got $census")
    assert(census.getAs[Long]("max_block_size") == hot.toLong, s"got $census")
    assert(census.getAs[Double]("dropped_pair_mass") == 10.0 * hot * (hot - 1) / 2.0,
      s"got $census")
  }
}
