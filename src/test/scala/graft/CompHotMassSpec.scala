package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.DedupQueries
import graft.ops.ConnectedComponents

/** The hot-mass proof the round-8 dedup machinery claims in its scaladoc
  * (DedupQueries d02 / lshComponentEdges):
  *
  *  (a) the (band, bh) bucket cap keeps d02's verified-pair output FLAT
  *      as exact-dup hot mass doubles — the uncapped quadratic hazard
  *      never reaches pair enumeration;
  *  (b) cluster formation via [[DedupQueries.lshComponentEdges]] (linear
  *      star edges over exact-dup classes + LSH over one representative
  *      per class) yields EXACTLY the same connected components as the
  *      uncapped all-pairs [[DedupQueries.lshVerifiedPairs]] closure —
  *      the equivalence theorem d06/d14/p14 rest on, executed;
  *  (c) the dropped mass is SURFACED through the `d02_bucket_census`
  *      observation, never silently vanished (the d11 census discipline).
  *
  * The corpus is the template-farm shape the cap is about: one short
  * boilerplate page owning `hot` identical copies (identical shingle set
  * ⇒ identical MinHash signature ⇒ all 4 band buckets hot), plus small
  * genuine near-dup classes that must keep flowing through unharmed.
  */
class CompHotMassSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val cap = DedupQueries.PairBlockCap

  /** Stage a documents.parquet estate: `hot` identical template docs
    * (ids ≥ 1e6) + two small classes — {1, 2} identical 11-token text and
    * {3} a one-token-changed near-dup of it (bigram Jaccard 9/11 ≈ 0.818
    * ≥ 0.8), {4, 5} an unrelated identical pair. */
  private def stage(hot: Int): String = {
    val dir = SparkTestSession.tempDir(s"graft_hotmass_$hot").toString
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    val t1near = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu"
    val t2 = "north south east west upward downward inward outward leftward rightward forward"
    val tmpl = "zzq template footer nav copyright zzq template footer nav copyright"
    val docs =
      Seq((1L, t1), (2L, t1), (3L, t1near), (4L, t2), (5L, t2)) ++
        (1 to hot).map(i => (1000000L + i, tmpl))
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'web' AS source",
        "CAST(length(text) AS LONG) AS n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("(a) capped d02 output is FLAT as hot mass doubles; no hot doc leaks") {
    val hot1 = cap + 6
    val small = SparkEntry.queries("d02_minhash_lsh_pairs")(spark, stage(hot1)).collect()
    val big = SparkEntry.queries("d02_minhash_lsh_pairs")(spark, stage(2 * hot1)).collect()
    // identical-doc classes {1,2} and {4,5} share EVERY band key, so their
    // pairs are always found; the near-dup (1,3)/(2,3) edges depend on a
    // band collision — present or absent IDENTICALLY in both corpora
    // (banding is a function of the shingle set alone)
    assert(small.length >= 2, s"small-class pairs must survive the cap: ${small.toSeq}")
    assert(small.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      big.map(r => (r.getLong(0), r.getLong(1))).toSet,
      s"capped pair set must not move as hot mass doubles:\n" +
        s"hot=$hot1 → ${small.toSeq}\nhot=${2 * hot1} → ${big.toSeq}")
    (small ++ big).foreach(r =>
      assert(r.getLong(0) < 1000000L && r.getLong(1) < 1000000L,
        s"hot-block doc leaked into pair enumeration: $r"))
  }

  test("(b) star-edge components EQUAL the uncapped all-pairs closure") {
    val dir = stage(cap + 6)
    val viaStars = ConnectedComponents
      .run(DedupQueries.lshComponentEdges(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaAllPairs = ConnectedComponents
      .run(DedupQueries.lshVerifiedPairs(spark, dir, cap = None)
        .select(col("da").as("src"), col("db").as("dst")).distinct())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaStars == viaAllPairs,
      s"equivalence theorem violated:\nstars → $viaStars\nall-pairs → $viaAllPairs")
    // and the hot mass IS one component in both (min-id labeled)
    val hotComp = viaStars.filter(_._1 >= 1000000L)
    assert(hotComp.size == cap + 6 && hotComp.forall(_._2 == 1000001L),
      s"hot template docs must form one component labeled 1000001: $hotComp")
  }

  test("(c) d02_bucket_census reports the dropped hot mass exactly") {
    val hot = cap + 6
    val stage1 = DedupQueries.lshVerifiedPairs(spark, stage(hot))
    stage1.collect()
    val census = stage1.queryExecution.observedMetrics("d02_bucket_census")
    // every hot doc sits in all 4 band buckets, each oversized
    assert(census.getAs[Long]("docs_in_dropped_blocks") == 4L * hot,
      s"census must count each hot doc once per band, got $census")
    assert(census.getAs[Long]("max_block_size") == hot.toLong, s"got $census")
    assert(census.getAs[Double]("dropped_pair_mass") == 4.0 * hot * (hot - 1) / 2.0,
      s"got $census")
  }
}
