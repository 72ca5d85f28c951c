package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.NearDup

/** Pins q54's stream band cap ([[NearDup.StreamBandCap]]) on both sides
  * of its threshold, through the same `NearDup.processBatch` the stream
  * runs, against an index that already holds a corpus.
  *
  * The load is a template farm with PER-COPY PERTURBATIONS: a 200-token
  * template whose every 20th token is unique to the copy. Each copy is
  * its own exact class, so the exact tier cannot collapse it, and any
  * two copies sit at bigram Jaccard 179/219 ≈ 0.82 — real near-dups
  * above the 0.8 verify bar. A farm large enough to push a band key's
  * membership past the cap must be dropped WITH a census row; a
  * genuine family of tens must pass untouched and dedup within itself. */
class NearDupCapSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val FarmBase = 10000000L

  private def farm(n: Int): DataFrame = spark.range(n).select(
      (col("id") + lit(FarmBase)).as("doc_id"),
      array_join(
        transform(sequence(lit(1), lit(200)), i =>
          when(i % 20 === 0, concat(lit("p"), col("id"), lit("x"), i))
            .otherwise(concat(lit("tmpl"), i))),
        " ").as("text"))

  /** 400 ordinary docs of 20–59 tokens drawn from a 31-word vocabulary
    * (the test estates' vocabulary size): bigram Jaccard between any two is
    * far below 0.8, so the seed index holds history but no family. */
  private def corpus: DataFrame = {
    val vocab = array((0 until 31).map(i => lit(s"w$i")): _*)
    spark.range(400).select(
      col("id").as("doc_id"),
      array_join(
        transform(sequence(lit(1), pmod(col("id"), lit(40L)).cast("int") + 20),
          i => element_at(vocab, pmod(xxhash64(col("id"), i), lit(31L)).cast("int") + 1)),
        " ").as("text"))
  }

  /** Seeds a fresh index with [[corpus]] (batch 0), then runs `n` farm
    * copies as batch 1; returns the result dir. */
  private def run(n: Int): String = {
    val root = SparkTestSession.tempDir(s"graft_neardupcap_$n").toString
    val res = s"$root/res"
    NearDup.processBatch(corpus, 0L, res, s"$root/band", s"$root/exact")
    NearDup.processBatch(farm(n), 1L, res, s"$root/band", s"$root/exact")
    res
  }

  test("a 300-copy perturbed template farm is capped out, with one census row") {
    val res = run(300)
    val census = spark.read.parquet(res + "_capcensus").collect()
    assert(census.length == 1, s"one census row expected, got ${census.toSeq}")
    val row = census.head
    assert(row.getAs[Long]("batch_id") == 1L, s"got $row")
    assert(row.getAs[Long]("hot_keys") > 0L, s"got $row")
    assert(row.getAs[Long]("max_bucket") > NearDup.StreamBandCap, s"got $row")
  }

  test("a 20-copy family stays under the cap and dedups within itself") {
    val n = 20
    val res = run(n)
    val censusDir = new java.io.File(res + "_capcensus")
    assert(!censusDir.exists(), "no key exceeds the cap, so no census may be written")
    val family = (FarmBase until FarmBase + n).toSet
    val hits = spark.read.parquet(res)
      .filter(col("doc_id") >= FarmBase)
      .select("doc_id", "dup_of", "jaccard").distinct().collect()
    val byDoc = hits.groupBy(_.getLong(0))
    assert(byDoc.keySet == family - FarmBase,
      s"every copy but the first must get a verdict, got ${byDoc.keySet.toSeq.sorted}")
    hits.foreach { r =>
      assert(family.contains(r.getLong(1)) && r.getLong(1) < r.getLong(0),
        s"dup_of must be an earlier family member, got $r")
      assert(r.getDouble(2) >= 0.8, s"verified pairs clear the 0.8 bar, got $r")
    }
  }
}
