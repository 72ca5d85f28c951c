package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VectorIndex

/** The persisted-ANN-artifact contract: probe keys derive from the one
  * writer definition, builds are cached per source content stamp, and the
  * partitioned corpora hold exactly the source rows. */
class VectorIndexSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  test("multiProbeKeys = the query's own pbucket plus one flip per key bit") {
    val bits = VectorIndex.srpBitsFor(spark, sf)
    val df = Tables.embeddings(spark, sf).limit(16)
      .select(
        VectorIndex.pbucketOf(col("embedding").cast("array<double>"), bits).as("own"),
        VectorIndex.multiProbeKeys(col("embedding").cast("array<double>"), bits).as("probes"))
    df.collect().foreach { r =>
      val own = r.getString(0)
      val probes = r.getSeq[String](1)
      assert(probes.length == bits + 1)
      assert(probes.head == own, "first probe must be the writer-defined own bucket")
      assert(probes.distinct.length == probes.length, "one-bit flips are all distinct")
      probes.foreach { p =>
        assert(p.length == own.length && p.startsWith("b"))
        // every non-head probe differs from own in exactly one bit
        if (p != own) assert(p.zip(own).count { case (a, b) => a != b } == 1)
      }
    }
  }

  test("SRP corpus: partitioned by pbucket, same rows as the source") {
    val path = VectorIndex.ensureSrp(spark, sf)
    val dirs = Files.list(Paths.get(path)).filter(p => p.getFileName.toString.startsWith("pbucket="))
    try assert(dirs.count() > 1, "corpus must split into multiple bucket partitions")
    finally dirs.close()
    val back = spark.read.parquet(path)
    assert(back.count() == Tables.embeddings(spark, sf).count())
    // the partition value round-trips as the string the probe computes
    val mismatch = back
      .filter(VectorIndex.pbucketOf(col("embedding").cast("array<double>"),
        VectorIndex.srpBitsFor(spark, sf)) =!= col("pbucket"))
      .count()
    assert(mismatch == 0, "at-rest partition key must equal the probe-side derivation")
  }

  test("IVF artifacts: one centroid row per label; build is cached by fingerprint") {
    val (cent, corp) = VectorIndex.ensureIvf(spark, sf)
    val labels = Tables.embeddings(spark, sf).select("label").distinct().count()
    val c = spark.read.parquet(cent)
    assert(c.count() == labels)
    assert(c.select(size(col("ce"))).distinct().head().getInt(0) == 64)
    val mtime = Files.getLastModifiedTime(Paths.get(cent, "_SUCCESS"))
    val (cent2, corp2) = VectorIndex.ensureIvf(spark, sf)
    assert(cent2 == cent && corp2 == corp)
    assert(Files.getLastModifiedTime(Paths.get(cent, "_SUCCESS")) == mtime,
      "second ensure must reuse the cached artifact, not rebuild")
  }
}
