package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.BucketedIndex

/** Executes [[BucketedIndex]]'s crash contract instead of arguing it
  * (the q44 injected-crash discipline applied to state compaction):
  *
  *  1. a crash BETWEEN the new base's `_SUCCESS` and the superseded
  *     generations' deletion leaves BOTH visible — duplicate rows,
  *     never missing rows; duplicate-immune consumers (distinct /
  *     min-aggregates) are unaffected, and a re-fold converges to ONE
  *     generation with the duplicates physically collapsed;
  *  2. a half-written compaction target (no `_SUCCESS`) is INVISIBLE
  *     to probes and reaped by the next fold;
  *  3. the `_MANIFEST` written at fold time lets a FRESH session (caches
  *     cleared) rebuild the generation's relation without any directory
  *     listing, identical rows and the same `bp` partition pruning; a
  *     generation whose manifest is missing (crash between parquet
  *     commit and manifest write) falls back to the listing read;
  *  4. folding a root that no append created (an empty history seed) is
  *     a no-op, and the first delta batch after it lands in the index.
  */
class BucketedIndexCrashSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val schema = StructType.fromDDL("k STRING, v LONG")

  private def rowsDf(n: Int, tag: String): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (s"key_$i", i.toLong)).toDF("k", "v")
      .withColumn("k", concat(col("k"), lit(""))) // stable plan shape
  }

  private def freshIndex(): (BucketedIndex, String) = {
    val root = SparkTestSession.tempDir("graft_bix_crash").toString
    (new graft.streaming.BucketedIndex(
      spark, root, "k", schema, targetRowsPerBucket = 16L, minBuckets = 4), root)
  }

  private def genDirs(root: String): Seq[String] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(root)).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
  }

  private def probeAll(ix: BucketedIndex, keys: DataFrame): Seq[Row] =
    ix.probe(keys).rows.get.orderBy("k", "v").collect().toSeq

  test("crash between base write and superseded delete: duplicates, never loss; re-fold converges") {
    val (ix, root) = freshIndex()
    ix.append(rowsDf(64, "a"))
    ix.compact() // establish a base generation
    ix.append(rowsDf(64, "b").filter(col("v") >= 32)) // delta overlaps base

    val keys = rowsDf(64, "k").select(col("k"))
    val before = probeAll(ix, keys).distinct

    // inject the crash: after the new base's _SUCCESS + manifest land,
    // before the superseded generations are deleted
    final class InjectedCrash extends RuntimeException("injected mid-fold crash")
    ix.failpointAfterBaseWrite = () => throw new InjectedCrash
    intercept[InjectedCrash] { ix.compact() }
    ix.failpointAfterBaseWrite = () => ()

    // both the old generations and the new base are visible...
    val dirs = genDirs(root)
    assert(dirs.count(_.endsWith("_b")) == 2,
      s"old AND new base must both be visible after the crash, got $dirs")
    // ...so the probe sees duplicate rows — but NO row is missing, and
    // a duplicate-immune consumer (distinct) gets the exact answer
    val after = probeAll(ix, keys)
    assert(after.size > before.size, "the crash window must leave duplicates")
    assert(after.distinct == before,
      "duplicates, never missing or phantom rows")

    // the re-fold (what a restarted job's next trigger runs) converges:
    // one generation, duplicates physically collapsed
    ix.compact()
    assert(genDirs(root).size == 1, s"re-fold must converge, got ${genDirs(root)}")
    assert(probeAll(ix, keys) == before,
      "the converged index holds exactly the distinct rows")
  }

  test("half-written target without _SUCCESS is invisible and reaped") {
    val (ix, root) = freshIndex()
    ix.append(rowsDf(32, "a"))
    ix.compact()
    val keys = rowsDf(32, "k").select(col("k"))
    val before = probeAll(ix, keys)

    // simulate a predecessor that died mid-write: a generation dir with
    // data but no _SUCCESS marker
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val half = new Path(root, "gen_9_p4_b")
    rowsDf(8, "junk").withColumn("bp", lit(0L))
      .write.partitionBy("bp").parquet(half.toString)
    fs.delete(new Path(half, "_SUCCESS"), false)

    assert(probeAll(ix, keys) == before,
      "a generation without _SUCCESS must be invisible to probes")
    ix.append(rowsDf(32, "b")) // force next fold to run
    ix.compact()
    assert(!fs.exists(half), "the next fold must reap the half-written target")
  }

  test("manifest cold start: fresh session reads the manifest, not the directory tree; listing fallback intact") {
    val (ix, root) = freshIndex()
    ix.append(rowsDf(128, "a"))
    ix.compact()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = fs.listStatus(new Path(root)).map(_.getPath)
      .find(_.getName.endsWith("_b")).get
    assert(fs.exists(new Path(gen, "_MANIFEST")),
      "compact must persist the generation manifest")

    val keys = rowsDf(128, "k").select(col("k")).limit(9)
    val warm = probeAll(ix, keys)

    // a FRESH session's first probe: caches dropped, manifest present →
    // the relation is rebuilt from the one small file
    BucketedIndex.clearCachesForTesting()
    val coldProbe = ix.probe(keys).rows.get
    val coldManifest = coldProbe.orderBy("k", "v").collect().toSeq
    assert(coldManifest == warm, "manifest-built relation must match")
    val plan = coldProbe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bp"),
      s"bp partition pruning must survive the manifest-built relation:\n$plan")

    // the manifest's statuses must agree with the filesystem (bytes):
    val manifestBytes = BucketedIndex.readManifest(fs, gen).get.map(_.getLen).sum
    val listedBytes = {
      val it = fs.listFiles(gen, true)
      var b = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.startsWith("part-")) b += f.getLen
      }
      b
    }
    assert(manifestBytes == listedBytes)

    // crash-between-commit-and-manifest: no manifest → listing fallback
    fs.delete(new Path(gen, "_MANIFEST"), false)
    BucketedIndex.clearCachesForTesting()
    assert(probeAll(ix, keys) == warm,
      "a generation without a manifest must fall back to the listing read")
  }

  test("torn manifest: truncation at any byte degrades to listing, never a short file list") {
    val (ix, root) = freshIndex()
    ix.append(rowsDf(128, "a"))
    ix.compact()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = fs.listStatus(new Path(root)).map(_.getPath)
      .find(_.getName.endsWith("_b")).get
    val mp = new Path(gen, "_MANIFEST")
    val full = {
      val in = fs.open(mp)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        bos.toByteArray
      } finally in.close()
    }
    assert(BucketedIndex.readManifest(fs, gen).isDefined)
    val keys = rowsDf(128, "k").select(col("k")).limit(9)
    val want = probeAll(ix, keys)
    // crash-window truncations: mid-line (would MatchError the parse),
    // at a line boundary (the silent-omission case the footer catches),
    // and footer-only/empty
    val text = new String(full, java.nio.charset.StandardCharsets.UTF_8)
    val lineBoundary = text.indexOf('\n') + 1
    for (cut <- Seq(full.length - 3, lineBoundary, full.length / 2, 1, 0)) {
      val out = fs.create(mp, true)
      try out.write(full, 0, cut) finally out.close()
      assert(BucketedIndex.readManifest(fs, gen).isEmpty,
        s"a manifest truncated at byte $cut must be rejected, not trusted")
      BucketedIndex.clearCachesForTesting()
      assert(probeAll(ix, keys) == want,
        s"probe after a byte-$cut torn manifest must match via listing fallback")
    }
    // restored intact → accepted again
    val out = fs.create(mp, true)
    try out.write(full) finally out.close()
    assert(BucketedIndex.readManifest(fs, gen).isDefined)
  }

  test("folding a root no append created is a no-op; the first delta after an empty seed lands") {
    val (ix, root) = freshIndex()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root), true) // the root a first append would create
    ix.compact()
    ix.foldIncremental()
    assert(!ix.exists && !fs.exists(new Path(root)), "a fold must not create the root")

    // seed from an empty history, then one delta batch: docs 4, 9 and 14
    // (all delta ids, doc_id % 5 = 4) share one text, 19 differs
    import spark.implicits._
    val idx = SparkTestSession.tempDir("graft_incdedup_empty").resolve("idx").toString
    val res = SparkTestSession.tempDir("graft_incdedup_empty_res").resolve("res").toString
    val same = "alpha beta gamma delta epsilon zeta eta theta"
    val batch = Seq((4L, same), (9L, same), (14L, same), (19L, "north south east west"))
      .toDF("doc_id", "text")
    val noHistory = graft.queries.DedupQueries.keyedBandsOf(batch.limit(0))
    graft.streaming.IncDedup.seedHistory(spark, noHistory, idx)
    graft.streaming.IncDedup.processBatch(batch, 0L, res, idx)
    val pairs = spark.read.parquet(res).distinct().orderBy("new_id", "dup_of")
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((9L, 4L, 1.0), (14L, 4L, 1.0), (14L, 9L, 1.0)), s"got $pairs")
    val indexed = graft.streaming.IncDedup.index(spark, idx, 4096L, 16)
      .probe(graft.queries.DedupQueries.keyedBandsOf(batch).select("bk"))
      .rows.get.select("doc_id").distinct().as[Long].collect().sorted.toSeq
    assert(indexed == Seq(4L, 9L, 14L, 19L), s"the batch's bands must land in the index: $indexed")
  }
}
