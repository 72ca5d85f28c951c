package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.BucketedIndex

/** Pins [[BucketedIndex.foldIncremental]] (round-18, the q54b/q58b
  * fold-every-batch amortization):
  *
  *  1. a small delta folds into its OWN new base generation — the big
  *     seeded base is NOT rewritten (its generation dir survives
  *     untouched, byte for byte);
  *  2. probes over the multi-base index return exactly the rows a
  *     whole-base [[BucketedIndex.compact]] layout returns — layout
  *     only, results identical;
  *  3. the geometric full merge fires once the accumulated newer bases
  *     trip the [[BucketedIndex.FoldFraction]] size ratio, converging
  *     back to one base;
  *  4. the small-base tier is merged past the MaxBaseGens ceiling
  *     WITHOUT touching the oldest base.
  */
class BucketedIndexIncrementalSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val schema = StructType.fromDDL("k STRING, v LONG")

  private def rowsDf(from: Int, until: Int): DataFrame = {
    import spark.implicits._
    (from until until).map(i => (s"key_$i", i.toLong)).toDF("k", "v")
  }

  private def freshIndex(): (BucketedIndex, String) = {
    val root = SparkTestSession.tempDir("graft_bix_inc").toString
    (new graft.streaming.BucketedIndex(
      spark, root, "k", schema, targetRowsPerBucket = 16L, minBuckets = 4), root)
  }

  private def genDirs(root: String): Seq[String] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(root)).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
  }

  private def allKeys(n: Int): DataFrame =
    rowsDf(0, n).select(col("k"))

  test("delta folds alone; the seeded base is not rewritten") {
    val (ix, root) = freshIndex()
    ix.append(rowsDf(0, 512).localCheckpoint())
    ix.compact() // the big seeded base
    val Seq(baseDir) = genDirs(root)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseMtime = fs.getFileStatus(new Path(root, baseDir)).getModificationTime

    ix.append(rowsDf(512, 528).localCheckpoint()) // a small batch (~3%)
    ix.foldIncremental()

    val after = genDirs(root)
    assert(after.contains(baseDir),
      s"big base must survive an incremental fold untouched, got $after")
    assert(after.size == 2, s"delta must fold into its OWN base: $after")
    assert(after.forall(_.endsWith("_b")), s"no unfolded delta left: $after")
    assert(fs.getFileStatus(new Path(root, baseDir)).getModificationTime
      == baseMtime, "big base dir must not be rewritten")

    // results identical to a whole-base layout: every row still probes
    val rows = ix.probe(allKeys(528)).rows.get
      .orderBy("v").collect().map(_.getLong(1)).toSeq
    assert(rows == (0L until 528L), "multi-base probe must see every row")
  }

  test("geometric ratio full-merges; results unchanged throughout") {
    val (ix, root) = freshIndex()
    ix.append(rowsDf(0, 128).localCheckpoint())
    ix.compact()
    // equal-sized batches: the newer-tier bytes reach 1/FoldFraction of
    // the oldest base within a few batches and the full merge fires
    var merged = false
    var hi = 128
    (1 to 6).foreach { _ =>
      ix.append(rowsDf(hi, hi + 128).localCheckpoint())
      hi += 128
      ix.foldIncremental()
      if (genDirs(root).size == 1) merged = true
    }
    assert(merged, "equal-sized batches must trip the geometric full merge")
    val rows = ix.probe(allKeys(hi)).rows.get
      .orderBy("v").collect().map(_.getLong(1)).toSeq
    assert(rows == (0L until hi.toLong))
  }

  test("small-base tier merges past the ceiling without the oldest base") {
    val (ix, root) = freshIndex()
    ix.append(rowsDf(0, 4096).localCheckpoint())
    ix.compact() // big base: tiny batches below never trip the ratio
    val Seq(baseDir) = genDirs(root)
    var hi = 4096
    (1 to 10).foreach { _ => // > MaxBaseGens tiny batches
      ix.append(rowsDf(hi, hi + 8).localCheckpoint())
      hi += 8
      ix.foldIncremental()
    }
    val after = genDirs(root)
    assert(after.contains(baseDir), s"oldest base must survive: $after")
    assert(after.size <= 9, s"base count must stay bounded, got $after")
    val rows = ix.probe(allKeys(hi)).rows.get
      .orderBy("v").collect().map(_.getLong(1)).toSeq
    assert(rows == (0L until hi.toLong))
  }
}
