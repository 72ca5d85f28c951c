package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFns
import graft.streaming.AnnStream

/** Fold-time re-banding for the streaming ANN index (the round-13 seed:
  * "q60's SRP band width is frozen at seed time"). Two contracts:
  *
  *  1. NO-OP EQUIVALENCE: on a stream whose growth never crosses an
  *     [[VectorFns.adaptiveSrpBits]] boundary, `reband = true` returns
  *     byte-identical results to the pinned-width run — re-banding is
  *     pure overhead-free capability until the width rule actually
  *     moves.
  *  2. WIDTH ADVANCES WITH THE FOLD, and the advanced width is the
  *     one the CURRENT count calls for: after growing the index ~16×
  *     past its seed, the newest base generation's `bk` strings carry
  *     `adaptiveSrpBits(totalRows)` characters, [[AnnStream
  *     .currentBits]] reports the same number (derived from the data,
  *     not a sidecar), and the post-fold batch's results are exactly
  *     the top-k over bucket-mates at the NEW width (reference
  *     recomputed in the spec over the accumulated frame).
  */
class AnnRebandSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def vecs: DataFrame = spark.read
    .parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  /** id-shifted copy r (embeddings reused verbatim — bucket geometry
    * identical per copy, ids disjoint). */
  private def shifted(r: Int, stride: Long): DataFrame =
    vecs.select((col("vec_id") + lit(r * stride)).as("vec_id"), col("embedding"))

  private def freshDirs(tag: String): (String, String) = {
    val root = SparkTestSession.tempDir(s"graft_reband_$tag").toString
    (s"$root/res", s"$root/idx")
  }

  test("no-op equivalence: reband run matches pinned run while the width rule holds") {
    val n = vecs.count()
    val bits = VectorFns.adaptiveSrpBits(n, 64L)
    // same seed + same single batch, growth ≤ 2n never moves the width
    assert(VectorFns.adaptiveSrpBits(2 * n, 64L) == bits)
    val batch = shifted(1, 1000000L)
    val results = Seq(false, true).map { rb =>
      val (res, idx) = freshDirs(if (rb) "on" else "off")
      AnnStream.seedHistory(spark, vecs, idx, bits,
        targetRowsPerBucket = 64L, minBuckets = 4)
      AnnStream.processBatch(batch.localCheckpoint(), 0L, res, idx, bits,
        targetRowsPerBucket = 64L, minBuckets = 4, reband = rb)
      spark.read.parquet(res).distinct()
        .orderBy("vec_id", "nb_rank").collect().toSeq
    }
    assert(results(0).nonEmpty)
    assert(results(0) == results(1),
      "reband=true must be a no-op while growth stays inside the seed width")
  }

  test("width advances at the fold to what the current count calls for; post-fold batch is exact top-k at the new width") {
    val n = vecs.count() // 200 at sf0.001
    val target = 1L      // tiny bucket target → width moves fast
    val seedBits = VectorFns.adaptiveSrpBits(n, target)
    val (res, idx) = freshDirs("grow")
    AnnStream.seedHistory(spark, vecs, idx, seedBits,
      targetRowsPerBucket = target, minBuckets = 4)
    val stride = 1000000L
    // ~16× growth in three appends; each delta dwarfs the base, so the
    // size-ratio trigger folds (and re-bands) after every batch
    val batches = Seq(1 to 5, 6 to 10, 11 to 15).map(rs =>
      rs.map(r => shifted(r, stride)).reduce(_ unionByName _).localCheckpoint())
    batches.zipWithIndex.foreach { case (b, i) =>
      AnnStream.processBatch(b, i.toLong, res, idx, seedBits,
        targetRowsPerBucket = target, minBuckets = 4, reband = true)
    }
    val ix = AnnStream.index(spark, idx, target, 4)
    // rows across generations — parquet footer counts
    val total = new java.io.File(idx).listFiles().filter(_.getName.startsWith("gen_"))
      .map(g => spark.read.parquet(g.getPath).count()).sum
    val want = VectorFns.adaptiveSrpBits(total, target)
    assert(want > seedBits, s"test must cross a width boundary: $seedBits -> $want")
    val live = AnnStream.currentBits(ix, seedBits)
    assert(live == want,
      s"fold must re-band to adaptiveSrpBits($total)=$want, index carries $live")

    // reference for the LAST batch at the width its probe actually used
    // (the width after batch 2's fold — derive it the same way the
    // batch did: from the base that existed when batch 3 ran, which is
    // the final width only if batch 3's own fold didn't move it again)
    val preTotal = total - batches(2).count()
    val preBits = VectorFns.adaptiveSrpBits(preTotal, target)
    val all = (vecs +: (1 to 15).map(r => shifted(r, stride)))
      .reduce(_ unionByName _)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .select(col("vec_id"), col("e"),
        VectorFns.srpBucket(col("e"), preBits).as("bk"))
      .localCheckpoint()
    val lastIds = batches(2).select("vec_id")
    val q = all.join(lastIds, "vec_id")
      .select(col("bk"), col("vec_id").as("qid"), col("e").as("qe"))
    val expected = q.join(
        all.select(col("bk"), col("vec_id").as("pid"), col("e").as("pe")), "bk")
      .filter(col("pid") % 5 =!= 4 || col("pid") < col("qid"))
      .select(col("qid"), col("pid"),
        graft.functions.Num.oround(
          VectorFns.cosine(col("qe"), col("pe")), 4).as("cos_sim"))
      .distinct()
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("cos_sim").desc, col("pid"))))
      .filter(col("rank") <= 10)
      .select(col("qid").as("vec_id"), col("pid").as("neighbor"),
        col("cos_sim"), col("rank").cast("long").as("nb_rank"))
      .orderBy("vec_id", "nb_rank").collect().toSeq
    val got = spark.read.parquet(res).distinct()
      .join(lastIds, "vec_id")
      .orderBy("vec_id", "nb_rank").collect().toSeq
    assert(got == expected,
      "post-fold batch must be the exact top-k over bucket-mates at the live width")
  }
}
