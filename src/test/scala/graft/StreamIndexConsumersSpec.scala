package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The foreachBatch index consumers — q54 (streaming near-dup), q58
  * (streaming incremental dedup), q60 (streaming ANN), q61 (streaming
  * decontamination) and their b-variants — carry the same two
  * contracts, executed here instead of argued in their scaladocs:
  *
  *  1. RESUME: a second construction over the same checkpoint returns
  *     identical rows and appends NOT ONE new file to the external
  *     index (AvailableNow finds every staged file committed; the
  *     existence-gated history seed re-ingests nothing).
  *  2. PRUNED PROBES: the first run's index probes read the index's
  *     base generations with the touched-bucket set on the `bp` bucket
  *     column in the scan's PartitionFilters — the d09 pre-bucketed-read
  *     assertion applied to streaming state (a probe without it scans
  *     the full history every batch).
  */
class StreamIndexConsumersSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** This spec's own copy of the estate, so every row's first run is
    * cold even when an earlier spec in this JVM streamed the same query
    * over the shared directory. */
  private lazy val coldSf: String = IndexProbes.coldCopy(sf, "graft-stream-index-sf")

  private def runRoot(runKey: String): Path = IndexProbes.runRoot(coldSf, runKey)

  private def indexFiles(runKey: String): Long = {
    val l = Files.walk(runRoot(runKey).resolve("out_index"))
    try l.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
    finally l.close()
  }

  for ((name, runKey) <- Seq(
      ("q54_stream_neardup", "q54"),
      ("q58_stream_incdedup", "q58"),
      ("q58b_stream_incdedup_fold", "q58b"),
      ("q54b_stream_neardup_fold", "q54b"),
      ("q60_stream_ann", "q60"),
      ("q60b_stream_ann_reband", "q60b"),
      ("q61_stream_decontam", "q61"))) {
    test(s"$name: resume returns identical rows with zero index appends; probes prune") {
      val q = SparkEntry.queries(name)
      val (r1, scans) = IndexProbes.scansDuring(spark)(q(spark, coldSf).collect().toSeq)
      assert(r1.nonEmpty, s"$name must produce rows at $sf")

      val index = runRoot(runKey).resolve("out_index").toString
      assert(scans.exists(_.prunedProbeOf(index)),
        s"the $name index probe must prune on bp with the touched-bucket set; " +
          s"its scans of $index:\n" +
          scans.filter(_.location.contains(index)).mkString("\n"))

      val filesAfterFirst = indexFiles(runKey)
      assert(filesAfterFirst > 0, s"$name must have built its index")
      val r2 = q(spark, coldSf).collect().toSeq
      assert(r2 == r1, s"a resumed $name run must return identical rows")
      assert(indexFiles(runKey) == filesAfterFirst,
        s"a resumed $name run must not re-append to its index")
    }
  }

  /** The b-variants exist to run the ADAPTIVE RE-WIDENING mid-stream
    * (q54b/q58b scaladocs): with forced per-batch folds at target 64 /
    * minBuckets 4, the final base generation's bucket width P must have
    * LEFT the minBuckets floor — a P pinned at 4 would mean the policy
    * never re-derived the width and the variant proves nothing. */
  for ((name, runKey, minBuckets) <- Seq(
      ("q54b_stream_neardup_fold", "q54b", 4),
      ("q58b_stream_incdedup_fold", "q58b", 4))) {
    test(s"$name: the fold re-derived the bucket width off the floor") {
      SparkEntry.queries(name)(spark, coldSf).collect()
      val GenP = """gen_\d+_p(\d+)_b""".r
      val l = Files.list(runRoot(runKey).resolve("out_index"))
      val ps =
        try l.iterator().asScala
          .flatMap(p => GenP.findFirstMatchIn(p.getFileName.toString))
          .map(_.group(1).toInt).toList
        finally l.close()
      assert(ps.nonEmpty, s"$name left no base generation")
      assert(ps.max > minBuckets,
        s"$name's final base width ${ps.max} never left the $minBuckets floor")
    }
  }
}
