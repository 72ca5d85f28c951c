package graft

import java.nio.file.{Files, Path, Paths}

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
  *  2. PRUNED PROBES: the last micro-batch's index probe carries the
  *     `bp` bucket column in the scan's PartitionFilters — the d09
  *     pre-bucketed-read assertion applied to streaming state (a probe
  *     without it is the round-11 full-history-scan layout).
  */
class StreamIndexConsumersSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** This JVM's run root of a replay (`graft_run_<pidHex>_<runKey>_…`). */
  private def runRoot(runKey: String): Path = {
    val pidHex = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val l = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try l.filter(p =>
        p.getFileName.toString.startsWith(s"graft_run_${pidHex}_${runKey}_"))
      .findFirst()
      .orElseThrow(() => new AssertionError(s"$runKey run root not found"))
    finally l.close()
  }

  private def indexFiles(runKey: String): Long = {
    val l = Files.walk(runRoot(runKey).resolve("out_index"))
    try l.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
    finally l.close()
  }

  for ((name, runKey, probeKey) <- Seq(
      ("q54_stream_neardup", "q54", "bk"),
      ("q58_stream_incdedup", "q58", "bk"),
      ("q58b_stream_incdedup_fold", "q58b", "bk"),
      ("q54b_stream_neardup_fold", "q54b", "bk"),
      ("q60_stream_ann", "q60", "bk"),
      ("q60b_stream_ann_reband", "q60b", "bk"),
      ("q61_stream_decontam", "q61", "h"))) {
    test(s"$name: resume returns identical rows with zero index appends; probes prune") {
      val q = SparkEntry.queries(name)
      val r1 = q(spark, sf).collect().toSeq
      assert(r1.nonEmpty, s"$name must produce rows at $sf")

      val plan = graft.streaming.BucketedIndex.lastProbePlanFor(probeKey)
        .getOrElse(fail(s"$name never probed its $probeKey index"))
      assert(plan.contains("PartitionFilters: [bp#"),
        s"the $name index probe must prune on bp, got:\n$plan")
      assert(plan.contains("INSET") || plan.contains(" IN "),
        s"the $name probe must carry the touched-bucket set, got:\n$plan")

      val filesAfterFirst = indexFiles(runKey)
      assert(filesAfterFirst > 0, s"$name must have built its index")
      val r2 = q(spark, sf).collect().toSeq
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
      SparkEntry.queries(name)(spark, sf).collect()
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
