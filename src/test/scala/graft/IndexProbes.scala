package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** What the BucketedIndex stream consumers' specs share: a cold copy of
  * an estate, a replay's run root, and the file scans a run planned.
  *
  * A replay runs each micro-batch in a cloned session, so the scans are
  * read off the SparkContext's listener bus, which every session of the
  * context posts to, and only for the SQL executions that started while
  * the run was going. */
object IndexProbes {

  /** A copy of `sf` in a fresh temp dir. Replay run roots are keyed by
    * (query, estate path), so a fresh path gives a stream query a COLD
    * first run even when an earlier spec in this JVM already streamed the
    * same query over `sf` (a resumed run probes nothing). */
  def coldCopy(sf: String, prefix: String): String = {
    val dir = SparkTestSession.tempDir(prefix)
    val l = Files.list(Paths.get(sf))
    try l.forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    finally l.close()
    dir.toString
  }

  /** This JVM's run root of the `runKey` replay over `sfDir`
    * (`graft_run_<pidHex>_<runKey>_<pathKey>`). */
  def runRoot(sfDir: String, runKey: String): Path = {
    val pidHex = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val name = s"graft_run_${pidHex}_${runKey}_${graft.queries.Core.Replay.pathKey(sfDir)}"
    val l = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try l.filter(p => p.getFileName.toString == name)
      .findFirst()
      .orElseThrow(() => new AssertionError(s"$runKey run root not found"))
    finally l.close()
  }

  /** One planned file scan: its `Location` and `PartitionFilters`. */
  final case class Scan(location: String, partitionFilters: String) {
    /** Reads a generation of the index rooted at `root`, restricted by a
      * touched-bucket set on `bp` (Spark prints it as `INSET` past 10
      * values, `IN (…)` below). */
    def prunedProbeOf(root: String): Boolean =
      location.contains(s"$root/gen_") && partitionFilters.contains("bp#") &&
        (partitionFilters.contains("INSET") || partitionFilters.contains(" IN "))
  }

  /** Runs `body` and returns its value with every file scan of the SQL
    * executions (initial and adaptive re-plans) started while it ran. */
  def scansDuring[T](spark: SparkSession)(body: => T): (T, Seq[Scan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlanInfo]()
    val marker = s"graft-index-probes-${System.nanoTime()}"
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case st: SparkListenerSQLExecutionStart =>
          if (st.physicalPlanDescription.contains(marker)) markerSeen = true
          else plans.add(st.sparkPlanInfo)
        case up: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(up.sparkPlanInfo)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      // the bus delivers in posting order: once an execution started
      // after `body` arrives, every execution `body` started has too
      spark.range(1).selectExpr(s"'$marker' AS m").collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "the listener bus never delivered the marker execution")
      def scans(p: SparkPlanInfo): Seq[Scan] =
        p.metadata.get("Location").map(l =>
          Scan(l, p.metadata.getOrElse("PartitionFilters", ""))).toSeq ++
          p.children.flatMap(scans)
      (out, plans.asScala.toSeq.flatMap(scans))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
