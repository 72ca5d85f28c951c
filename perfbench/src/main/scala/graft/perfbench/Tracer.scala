package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners: one `SparkListener`, one
  * `QueryExecutionListener` and one `StreamingQueryListener`, all
  * registered through Spark's public APIs.
  *
  * Attribution is by job group, not by time window. The benchmark runs
  * each phase of an op under its own group ([[phase]]); Spark stamps that
  * group on the phase's jobs and SQL executions, and stages and tasks
  * inherit it from their job. A `QueryExecutionListener` callback carries
  * no group, so it is paired with the SQL execution whose end event it
  * answers: the session's execution listener bus and this `SparkListener`
  * share Spark's shared event queue, and the bus joined it when the
  * session was built, so its callback for an end event always runs just
  * before this listener sees the same event.
  *
  * Spans nest op → build / action → job → stage and stay in memory
  * until [[spansJson]] writes them out at the end of the run. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  import Tracer.{Agg, Span}
  private val byGroup = new ConcurrentHashMap[String, Agg]()
  def agg(group: String): Agg = byGroup.computeIfAbsent(group, _ => new Agg)

  /** Totals over every group whose name satisfies `p`. */
  def total(p: String => Boolean)(f: Agg => AtomicLong): Long =
    byGroup.asScala.collect { case (g, a) if p(g) => f(a).get }.sum

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def span(name: String, parent: String, startMs: Long, endMs: Long): Unit =
    spans.add(Span(name, parent, startMs, endMs))

  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSchema = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val sqlGroup = new ConcurrentHashMap[Long, String]()
  private val pendingQe = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
  /** Plan fingerprints per group, in execution order, and the
    * normalized plan text behind each fingerprint. */
  val plans = new ConcurrentHashMap[String, java.util.List[String]]()
  val planTexts = new ConcurrentHashMap[String, String]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val events = new AtomicLong

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untagged")

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      val text = Tracer.normalize(qe.executedPlan.treeString)
      val fp = Tracer.fingerprint(text)
      planTexts.putIfAbsent(fp, text)
      pendingQe.add((ms, fp))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val g = groupOf(e.properties)
      jobGroup.put(e.jobId, g)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      // schema inference: the parquet reader lists and footers the input
      // in a job whose call site is the `parquet(...)` read call
      val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")
      jobSchema.put(e.jobId, site.startsWith("parquet at "))
      agg(g).jobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      val g = jobGroup.getOrDefault(e.jobId, "untagged")
      val ms = e.time - jobStart.getOrDefault(e.jobId, e.time)
      val a = agg(g)
      a.jobMs.addAndGet(ms)
      if (jobSchema.getOrDefault(e.jobId, false)) {
        a.schemaJobs.incrementAndGet(); a.schemaMs.addAndGet(ms)
      }
      span(s"job ${e.jobId}", g, e.time - ms, e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      events.incrementAndGet()
      stageSubmit.put(e.stageInfo.stageId,
        java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val s = e.stageInfo
      val job = stageJob.getOrDefault(s.stageId, -1)
      agg(jobGroup.getOrDefault(job, "untagged")).stages.incrementAndGet()
      for (a <- s.submissionTime; b <- s.completionTime)
        span(s"stage ${s.stageId}", s"job $job", a, b)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val job = stageJob.getOrDefault(e.stageId, -1)
      val a = agg(jobGroup.getOrDefault(job, "untagged"))
      a.tasks.incrementAndGet()
      if (!e.taskInfo.successful) a.failedTasks.incrementAndGet()
      val submit = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
      a.taskWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - submit))
      val m = e.taskMetrics
      if (m != null) {
        a.taskRunMs.addAndGet(m.executorRunTime)
        a.taskCpuNs.addAndGet(m.executorCpuTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        events.incrementAndGet()
        sqlGroup.put(s.executionId, s.jobGroupId.getOrElse("untagged"))
      case s: SparkListenerSQLExecutionEnd =>
        events.incrementAndGet()
        val g = sqlGroup.getOrDefault(s.executionId, "untagged")
        Option(pendingQe.poll()).foreach { case (ms, fp) =>
          agg(g).catalystMs.addAndGet(ms)
          plans.computeIfAbsent(g, _ => new java.util.concurrent.CopyOnWriteArrayList[String]())
            .add(fp)
        }
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet(); progress.add(e.progress)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Registers the listeners, lets the bus deliver what untraced work
    * queued before, and then forgets it, so the totals, the spans and the
    * pairing of execution callbacks with end events start clean. */
  def start(): Unit = {
    spark.listenerManager.register(qeListener)
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    quiesce()
    Seq(byGroup, jobGroup, jobStart, jobSchema, stageJob, stageSubmit, sqlGroup, plans, planTexts)
      .foreach(_.clear())
    Seq(spans, pendingQe, progress).foreach(_.clear())
  }

  /** Runs `body` with every job and SQL execution it starts tagged
    * `group`, and records the phase as a span under `parent`. */
  def phase[T](group: String, parent: String)(body: => T): T = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      span(group, parent, t0, System.currentTimeMillis())
      sc.clearJobGroup()
    }
  }

  /** Waits until the listener bus has been quiet for 300 ms (at most 10
    * s), so every event of the traced ops is counted before totals are
    * read. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10000L * 1000000
    var last = events.get
    var stable = System.nanoTime()
    while (System.nanoTime() < deadline && System.nanoTime() - stable < 300L * 1000000) {
      Thread.sleep(20)
      val now = events.get
      if (now != last) { last = now; stable = System.nanoTime() }
    }
  }

  /** Unregisters the listeners once every event so far is counted;
    * [[start]] may register them again. */
  def stop(): Unit = {
    quiesce()
    spark.streams.removeListener(streamListener)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def spansJson: String = spans.asScala.toSeq.sortBy(s => (s.startMs, s.endMs)).map { s =>
    s"""{"name":${Json.str(s.name)},"parent":${Json.str(s.parent)},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  final case class Span(name: String, parent: String, startMs: Long, endMs: Long)

  final class Agg {
    val jobs, stages, tasks, failedTasks = new AtomicLong
    val jobMs, taskRunMs, taskCpuNs, gcMs, taskWaitMs = new AtomicLong
    val inputBytes, shuffleWrite, shuffleRead, spill = new AtomicLong
    val schemaJobs, schemaMs, catalystMs = new AtomicLong
  }

  private val ids = Seq(
    "#\\d+L?" -> "#", "\\b(plan_id|id|rddId|stageId)=\\d+" -> "$1=",
    "subquery#?\\d+" -> "subquery", "\\[id=#?\\d+\\]" -> "",
    // codegen stage and AQE query stage numbers follow the order stages
    // happened to materialize; lambda classes and objects are numbered
    // per JVM
    "\\*\\(\\d+\\)" -> "*()", "QueryStage \\d+" -> "QueryStage",
    "\\$Lambda\\$\\d+(/0x[0-9a-f]+)?" -> "\\$Lambda", "@[0-9a-f]{4,}" -> "@",
    // paths, and the engine's artifact and view names, carry the checkout
    // and the process id
    "(file:)?/[^\\s,\\]\\)]*" -> "<path>", "graft_\\w+" -> "graft_<artifact>",
    "\\d{10,}" -> "N")

  /** A physical plan's tree string without expression ids, plan ids,
    * paths and process-tagged names, so two runs of the same plan read
    * alike. */
  def normalize(tree: String): String =
    ids.foldLeft(tree) { case (s, (re, to)) => s.replaceAll(re, to) }

  /** SHA-256 (first 16 hex digits) of a normalized plan. */
  def fingerprint(text: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
}
