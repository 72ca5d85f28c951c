package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Engine

/** One timed op: its name, wall milliseconds, the workload units it
  * completed (queries, readings, docs) and why it failed, if it did. */
final case class Op(name: String, ms: Double, units: Double, error: Option[String])

/** A run's ops plus failures not tied to one op. */
final case class Outcome(ops: Seq[Op], errors: Seq[String] = Nil)

/** A benchmark workload: untimed setup, then either a timed part bounded
  * by `seconds` or, in a traced run, a fixed op list (see
  * [[Main.tracedPasses]]) whose per-layer totals repeat run to run. */
trait Workload {
  def setup(): Unit
  def run(seconds: Double): Outcome
  def traced(t: Tracer): Map[String, Double]
}

/** The JVM side of the benchmark. `run.py` generates the inputs, starts
  * this main, and turns the `result.json` it writes into metrics.
  *
  * Usage: `Main <workload> <inputs dir> <work dir> <seconds> <trace 0|1>
  * <seed> <cores>` */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, secondsS, traceS, seedS, coresS) = args
    val seconds = secondsS.toDouble
    val cores = coresS.toInt
    val sessionT0 = System.nanoTime()
    val spark = Engine.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = (System.nanoTime() - sessionT0) / 1e6
    val wl: Workload = workload match {
      case "query_mix"    => new QueryMix(spark, inputs, work, seedS.toLong)
      case "etl_batch"    => new EtlBatch(spark, inputs, work)
      case "index_stream" => new IndexStream(spark, inputs, work)
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.setup()
    val out = mutable.LinkedHashMap[String, String]()
    out("setup_end_ms") = System.currentTimeMillis().toString
    // set-up's parts: JVM start, session ready
    out("jvm_start_ms") =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toString
    out("session_ms") = Json.num(sessionMs)
    if (traceS != "1") {
      val o = wl.run(seconds)
      out("timed_end_ms") = System.currentTimeMillis().toString
      out("ops") = o.ops.map { op =>
        s"""{"name":${Json.str(op.name)},"ms":${Json.num(op.ms)},"units":${Json.num(op.units)},""" +
          s""""error":${op.error.map(Json.str).getOrElse("null")}}"""
      }.mkString("[", ",\n", "]")
      out("errors") = o.errors.map(Json.str).mkString("[", ",", "]")
      out("heap_live_mb") = Json.num(heapLiveMb())
    } else {
      val t = new Tracer(spark)
      val layers = wl.traced(t) + ("engine.session_ms" -> sessionMs)
      out("layers") = layers.toSeq.sortBy(_._1)
        .map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",\n", "}")
      out("plans") = t.plans.asScala.toSeq.sortBy(_._1)
        .map { case (g, l) => Json.str(g) + ":" + Json.str(l.asScala.mkString("+")) }
        .mkString("{", ",\n", "}")
      out("plan_texts") = t.planTexts.asScala.toSeq.sortBy(_._1)
        .map { case (fp, text) => Json.str(fp) + ":" + Json.str(text) }.mkString("{", ",\n", "}")
      out("spans") = t.spansJson
    }
    Files.writeString(Paths.get(work, "result.json"),
      out.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",\n", "}\n"))
    spark.stop()
  }

  /** Untimed between ops, as graft.Bench does: release every unpinned
    * persistent RDD and collect, so one op's garbage is not charged to
    * the next. */
  def hygiene(spark: SparkSession): Unit = {
    Engine.sweepPersistentRDDs(spark)
    System.gc()
  }

  /** Live heap: the least heap in use after each of three full
    * collections, spaced so Spark's asynchronous cleaners can drop what
    * they still hold. */
  def heapLiveMb(): Double = (0 until 3).map { _ =>
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Thread.sleep(100)
    used / 1048576.0
  }.min

  /** Persistent RDDs and their storage (MiB) still held. */
  def pinned(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  /** Closed loop, one client: runs `op()` until `seconds` of op time
    * have passed, with [[hygiene]] between ops. */
  def closedLoop(spark: SparkSession, seconds: Double, limit: Int = Int.MaxValue)(
      op: => Op): Seq[Op] = {
    val ops = mutable.ArrayBuffer[Op]()
    var spent = 0.0
    while (spent < seconds * 1000 && ops.size < limit) {
      val o = op
      ops += o
      spent += o.ms
      hygiene(spark)
    }
    ops.toSeq
  }

  /** Wall milliseconds of `body`; a thrown error or a returned message
    * fails the op. */
  def timed(name: String, units: Double)(body: => Option[String]): Op = {
    val t0 = System.nanoTime()
    val err =
      try body
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    Op(name, (System.nanoTime() - t0) / 1e6, if (err.isEmpty) units else 0.0, err)
  }

  /** Runs the ops of `names` in three passes: untraced, traced (with
    * `t`'s listeners registered and each op's build and action phases
    * tagged), untraced again, so JIT warm-up favours neither side.
    * Returns the common layers over the traced pass, with its build and
    * action milliseconds, the most storage a sweep left pinned, and the
    * traced pass's time minus the mean of the untraced passes'. */
  def tracedPasses(spark: SparkSession, t: Tracer, names: Seq[String])(
      build: String => AnyRef, action: (String, AnyRef) => Unit): Map[String, Double] = {
    def plainPass(): Double = names.map { n =>
      val t0 = System.nanoTime()
      action(n, build(n))
      val ms = (System.nanoTime() - t0) / 1e6
      hygiene(spark)
      ms
    }.sum
    var buildMs, actionMs, mb = 0.0
    var rdds = 0
    val before = plainPass()
    t.start()
    names.foreach { n =>
      val t0 = System.currentTimeMillis()
      val b = t.phase(s"$n/build", n)(build(n))
      val t1 = System.currentTimeMillis()
      t.phase(s"$n/action", n)(action(n, b))
      val t2 = System.currentTimeMillis()
      t.span(n, "run", t0, t2)
      buildMs += t1 - t0; actionMs += t2 - t1
      hygiene(spark)
      val (r, m) = pinned(spark)
      rdds = math.max(rdds, r); mb = math.max(mb, m)
    }
    t.stop()
    val after = plainPass()
    commonLayers(t, buildMs, actionMs, rdds, mb) +
      ("trace.overhead_ms" -> (buildMs + actionMs - (before + after) / 2))
  }

  /** Files and bytes under `dir` (0, 0 if absent). */
  def dirStats(dir: String): (Int, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return (0, 0L)
    val s = Files.walk(root)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.size, files.map(Files.size(_)).sum)
    } finally s.close()
  }

  /** The per-layer metrics every workload reports from the tracer:
    * relation resolution, builders, Catalyst, Spark's execution and the
    * storage left pinned, summed over the traced groups. */
  def commonLayers(t: Tracer, buildMs: Double, actionMs: Double,
      pinnedRdds: Int, pinnedMb: Double): Map[String, Double] = {
    def all(f: Tracer.Agg => java.util.concurrent.atomic.AtomicLong): Double =
      t.total(_ => true)(f).toDouble
    def build(f: Tracer.Agg => java.util.concurrent.atomic.AtomicLong): Double =
      t.total(_.endsWith("/build"))(f).toDouble
    Map(
      "tables.schema_jobs" -> build(_.schemaJobs),
      "tables.schema_ms" -> build(_.schemaMs),
      "queries.build_ms" -> buildMs,
      "queries.eager_jobs" -> (build(_.jobs) - build(_.schemaJobs)),
      "queries.eager_ms" -> (build(_.jobMs) - build(_.schemaMs)),
      "plans.catalyst_ms" -> all(_.catalystMs),
      "exec.action_ms" -> actionMs,
      "exec.jobs" -> all(_.jobs),
      "exec.stages" -> all(_.stages),
      "exec.tasks" -> all(_.tasks),
      "exec.task_run_ms" -> all(_.taskRunMs),
      "exec.task_cpu_ms" -> all(_.taskCpuNs) / 1e6,
      "exec.gc_ms" -> all(_.gcMs),
      "exec.task_wait_ms" -> all(_.taskWaitMs),
      "exec.failed_tasks" -> all(_.failedTasks),
      "exec.input_bytes" -> all(_.inputBytes),
      "exec.shuffle_write_bytes" -> all(_.shuffleWrite),
      "exec.shuffle_read_bytes" -> all(_.shuffleRead),
      "exec.spill_bytes" -> all(_.spill),
      "ops.pinned_rdds" -> pinnedRdds.toDouble,
      "ops.pinned_mb" -> pinnedMb) ++ Layers.stream(t)
  }
}

/** Per-layer metrics shared by several workloads. */
object Layers {
  /** Micro-batch totals from the tracer's streaming progress events. */
  def stream(t: Tracer): Map[String, Double] = {
    val ps = t.progress.asScala.toSeq
    def dur(k: String): Double =
      ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val state = ps.map(_.stateOperators)
    Map(
      "stream.batches" -> ps.size.toDouble,
      "stream.empty_batches" -> ps.count(_.numInputRows == 0).toDouble,
      "stream.trigger_ms" -> dur("triggerExecution"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.planning_ms" -> dur("queryPlanning"),
      "stream.offset_commit_ms" -> (dur("walCommit") + dur("commitOffsets")),
      "stream.state_rows" -> state.map(_.map(_.numRowsTotal).sum).maxOption.getOrElse(0L).toDouble,
      "stream.state_mb" ->
        state.map(_.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L) / 1048576.0)
  }

  /** Layers a workload does not exercise report zero. */
  private def zeros(names: String*): Map[String, Double] = names.map(_ -> 0.0).toMap
  val noIndex: Map[String, Double] = zeros("index.batch_ms", "index.fold_batches",
    "index.jobs_per_batch", "index.generations", "index.files", "index.bytes")
  val noEtl: Map[String, Double] = zeros("etl.whitelist_ms", "etl.decode_ms",
    "etl.aggregate_ms", "etl.enrich_ms", "etl.sink_ms", "etl.dropped_mac",
    "etl.dropped_invalid")
  val noSink: Map[String, Double] = zeros("sink.files", "sink.bytes")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
