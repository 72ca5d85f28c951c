package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Pipeline

/** `etl_batch`: closed loop, one client. Each op is `Pipeline.batch` over
  * the staged readings estate plus `Pipeline.writeBatch`'s dual parquet
  * sink; its output is then checked against the generator's expected
  * samples per (mac, window). */
final class EtlBatch(spark: SparkSession, inputs: String, work: String) extends Workload {
  private val out = s"$work/etl_out"
  private lazy val expected = Expected.windows(s"$inputs/expected_windows.tsv")
  private lazy val readingCount = Expected.readingCount(inputs)

  private def readings: DataFrame = spark.read.parquet(s"$inputs/readings.parquet")
  private def tags: DataFrame = spark.read.parquet(s"$inputs/tags.parquet")

  /** One timed batch job, then its untimed output check. */
  private def op(checked: Boolean = true): Op = {
    val o = Main.timed("etl_batch", readingCount.toDouble) {
      Pipeline.writeBatch(Pipeline.batch(readings, tags), out)
      None
    }
    if (o.error.nonEmpty || !checked) o
    else check().fold(o)(e => o.copy(units = 0, error = Some(e)))
  }

  /** Both sinks hold every expected (mac, window) exactly once with the
    * expected sample count, so Σ samples = whitelisted valid readings. */
  private def check(): Option[String] =
    Seq("sensor_data", "movement_data").iterator.map { sink =>
      val got = spark.read.parquet(s"$out/$sink")
        .select(col("mac"), unix_timestamp(col("time")).as("end"), col("samples"))
        .collect().map(r => (s"${r.getString(0)}|${r.getLong(1)}", r.getInt(2)))
      Expected.compare(sink, got.toSeq, expected)
    }.collectFirst { case Some(e) => e }

  /** Three untimed jobs while the JIT compiles the decode, window and
    * sink paths (op latency falls by about a third over a fresh JVM's
    * first ten jobs). The first job's output is checked, so a wrong
    * answer shows before any timing. */
  def setup(): Unit = setupErrors = (0 until 3).flatMap { i =>
    val o = op(checked = i == 0)
    Main.hygiene(spark)
    o.error
  }
  private var setupErrors = Seq.empty[String]

  def run(seconds: Double): Outcome =
    Outcome(Main.closedLoop(spark, seconds)(op()), setupErrors.distinct)

  def traced(t: Tracer): Map[String, Double] = {
    val ops = Seq("op0", "op1", "op2")
    val common = Main.tracedPasses(spark, t, ops)(
      _ => Pipeline.batch(readings, tags),
      (_, agg) => Pipeline.writeBatch(agg.asInstanceOf[DataFrame], out))
    // self time per pipeline stage: noop writes of successive prefixes,
    // each stage's time being its prefix's minus the one before; the
    // sink's is writeBatch's minus the full prefix's. Each prefix runs
    // three times and keeps the median, so its first run's code
    // generation does not count.
    def noop(df: => DataFrame): Double = Seq.fill(3) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val ms = (System.nanoTime() - t0) / 1e6
      Main.hygiene(spark)
      ms
    }.sorted.apply(1)
    val wl = noop(Pipeline.whitelist(readings, tags))
    val dec = noop(Pipeline.decode(Pipeline.whitelist(readings, tags)))
    val agg = noop(Pipeline.aggregate(Pipeline.decode(Pipeline.whitelist(readings, tags))))
    val full = noop(Pipeline.batch(readings, tags))
    val sink = common("exec.action_ms") / ops.size
    val total = readings.count()
    val kept = Pipeline.whitelist(readings, tags).count()
    val valid = Pipeline.decode(Pipeline.whitelist(readings, tags)).count()
    common ++ Layers.noIndex ++ Layers.noSink ++ Map(
      "etl.whitelist_ms" -> wl,
      "etl.decode_ms" -> (dec - wl),
      "etl.aggregate_ms" -> (agg - dec),
      "etl.enrich_ms" -> (full - agg),
      "etl.sink_ms" -> (sink - full),
      "etl.dropped_mac" -> (total - kept).toDouble,
      "etl.dropped_invalid" -> (kept - valid).toDouble)
  }
}

/** Expected per-window samples, as written by the generator. */
object Expected {
  def windows(tsv: String): Map[String, Int] =
    scala.io.Source.fromFile(tsv).getLines().map { l =>
      val Array(k, v) = l.split('\t'); k -> v.toInt
    }.toMap

  def readingCount(inputs: String): Long =
    scala.io.Source.fromFile(s"$inputs/reading_count.txt").mkString.trim.toLong

  /** None if `got` holds each expected key once with its count. */
  def compare(what: String, got: Seq[(String, Int)], expected: Map[String, Int]): Option[String] = {
    val dup = got.groupBy(_._1).collectFirst { case (k, v) if v.size > 1 => k }
    val gotMap = got.toMap
    val wrong = expected.collectFirst { case (k, v) if !gotMap.get(k).contains(v) =>
      s"$k expected $v got ${gotMap.get(k)}" }
    val extra = gotMap.keys.find(!expected.contains(_))
    dup.map(k => s"$what: $k emitted twice")
      .orElse(wrong.map(w => s"$what: $w"))
      .orElse(extra.map(k => s"$what: unexpected $k"))
  }
}
