package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.IncDedup

/** `index_stream`: closed loop, one client, through a real micro-batch
  * stream as q58 runs it. Setup bands the history corpus into a fresh
  * `BucketedIndex` once (`IncDedup.seedHistory`) and starts a stream whose
  * `foreachBatch` body is `IncDedup.processBatch`: a bucket-pruned probe,
  * the verified pairs' append, the batch's own band append and the
  * size-triggered fold. An op adds one delta batch to the stream's
  * `MemoryStream` and waits until the stream has committed it. The index
  * grows through the run.
  *
  * Check: every planted near-duplicate pair of a processed batch is
  * reported, and every reported pair is a true near duplicate (bigram
  * Jaccard ≥ 0.8, recomputed here) with the score the engine gave it. */
final class IndexStream(spark: SparkSession, inputs: String, work: String) extends Workload {
  private val root = s"$work/index"
  private val res = s"$work/index_pairs"
  private val docs: Array[Seq[(Long, String)]] = {
    val by = spark.read.parquet(s"$inputs/delta.parquet").collect().groupBy(_.getInt(0))
    Array.tabulate(by.size)(b => by(b).toSeq.map(r => (r.getLong(1), r.getString(2))))
  }
  private lazy val texts: Map[Long, String] =
    spark.read.parquet(s"$inputs/history.parquet").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ++ docs.iterator.flatten
  private lazy val planted: Map[Long, Long] =
    scala.io.Source.fromFile(s"$inputs/planted.tsv").getLines()
      .map(_.split('\t')).map(a => a(0).toLong -> a(1).toLong).toMap
  private var stream: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private var next = 0
  // the stream's batch ids, which equal the op index: one batch per op
  private val folded = mutable.Set[Long]()

  private def op(): Op = {
    val b = next
    next += 1
    Main.timed(s"batch $b", docs(b).size.toDouble) {
      stream.addData(docs(b))
      query.processAllAvailable()
      query.exception.map(e => s"stream died: ${e.getMessage.take(300)}")
    }
  }

  def setup(): Unit = {
    IncDedup.seedHistory(spark,
      graft.queries.DedupQueries.keyedBandsOf(spark.read.parquet(s"$inputs/history.parquet")),
      root)
    Main.hygiene(spark)
    implicit val ctx: SQLContext = spark.sqlContext
    implicit val enc: Encoder[(Long, String)] = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    stream = MemoryStream[(Long, String)]
    query = stream.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$work/index_ckpt")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (IncDedup.processBatch(batch, id, res, root)) folded.synchronized(folded += id)
        ()
      }
      .start()
    // untimed warm-up batches, which the index keeps: batch latency falls
    // by about a third over the first ten batches of a fresh JVM while
    // the JIT compiles the probe and fold paths
    (0 until 4).foreach { _ => op(); Main.hygiene(spark) }
  }

  def run(seconds: Double): Outcome = {
    val first = next
    val ops = Main.closedLoop(spark, seconds, limit = docs.length - next)(op())
    query.stop()
    if (next == docs.length) return Outcome(ops, Seq("ran out of delta batches"))
    val bad = check(0 until next)
    Outcome(ops.zipWithIndex.map { case (o, i) =>
      bad.get(first + i).fold(o)(e => o.copy(units = 0, error = Some(e)))
    }, bad.collect { case (b, e) if b < first => e }.toSeq)
  }

  /** Per processed batch: the first check failure, if any. */
  private def check(batches: Range): Map[Int, String] = {
    val found = spark.read.parquet(res).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val batchOf = docs.indices.flatMap(b => docs(b).map(_._1 -> b)).toMap
    val byNew = found.groupBy(_._1)
    batches.flatMap { b =>
      val ids = docs(b).map(_._1)
      val missing = ids.collectFirst {
        case i if planted.contains(i) && !byNew.getOrElse(i, Array.empty).exists(_._2 == planted(i)) =>
          s"planted pair ($i, ${planted(i)}) not found"
      }
      val wrong = ids.iterator.flatMap(i => byNew.getOrElse(i, Array.empty)).collectFirst {
        case (n, d, j) if math.abs(IndexStream.jaccard(texts(n), texts(d)) - j) > 1e-9 =>
          s"pair ($n, $d) scored $j, exact ${IndexStream.jaccard(texts(n), texts(d))}"
        case (n, d, _) if d % 5 == 4 && !(d < n && batchOf.get(d).exists(_ <= b)) =>
          s"pair ($n, $d) breaks the partner rule"
      }
      missing.orElse(wrong).map(b -> _)
    }.toMap
  }

  def traced(t: Tracer): Map[String, Double] = {
    val ops = (0 until 4).map(i => s"op$i")
    val tracedFrom = next + ops.size
    val common = Main.tracedPasses(spark, t, ops)(_ => None, (_, _) => op())
    query.stop()
    val (files, bytes) = Main.dirStats(root)
    val (sinkFiles, sinkBytes) = Main.dirStats(res)
    val gens = Option(new java.io.File(root).list()).getOrElse(Array.empty[String])
      .count(_.startsWith("gen_"))
    common ++ Layers.noEtl ++ Map(
      "sink.files" -> sinkFiles.toDouble,
      "sink.bytes" -> sinkBytes.toDouble,
      "index.batch_ms" -> common("exec.action_ms"),
      "index.fold_batches" ->
        folded.count(b => b >= tracedFrom && b < tracedFrom + ops.size).toDouble,
      "index.jobs_per_batch" -> common("exec.jobs") / ops.size,
      "index.generations" -> gens.toDouble,
      "index.files" -> files.toDouble,
      "index.bytes" -> bytes.toDouble)
  }
}

object IndexStream {
  /** Bigram-shingle Jaccard of two texts, rounded half-up to 3 places as
    * the engine rounds it. */
  def jaccard(a: String, b: String): Double = {
    def sh(s: String) = s.split(" ").sliding(2).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    val j = (x & y).size.toDouble / (x | y).size
    java.math.BigDecimal.valueOf(j * 1000).setScale(0, java.math.RoundingMode.HALF_UP)
      .doubleValue() / 1000
  }
}
