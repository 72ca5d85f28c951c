package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.QueryDef

/** The run harness behind [[Verify]], [[Bench]] and [[Explain]]: one
  * session default, one query selection, one per-query loop. The mains
  * differ only in the action they run on each query's DataFrame and in
  * what they report. */
object Run {

  /** A main's frame: select `names`, open the session on `sfDir`, run
    * `body` on both, stop the session; exits 1 naming the queries `body`
    * reports failed. */
  def main(sfDir: String, names: Seq[String])(
      body: (SparkSession, Seq[QueryDef]) => Seq[String]): Unit = {
    val queries = select(names)
    val spark = session(sfDir)
    val failed = try body(spark, queries) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[run] ${failed.size} FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** The session every run uses: `local[n]` with n = `SPARK_GRAFT_CPUS`
    * (default: the JVM's available processors), shuffle width sized to
    * the estate under `sfDir` ([[Engine.tuneForEstate]]). */
  def session(sfDir: String): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = Engine.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val width = Engine.tuneForEstate(spark, sfDir)
    System.err.println(s"[run] local[$cpus], shuffle partitions $width, $sfDir")
    spark
  }

  /** The queries of `inventory` named in `names` (all of them when
    * `names` is empty), sorted by name. A name not in `inventory` throws:
    * a typo must not pass as a run of zero queries. */
  def select(names: Seq[String], inventory: Seq[QueryDef] = SparkEntry.inventory): Seq[QueryDef] = {
    val unknown = names.filterNot(inventory.map(_.name).toSet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    inventory.filter(q => names.isEmpty || names.contains(q.name)).sortBy(_.name)
  }

  /** Runs each query `runs` times: build it on `sfDir` and run `act` on
    * its name and DataFrame. A run yields the wall seconds of build +
    * action, or the Throwable either threw, reported on stderr (a query's
    * StackOverflowError or OutOfMemoryError fails that query, not the
    * run). Every job a run submits from the calling thread carries the
    * query's name as its job group; a streaming query's micro-batch jobs
    * carry their stream's run id instead (the stream thread sets its own).
    * After a query's runs the session's dead storage is swept
    * ([[Engine.sweepPersistentRDDs]]): the ContextCleaner frees a dead
    * localCheckpoint only after the driver GCs its RDD, and a full sweep
    * without this release ran g04 in 268 s against 186 s in a fresh JVM
    * (d13: 50 vs 25 s), its aggregations spilling against stale storage.
    *
    * Lazy: a query runs when the iterator reaches it, so the caller's
    * per-query step (a report line, a GC) runs before the next query. */
  def loop(spark: SparkSession, sfDir: String, queries: Seq[QueryDef], runs: Int = 1)(
      act: (String, DataFrame) => Unit): Iterator[(QueryDef, Seq[Try[Double]])] = {
    val sc = spark.sparkContext
    queries.iterator.map { q =>
      val attempts = Seq.fill(runs) {
        sc.setJobGroup(q.name, q.name)
        val t0 = System.nanoTime()
        try { act(q.name, q.build(spark, sfDir)); Success((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[run] ${q.name} failed: $e")
          Failure(e)
        } finally sc.clearJobGroup()
      }
      Engine.sweepPersistentRDDs(spark)
      (q, attempts)
    }
  }

  /** The names of the queries `results` holds a failed run for. */
  def failures(results: Iterator[(QueryDef, Seq[Try[Double]])]): List[String] =
    results.collect { case (q, runs) if runs.exists(_.isFailure) => q.name }.toList
}
