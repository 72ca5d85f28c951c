package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries.QueryDef

/** `query_mix`: closed loop, one client, a warm analyst session. Each op
  * is one declared query: `QueryDef.build` and then a `noop` write, which
  * runs the whole physical plan. The timed part runs whole passes over
  * [[QueryMix.sample]], each pass in a fresh seeded order, so every query
  * weighs the same in the latency distribution.
  *
  * Setup runs one untimed pass that writes every query's result as
  * parquet under `check/`; `run.py` compares those with DuckDB's answers
  * for `SparkEntry.oracleSql` and fails the ops of a query whose answer
  * is wrong. */
final class QueryMix(spark: SparkSession, inputs: String, work: String, seed: Long)
    extends Workload {
  private val defs: Seq[QueryDef] = QueryMix.sample.map { n =>
    SparkEntry.inventory.find(_.name == n)
      .getOrElse(throw new IllegalStateException(s"query $n is not in the inventory"))
  }
  private val rng = new scala.util.Random(seed)

  def setup(): Unit = {
    val check = Paths.get(work, "check")
    rng.shuffle(defs).foreach { q =>
      Main.timed(q.name, 1) {
        q.build(spark, inputs).write.mode("overwrite").parquet(check.resolve(q.name).toString)
        None
      }
      Main.hygiene(spark)
    }
    Files.createDirectories(check)
    Files.writeString(check.resolve("queries.txt"), defs.map(_.name).mkString("\n"))
    Files.writeString(check.resolve("oracle_sql.json"),
      defs.flatMap(q => q.oracle.map(sql => Json.str(q.name) + ":" + Json.str(sql)))
        .mkString("{", ",\n", "}"))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def pass(): Seq[Op] = rng.shuffle(defs).map { q =>
    val o = Main.timed(q.name, 1) { noop(q.build(spark, inputs)); None }
    Main.hygiene(spark)
    o
  }

  /** One whole pass per started five seconds of run length (a pass takes
    * five to seven seconds here; two at the benchmark's six). A count fixed
    * by the run length keeps the op list, and the status data Spark
    * retains for it, the same in a slow run as in a fast one. */
  def run(seconds: Double): Outcome =
    Outcome(Seq.fill(math.max(1, math.ceil(seconds / 5).toInt))(pass()).flatten)

  def traced(t: Tracer): Map[String, Double] = {
    val byName = defs.map(q => q.name -> q).toMap
    Main.tracedPasses(spark, t, rng.shuffle(defs).map(_.name))(
      n => byName(n).build(spark, inputs),
      (_, df) => noop(df.asInstanceOf[DataFrame])) ++
      Layers.noEtl ++ Layers.noIndex ++ Layers.noSink
  }
}

object QueryMix {
  /** One query per name prefix (a/c/d/g/j/m/p/q/s/t/u/v/w/x), drawn once
    * with a fixed seed; README.md says how and what it leaves out. */
  val sample: Seq[String] = Seq(
    "a03_quantile_drift", "c01_chunk_stats", "d09_incremental_dedup", "g01_pagerank",
    "j08_interval_overlap", "m08_image_dims", "p16_corpus_build_v3", "q41_typed_mapgroups",
    "s02_salted_join", "t26_dsir_weights", "u02_sketch_union", "v06_centroid_udaf",
    "w08_ewma", "x01_csv_source")
}
