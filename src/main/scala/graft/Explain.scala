package graft

import org.apache.spark.sql.SparkSession

import graft.queries.QueryDef

/** Plan-audit aid: print `explain("formatted")` for the named queries
  * (or all) against a scale dir. With `-exec`, run each query first and
  * print the FINAL adaptive plan (AQE re-plans at runtime, and codegen
  * ids / reused exchanges only appear in the executed plan). Session,
  * selection and loop: [[Run]], so the plans carry the shuffle width of
  * the Bench or Verify run they audit. Usage:
  * `sbt "runMain graft.Explain /root/testdata/sf0.01 [-exec] q13_join_tpch_q3"` */
object Explain {
  def main(args: Array[String]): Unit = {
    val rest = args.filterNot(_ == "-exec")
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    Run.main(sfDir, rest.drop(1).toSeq)(plans(_, sfDir, _, args.contains("-exec")))
  }

  /** Prints each query's plan; returns the names of those that failed. */
  private[graft] def plans(spark: SparkSession, sfDir: String,
      queries: Seq[QueryDef], exec: Boolean): Seq[String] =
    Run.failures(Run.loop(spark, sfDir, queries) { (name, df) =>
      println(s"\n########## $name ##########")
      if (exec) {
        // collect() drives THIS DataFrame's QueryExecution so the printed
        // adaptive plan is the final one (a .write would execute a
        // separate QueryExecution and leave this one unplanned)
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
    })
}
