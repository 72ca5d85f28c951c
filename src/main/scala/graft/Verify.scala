package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.queries.QueryDef
/** Correctness dump: each selected query's result → `<outDir>/<name>/`
  * parquet, plus `oracle_sql.json` for the DuckDB compare
  * (`tools/compare.py`). Usage: `graft.Verify <sfDir> <outDir> [query…]`;
  * two args dump every query, extra args restrict the dump to the named
  * queries. Session, selection and loop: [[Run]]. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [query ...]")
      sys.exit(2)
    }
    Run.main(args(0), args.drop(2).toSeq)(dump(_, args(0), args(1), _))
  }

  /** Writes the dump of `queries`; returns the names of those that
    * failed. The oracle map holds the selected queries only, so
    * `tools/compare.py` flags a query that died before writing its dir. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[QueryDef]): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    // coalesce(1) is for the tiny oracle dumps only (one file per query
    // for the compare's reader) — never a pattern for real sinks.
    val failed = Run.failures(Run.loop(spark, sfDir, queries) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    })
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in an oracle's SQL would otherwise make the reader's
    // json.load fail and silently zero the correctness check.
    def str(s: String): String = "\"" + s.flatMap {
      case c @ ('"' | '\\') => s"\\$c"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles = queries.flatMap(q => q.oracle.map(q.name -> _)).toMap
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracles.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ",", "}"))
    failed
  }
}
