package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The session comes from [[Engine.builder]] so the verify run carries the
  * same semantics as everything else — UTC, AQE, and
  * `spark.sql.legacy.parquet.nanosAsLong=true` (events.parquet is
  * `timestamp[ns]`; a bare session throws PARQUET_TYPE_ILLEGAL on all six
  * events-based queries). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = args.splitAt(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SF-aware shuffle width (Engine.tuneForEstate doc): inert at the
    // driver's sf0.01 (estate < cores×96 MiB keeps the core-count
    // default), load-bearing for local decade-step verification runs.
    Engine.tuneForEstate(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // Extra args (local iteration only; the driver passes exactly two)
    // restrict the dump to the named queries.
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only.contains).toMap
    var failed = List.empty[String]
    selected.foreach { case (name, fn) =>
      // coalesce(1) is for the tiny oracle dumps only (one file per query
      // for the driver's reader) — never a pattern for real sinks.
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Bench's inter-query hygiene (see there): deterministic release
      // of dead localCheckpoint storage so late heavy queries don't
      // spill against 200 earlier queries' leftover blocks. Live
      // shared-artifact checkpoints survive (graft.ops.Artifacts).
      Engine.sweepPersistentRDDs(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Local single-query runs get an oracle restricted to the selection,
    // so compare.py can flag a query that died BEFORE writing its dir
    // (a plan-time failure used to vanish: no dir, no FAIL). The driver
    // always passes two args and keeps the full map.
    val oracleOut =
      if (only.isEmpty) SparkEntry.oracleSql
      else SparkEntry.oracleSql.view.filterKeys(only.contains).toMap
    val json = oracleOut
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
