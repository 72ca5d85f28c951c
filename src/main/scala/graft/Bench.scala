package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, md5, split, transform}

import graft.queries.QueryDef

/** Benchmark main: run every declared query (or the named ones) on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  * Session, selection and loop: [[Run]].
  *
  * The action is a `noop`-format write — it executes the FULL physical
  * plan and materializes every output row (unlike `.count()`, under which
  * Catalyst prunes all projected columns and the bench measures row
  * counting, not the query). Failures are reported on stderr and as -1
  * timings, never swallowed. */
object Bench {
  /** 1-minute load average via the OS MXBean (-1 where unsupported). */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Host-state stamp, captured BEFORE the run starts: host contention
    // inflates every timing of a dump, and only the load average at both
    // edges makes such a dump self-identifying (load >> cpus at either
    // edge ⇒ treat the timings as upper bounds). A contended start also
    // gets a loud warning up front and `"record_grade":false` below.
    val loadStart = loadAvg()
    if (loadStart >= 1.0) System.err.println(f"[bench] WARNING: load_start=$loadStart%.2f " +
      ">= 1 — this run is NOT record grade; timings are upper bounds (host contention)")
    Run.main(sfDir, args.toSeq) { (spark, queries) =>
      val json = line(spark, sfDir, queries, loadStart)
      println(json)
      // Full-run dumps only, so a selective profiling run never clobbers
      // the record.
      if (args.isEmpty) record(json)
      Nil // a failed query is a -1 timing, not a failed bench
    }
  }

  /** Runs `queries` and returns the JSON line. */
  private[graft] def line(spark: SparkSession, sfDir: String,
      queries: Seq[QueryDef], loadStart: Double): String = {
    // Untimed warmup: JIT/codegen the shared machinery (parquet scan,
    // shuffle, noop write, higher-order array eval) so the first measured
    // query isn't charged for JVM warmup — at sf0.1 the first query
    // otherwise absorbs ~5 s of compile time.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet")
      .select(md5(col("n_name").cast("binary")).as("h"),
        transform(split(col("n_name"), ""), x => md5(x.cast("binary"))).as("hs"))
      .groupBy("h").count()
      .write.format("noop").mode("overwrite").save()
    // Two timed runs per query, report the min: the first execution of a
    // complex plan pays JIT/codegen compilation that varies by tens of
    // seconds run-to-run (measured 8–33 s for the same 9-stage LSH query,
    // ~4 s warm); min-of-2 reports the steady state a long-running
    // cluster job actually sees. Both runs are always attempted: a
    // transient failure can hit either, and one success is a valid
    // measurement.
    val results = Run.loop(spark, sfDir, queries, runs = 2) { (_, df) =>
      df.write.format("noop").mode("overwrite").save()
    }.map { case (q, runs) =>
      val ts = runs.map(_.getOrElse(-1.0))
      // Both raw timings to stderr: the cold/warm gap is the codegen +
      // artifact-staging cost, worth watching per query when profiling.
      System.err.println(f"[bench] ${q.name} run1=${ts(0)}%.2f run2=${ts(1)}%.2f")
      // Untimed: after Run's storage sweep, collect the query's garbage
      // so the next query starts on a clean heap, the isolation a per-job
      // cluster gets for free from JVM teardown.
      System.gc()
      q.name -> ts
    }.toList
    // the faster successful run, or -1 when both failed
    def best(ts: Seq[Double]): Double = ts.filter(_ >= 0).minOption.getOrElse(-1.0)
    def jmap(f: Seq[Double] => Double): String =
      results.map { case (name, ts) => s""""$name":${f(ts)}""" }.mkString("{", ",", "}")
    val total = results.map(r => best(r._2)).filter(_ >= 0).sum
    // `queries` stays min-of-2 (the line's contract); the per-run
    // maps persist what the min discards — run1 is the COLD execution
    // (codegen + streaming-replay + artifact-staging cost, the number a
    // first-time cluster job pays), run2 the resumed/warm one.
    val loadEnd = loadAvg()
    // record_grade: quiet START (< 1 — the edge the runner controls)
    // and an end edge bounded by the bench's own tail: a full sweep's
    // final 1-min average reads ~2 purely from its own 32-thread work,
    // and a quiet record's own end edge measured 3.9, so an end gate of
    // < 1 is unsatisfiable by construction. 4.0 sits above the measured
    // self-load decay and below observed genuine contention (a contended
    // run ended at 7.5). Stamped INTO the dump so a contended run
    // is self-identifying even when renamed or read in isolation.
    val recordGrade = loadStart < 1.0 && loadEnd <= 4.0
    val host =
      s"""{"cpus":"${spark.sparkContext.defaultParallelism}",""" +
        s""""avail_procs":${Runtime.getRuntime.availableProcessors},""" +
        s""""shuffle_width":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
        s""""record_grade":$recordGrade,"load_start":$loadStart,"load_end":$loadEnd}"""
    s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(best)},""" +
      s""""queries_cold":${jmap(_(0))},"queries_resumed":${jmap(_(1))},""" +
      s""""host":$host,"sf":"$sfDir"}"""
  }

  /** Persists a full run's line under `bench/` of the working directory
    * (the checkout sbt runs in): a stdout capture cut at 2000 chars loses
    * the per-query data of most of the surface. Every dump goes to a
    * LOAD-STAMPED name; `latest_full.json` (read as "latest =
    * best-known") is only replaced by a record-grade run whose total
    * beats the standing one — the host drifts 1.4–1.8× across a working
    * day, and a record-grade run on a slow day must not clobber a faster
    * record. */
  private def record(json: String): Unit = {
    def fields(s: String): Map[String, String] =
      """"(value|load_start|load_end|record_grade)":([^,}]+)""".r
        .findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap
    val run = fields(json)
    val latest = Paths.get("bench", "latest_full.json")
    val beatsStanding = !Files.exists(latest) || fields(Files.readString(latest))
      .get("value").forall(_.toDouble > run("value").toDouble)
    val stamped = Paths.get("bench", "run_%d_ls%.1f_le%.1f.json".format(
      System.currentTimeMillis() / 1000, run("load_start").toDouble, run("load_end").toDouble))
    Files.createDirectories(stamped.getParent)
    (stamped +: (if (run("record_grade") == "true" && beatsStanding) Seq(latest) else Nil))
      .foreach(Files.writeString(_, json + "\n"))
  }
}
