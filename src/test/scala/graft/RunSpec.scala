package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryDef

/** [[Run]] and the three mains over it ([[Bench]], [[Verify]],
  * [[Explain]]), on two real queries plus one whose build throws. */
class RunSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"
  private val real = Run.select(Seq("q01_scan_project", "q04_group_avg"))
  // every character the oracle map's JSON escape must handle
  private val oracle = "select 'a\tb\rc\"d\\e\nf\u0001'"
  private val broken = QueryDef("q00_build_throws",
    (_, _) => throw new IllegalStateException("build failed"), Some(oracle))
  private val queries = Run.select(Nil, real :+ broken)
  private val json = new ObjectMapper()

  private def keys(n: JsonNode): Seq[String] = n.fieldNames.asScala.toSeq

  test("select sorts by name, restricts to the names and rejects unknown ones") {
    assert(queries.map(_.name) == Seq("q00_build_throws", "q01_scan_project", "q04_group_avg"))
    assert(Run.select(Seq("q04_group_avg", "q01_scan_project")) == real)
    assert(Run.select(Nil).size == SparkEntry.inventory.size)
    val e = intercept[IllegalArgumentException](
      Run.select(Seq("q01_scan_project", "q01_typo", "q99")))
    assert(e.getMessage.contains("unknown queries: q01_typo, q99"))
  }

  test("every job of a query carries its name as job group; the group is cleared after") {
    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    val ungrouped = tracker.getJobIdsForGroup(null).toSet
    val results = Run.loop(spark, sf, queries, runs = 2)((_, df) => df.collect()).toList
    assert(results.map(_._2.size) == Seq(2, 2, 2))
    assert(Run.failures(results.iterator) == List("q00_build_throws"))
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
    // the status store is fed by the async listener bus, which delivers
    // in order: once a later marker job shows, every loop job has
    sc.setJobGroup("run-spec-marker", "marker")
    spark.range(1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30e9.toLong
    while (tracker.getJobIdsForGroup("run-spec-marker").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(20)
    real.foreach(q => assert(tracker.getJobIdsForGroup(q.name).nonEmpty, q.name))
    assert((tracker.getJobIdsForGroup(null).toSet -- ungrouped).isEmpty)
  }

  test("Bench prints one JSON line with the contract's keys and -1 for a failure") {
    val line = json.readTree(Bench.line(spark, sf, queries, loadStart = 0.0))
    assert(keys(line) == Seq("metric", "value", "unit", "queries", "queries_cold",
      "queries_resumed", "host", "sf"))
    assert(keys(line.get("host")) == Seq("cpus", "avail_procs", "shuffle_width",
      "record_grade", "load_start", "load_end"))
    assert(line.get("host").get("cpus").asText ==
      spark.sparkContext.defaultParallelism.toString)
    for (k <- Seq("queries", "queries_cold", "queries_resumed")) {
      val m = line.get(k)
      assert(keys(m) == queries.map(_.name), k)
      assert(m.get("q00_build_throws").asDouble == -1.0, k)
      real.foreach(q => assert(m.get(q.name).asDouble >= 0, s"$k ${q.name}"))
    }
    val total = real.map(q => line.get("queries").get(q.name).asDouble).sum
    assert(math.abs(line.get("value").asDouble - total) < 1e-9)
  }

  test("Verify dumps one parquet dir per successful query and the selection's escaped oracles") {
    val out = SparkTestSession.tempDir("run-spec-verify")
    assert(Verify.dump(spark, sf, out.toString, queries) == Seq("q00_build_throws"))
    val dirs = Files.list(out).iterator.asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet
    assert(dirs == real.map(_.name).toSet)
    real.foreach { q =>
      assert(spark.read.parquet(out.resolve(q.name).toString).count() ==
        q.build(spark, sf).count(), q.name)
    }
    val oracles = json.readTree(Files.readString(out.resolve("oracle_sql.json")))
    assert(keys(oracles).toSet == queries.map(_.name).toSet)
    assert(oracles.get("q00_build_throws").asText == oracle)
    real.foreach(q => assert(oracles.get(q.name).asText == q.oracle.get))
  }

  test("Explain prints one header per query, formatted or executed") {
    for (exec <- Seq(false, true)) {
      val buf = new java.io.ByteArrayOutputStream()
      val failed = Console.withOut(buf)(Explain.plans(spark, sf, queries, exec))
      assert(failed == Seq("q00_build_throws"))
      val headers = buf.toString.linesIterator.filter(_.startsWith("##########")).toList
      assert(headers == real.map(q => s"########## ${q.name} ##########"), s"exec=$exec")
    }
  }
}
