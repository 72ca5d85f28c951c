package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Artifacts

/** The artifact store ([[graft.ops.Artifacts]]): live frames survive the
  * Bench/Verify storage sweep ([[Engine.sweepPersistentRDDs]]) while
  * ordinary checkpoints and retired artifacts are freed; a restaged input
  * rebuilds; concurrent callers build once; a failed build publishes
  * nothing and reaches every waiter; nested builds complete; a stream
  * replay source stages once; and a stopped session's entries exempt
  * nothing in a later session. */
class PinnedArtifactSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  import SparkTestSession.spark

  // the on-disk artifacts these tests publish are keyed by temp inputs
  // no later run can match; they go when the test JVM exits
  private var before: Set[String] = Set.empty
  override def beforeAll(): Unit = before = published("").toSet
  override def afterAll(): Unit =
    published("").filterNot(before).foreach(n =>
      SparkTestSession.deleteAtExit(Artifacts.root.resolve(n)))

  private val sf = "/root/testdata/sf0.001"

  private def rddIdOf(df: DataFrame): Int =
    df.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  /** A temp dir holding table `t.parquet` with `n` rows. */
  private def stagedTable(
      n: Int, dir: String = SparkTestSession.tempDir("graft-store").toString): String = {
    spark.range(n).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    dir
  }

  private def published(name: String): Seq[String] = {
    if (!Files.isDirectory(Artifacts.root)) return Nil
    val ls = Files.list(Artifacts.root)
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(name)).toSeq
    finally ls.close()
  }

  test("sweep releases unpinned checkpoints and keeps pinned ones") {
    import spark.implicits._
    val plain = Seq(1, 2, 3).toDF("x").localCheckpoint()
    val art = Artifacts.frame(spark, "spec_sweep", "1", sf, Seq("documents.parquet"))(
      Seq(4, 5, 6).toDF("y"))
    val plainId = rddIdOf(plain)
    val artId = rddIdOf(art)
    assert(persisted(plainId))
    assert(Artifacts.liveRdds(spark).contains(artId), "artifact must be exempt")
    assert(!Artifacts.liveRdds(spark).contains(plainId))

    Engine.sweepPersistentRDDs(spark)

    assert(!persisted(plainId), "unpinned checkpoint must be swept")
    assert(persisted(artId), "live artifact must survive the sweep")

    // hit after the sweep: the SAME materialized frame is served
    // (reference equality — no rebuild), and it still answers.
    val again = Artifacts.frame(spark, "spec_sweep", "1", sf, Seq("documents.parquet"))(
      fail("artifact must not rebuild after a sweep it is exempt from"))
    assert(again eq art)
    assert(again.count() == 3)
  }

  test("eviction unpins, making the retired artifact sweepable") {
    import spark.implicits._
    val frames = (0 to Artifacts.FrameBound).map { i =>
      Artifacts.frame(spark, s"spec_evict_$i", "1", sf, Seq("documents.parquet"))(
        Seq(i).toDF("x"))
    }
    val first = rddIdOf(frames.head)
    val last = rddIdOf(frames.last)
    assert(!Artifacts.liveRdds(spark).contains(first),
      "the least recently used frame past the bound must be evicted")
    assert(Artifacts.liveRdds(spark).contains(last))
    Engine.sweepPersistentRDDs(spark)
    assert(!persisted(first), "retired artifact must be releasable by the sweep")
    assert(persisted(last))
  }

  test("d06/d14/p14 component labels survive the sweep and stay correct") {
    val d06a = SparkEntry.queries("d06_dup_components")(spark, sf).collect()
    val labels = graft.queries.DedupQueries.componentLabels(spark, sf)
    Engine.sweepPersistentRDDs(spark)
    // served from the live artifact (no rebuild), identical answer
    assert(graft.queries.DedupQueries.componentLabels(spark, sf) eq labels)
    val d06b = SparkEntry.queries("d06_dup_components")(spark, sf).collect()
    assert(d06a.toSeq == d06b.toSeq)
    val d14 = SparkEntry.queries("d14_cluster_retention")(spark, sf)
    assert(d14.count() >= 0) // reads the same artifact post-sweep
  }

  test("a restaged input rebuilds an in-memory frame; the stale one is freed") {
    val dir = stagedTable(3)
    val builds = new AtomicInteger()
    def get(): DataFrame = Artifacts.frame(spark, "spec_restage", "1", dir, Seq("t.parquet")) {
      builds.incrementAndGet()
      spark.read.parquet(s"$dir/t.parquet")
    }
    val a = get()
    assert(a.count() == 3 && get().eq(a) && builds.get == 1)
    stagedTable(5, dir)
    val b = get()
    assert(builds.get == 2, "a restaged input must rebuild")
    assert(b.count() == 5, "the rebuilt frame must hold the new content")
    assert(!Artifacts.liveRdds(spark).contains(rddIdOf(a)))
    Engine.sweepPersistentRDDs(spark)
    assert(!persisted(rddIdOf(a)), "the superseded frame must be sweepable")
  }

  test("a restaged input rebuilds an on-disk artifact (x01's CSV copy)") {
    val dir = SparkTestSession.tempDir("graft-store-x01").toString
    def stage(keep: org.apache.spark.sql.Column): Unit =
      Tables.customer(spark, sf).filter(keep)
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    def bySegment(df: DataFrame, seg: String, n: String): Map[String, Long] =
      df.collect().map(r => r.getAs[String](seg) -> r.getAs[Long](n)).toMap
    def check(): Unit = {
      val expected = bySegment(
        Tables.customer(spark, dir).groupBy("c_mktsegment").count(), "c_mktsegment", "count")
      val got = bySegment(
        SparkEntry.queries("x01_csv_source")(spark, dir), "segment", "n_customers")
      assert(got == expected, "x01 must read the current customer table")
    }
    stage(lit(true))
    check()
    stage(col("c_custkey") % 3 === 0)
    check()
  }

  test("a replay source stages once, under a JVM-independent name, with its pinned mtimes") {
    val dir = stagedTable(5)
    val prefix = s"spec_replay_${System.nanoTime()}"
    val builds = new AtomicInteger()
    def lookup(): String =
      graft.queries.Core.Replay.source(spark, prefix, dir, Seq("t.parquet")) { (s, st) =>
        builds.incrementAndGet()
        st.stage(s.read.parquet(s"$dir/t.parquet"), "batch0", 1000000000000L)
        st.stage(s.range(1).toDF("x"), "batch1", 1000000060000L)
      }
    val first = lookup()
    assert(lookup() == first && builds.get == 1)
    // published in the shared store under a name with no pid in it, so
    // every later JVM resolves the same files
    val src = Paths.get(first)
    assert(src.getParent == Artifacts.root && src.getFileName.toString.startsWith(s"replay_$prefix-"))
    // the publishing rename keeps the file-source processing order
    assert(Files.getLastModifiedTime(src.resolve("batch0.parquet")).toMillis == 1000000000000L)
    assert(Files.getLastModifiedTime(src.resolve("batch1.parquet")).toMillis == 1000000060000L)
    assert(spark.read.parquet(first).count() == 6)
  }

  test("two threads asking for one key run the build once") {
    val dir = stagedTable(2)
    val frameBuilds, dirBuilds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val threads = (0 until 2).map { _ =>
      new Thread(() => {
        go.await()
        results.add(Artifacts.frame(spark, "spec_once", "1", dir, Seq("t.parquet")) {
          frameBuilds.incrementAndGet(); Thread.sleep(300)
          spark.read.parquet(s"$dir/t.parquet")
        })
        results.add(Artifacts.dir(spark, "spec_once", "1", dir, Seq("t.parquet")) { p =>
          dirBuilds.incrementAndGet(); Thread.sleep(300)
          spark.read.parquet(s"$dir/t.parquet").write.parquet(p)
        })
        ()
      })
    }
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join(60000))
    assert(frameBuilds.get == 1 && dirBuilds.get == 1)
    val rs = results.asScala.toSeq
    assert(rs.size == 4)
    assert(rs.collect { case df: DataFrame => df }.distinct.size == 1)
    assert(rs.collect { case p: String => p }.distinct.size == 1)
  }

  test("a build that fails midway publishes nothing, fails every waiter, and reruns") {
    val dir = stagedTable(4)
    val name = s"spec_partial_${System.nanoTime()}"
    val attempts = new AtomicInteger()
    val started, release = new CountDownLatch(1)
    val boom = new RuntimeException("build died after a partial write")
    def ensure(): String = Artifacts.dir(spark, name, "1", dir, Seq("t.parquet")) { p =>
      val first = attempts.incrementAndGet() == 1
      Files.createDirectories(Paths.get(p))
      Files.writeString(Paths.get(p, "part-0"), "half")
      if (first) {
        started.countDown()
        release.await(60, TimeUnit.SECONDS)
        throw boom
      }
      Files.writeString(Paths.get(p, "part-1"), "rest")
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def caller(): Thread = new Thread(() =>
      try { ensure(); () } catch { case e: Throwable => seen.add(e); () })
    val owner = caller()
    owner.start()
    assert(started.await(60, TimeUnit.SECONDS))
    val waiters = Seq(caller(), caller())
    waiters.foreach(_.start())
    // release the build only once both waiters block on it
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (waiters.exists(_.getState != Thread.State.WAITING) && System.nanoTime() < deadline)
      Thread.sleep(10)
    release.countDown()
    (owner +: waiters).foreach(_.join(60000))
    assert(seen.size == 3 && seen.asScala.forall(_ eq boom),
      "the build's own exception must reach the builder and every waiter")
    assert(attempts.get == 1, "waiters must not start a second build")
    assert(published(name).isEmpty, s"nothing may be published: ${published(name)}")

    val path = ensure()
    assert(attempts.get == 2, "the next call must rebuild")
    assert(Files.readString(Paths.get(path, "part-1")) == "rest")
    assert(published(name) == Seq(Paths.get(path).getFileName.toString))
  }

  test("a nested build (ensureSrp on a fresh key) completes") {
    val dir = SparkTestSession.tempDir("graft-store-srp").toString
    Tables.embeddings(spark, sf).write.parquet(s"$dir/embeddings.parquet")
    val inner = stagedTable(1)
    val v = Artifacts.value(spark, "spec_outer", "1", inner, Seq("t.parquet")) {
      Artifacts.value(spark, "spec_inner", "1", inner, Seq("t.parquet"))(41) + 1
    }
    assert(v == 42)
    val srp = graft.sources.VectorIndex.ensureSrp(spark, dir)
    assert(srp.startsWith(Artifacts.root.toString))
    assert(spark.read.parquet(srp).count() == Tables.embeddings(spark, dir).count())
  }

  test("a stopped session's entries are not exempt from a later session's sweep") {
    // one JVM holds one SparkContext at a time, and every other suite
    // shares this one, so the stop/restart runs in a child JVM
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val opts = jvm.getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
      opts ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.StoppedSessionSweep", sf)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor(120, TimeUnit.SECONDS) && proc.exitValue() == 0, out.takeRight(4000))
    assert(out.contains("stopped-session sweep: ok"), out.takeRight(4000))
  }
}

/** The child-JVM half of the stopped-session case: an artifact of a
  * stopped session must exempt nothing in the next session, whose RDD ids
  * restart from 0 and so reuse the stopped artifact's id. */
object StoppedSessionSweep {
  private def session(): SparkSession = {
    val s = Engine.builder("local[1]", 1)
      .config("spark.sql.warehouse.dir",
        SparkTestSession.tempDir("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = session()
    (0 until 20).foreach(_ => a.sparkContext.parallelize(Seq(1)))
    val art = Artifacts.frame(a, "spec_stopped", "1", args(0), Seq("documents.parquet"))(
      a.range(3).toDF("x"))
    val id = art.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    require(Artifacts.liveRdds(a).contains(id))
    a.stop()

    val b = session()
    require(b.sparkContext ne a.sparkContext)
    var r = b.sparkContext.parallelize(Seq(1))
    while (r.id < id) r = b.sparkContext.parallelize(Seq(1))
    require(r.id == id, s"no RDD of the new context reuses id $id")
    r.persist()
    r.count()
    Engine.sweepPersistentRDDs(b)
    require(!b.sparkContext.getPersistentRDDs.contains(id),
      "an RDD reusing a stopped session's artifact id must be swept")
    require(Artifacts.liveRdds(a).isEmpty, "the stopped session's entries must be dropped")
    b.stop()
    println("stopped-session sweep: ok")
  }
}
