package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Encoder, Encoders, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Artifacts, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.streaming.{BucketedIndex, Sessionize}
import graft.streaming.Sessionize.Event

/** The engine's local I/O starts no process: every session from
  * [[Engine.builder]] reads and writes `file://` through
  * [[NioRawLocalFileSystem]], and the stock Hadoop class's forks
  * (`chmod` per create and mkdir, `ls` per listed status, `readlink` per
  * FileContext rename) are gone from each engine path that used them.
  * A `jdk.jfr.Recording` counts the process starts inside this JVM; a
  * differential check pins the statuses to the stock class's. */
class LocalFsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** The commands of the processes this JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    // Hadoop's Shell probes for setsid and bash in its static
    // initializer, once per JVM: load it before recording
    assert(!org.apache.hadoop.util.Shell.WINDOWS)
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body
    finally rec.stop()
    val file = Files.createTempFile("graft-process-starts", ".jfr")
    try {
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(file) }
  }

  /** Process starts that are not the Hadoop filesystem's: Spark's
    * removal of a collected session's artifact directory (a cleaner
    * runs it whenever the GC finds the session's `ArtifactManager`
    * unreachable, so in any window; its recursive delete runs `rm -rf`
    * on Unix with no switch), and Spark's executor-metrics page-size
    * probe, which runs once per JVM in whichever window comes first. */
  private val sessionArtifacts = "rm -rf .*/artifacts-[0-9a-f-]{36}/[0-9a-f-]{36}".r
  private def notFileSystem(command: String): Boolean =
    command == "getconf PAGESIZE" || sessionArtifacts.matches(command)

  private def assertForkFree(what: String)(body: => Unit): Unit = {
    val started = processStarts(body).filterNot(notFileSystem)
    assert(started.isEmpty, s"$what started ${started.size} processes: ${started.take(5)}")
  }

  test("sessions from Engine.builder read and write file:// through the fork-free classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path("file:///").getFileSystem(conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    // FileSystem.getLocal's cast
    assert(org.apache.hadoop.fs.FileSystem.getLocal(conf).isInstanceOf[LocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    val afs = FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass.getName)
  }

  test("parquet overwrite, append and read-back start no process") {
    val dir = SparkTestSession.tempDir("graft-localfs-parquet").resolve("t").toString
    assertForkFree("the parquet round trip") {
      spark.range(100).write.mode("overwrite").parquet(dir)
      spark.range(100, 150).write.mode("append").parquet(dir)
      assert(spark.read.parquet(dir).count() == 150)
    }
  }

  test("an Artifacts.dir publish starts no process") {
    val in = SparkTestSession.tempDir("graft-localfs-in")
    spark.range(10).write.parquet(in.resolve("t.parquet").toString)
    var published = ""
    assertForkFree("the publish") {
      published = Artifacts.dir(spark, "localfs_spec", "1", in.toString, Seq("t.parquet")) { p =>
        spark.read.parquet(s"$in/t.parquet").write.parquet(p)
      }
    }
    SparkTestSession.deleteAtExit(Paths.get(published))
    assert(spark.read.parquet(published).count() == 10)
  }

  test("a BucketedIndex seed, probe, append and fold with its _MANIFEST start no process") {
    import spark.implicits._
    val root = SparkTestSession.tempDir("graft-localfs-index").toString
    val ix = new BucketedIndex(
      spark, root, "k", StructType.fromDDL("k STRING, v LONG"), 16L, 4)
    def rows(from: Int, until: Int) =
      (from until until).map(i => (s"key_$i", i.toLong)).toDF("k", "v").localCheckpoint()
    val seed = rows(0, 256)
    val batch = rows(256, 320)
    assertForkFree("the index cycle") {
      ix.append(seed)
      ix.compact() // the bucketed base and its _MANIFEST
      BucketedIndex.clearCachesForTesting() // cold start: read the manifest
      val probe = ix.probe(batch.select(col("k")))
      assert(probe.keyRows.contains(64L))
      ix.append(batch, probe.keyRows)
      ix.compact()
      assert(ix.probe(rows(0, 320).select(col("k"))).rows.get.count() == 320)
    }
  }

  test("two micro-batches of a parquet-sink stream start no process") {
    val root = SparkTestSession.tempDir("graft-localfs-stream")
    implicit val ctx: SQLContext = spark.sqlContext
    implicit val enc: Encoder[Long] = Encoders.scalaLong
    val input = MemoryStream[Long]
    assertForkFree("the stream's checkpoint and sink") {
      val q = input.toDF().writeStream.format("parquet")
        .option("path", root.resolve("out").toString)
        .option("checkpointLocation", root.resolve("ckp").toString)
        .start()
      try {
        input.addData(1L, 2L); q.processAllAvailable()
        input.addData(3L); q.processAllAvailable()
      } finally q.stop()
    }
    assert(spark.read.parquet(root.resolve("out").toString).count() == 3)
  }

  test("a flatMapGroupsWithState commit (q36 and q43's path) starts no process") {
    val root = SparkTestSession.tempDir("graft-localfs-sessions")
    implicit val ctx: SQLContext = spark.sqlContext
    implicit val enc: Encoder[Event] = Encoders.product[Event]
    val input = MemoryStream[Event]
    def at(ts: String, user: Long, id: Long) = Event(user, Timestamp.valueOf(ts), id)
    assertForkFree("the sessionizer's state commits") {
      val q = Sessionize.sessions(input.toDS().withWatermark("ts", "1 minute"))
        .writeStream.format("parquet")
        .option("path", root.resolve("out").toString)
        .option("checkpointLocation", root.resolve("ckp").toString)
        .start()
      try {
        input.addData(at("2024-01-01 00:00:00", 1L, 1L), at("2024-01-01 00:05:00", 1L, 2L))
        q.processAllAvailable()
        // far past the gap: the watermark moves on and the timeout closes user 1
        input.addData(at("2030-01-01 00:00:00", 2L, 3L))
        q.processAllAvailable()
        input.addData(at("2030-02-01 00:00:00", 2L, 4L))
        q.processAllAvailable()
      } finally q.stop()
    }
    val closed = spark.read.parquet(root.resolve("out").toString)
    assert(closed.filter(col("user_id") === 1L).count() == 1)
  }

  test("statuses match the stock RawLocalFileSystem") {
    val stock = new RawLocalFileSystem()
    stock.initialize(URI.create("file:///"), new Configuration())
    val nio = new NioRawLocalFileSystem()
    nio.initialize(URI.create("file:///"), new Configuration())
    val base = SparkTestSession.tempDir("graft-localfs-diff")
    val file = base.resolve("f.bin")
    Files.write(file, Array.fill[Byte](1234)(7))
    val dir = Files.createDirectories(base.resolve("d"))
    // unqualified: the stock getFileLinkStatus runs `readlink` on the
    // path's string form, which only a bare path names
    val p = (x: java.nio.file.Path) => new Path(x.toString)

    nio.setPermission(p(file), new FsPermission(Integer.parseInt("640", 8).toShort))
    stock.setPermission(p(dir), new FsPermission(Integer.parseInt("1750", 8).toShort))
    def same(a: FileStatus, b: FileStatus): Unit = {
      assert(a.getPath == b.getPath)
      assert(a.getLen == b.getLen && a.isDirectory == b.isDirectory)
      assert(a.getModificationTime == b.getModificationTime)
      assert(a.getPermission == b.getPermission, s"${a.getPath}")
      assert(a.getOwner == b.getOwner && a.getGroup == b.getGroup)
      assert(a.isSymlink == b.isSymlink)
      if (a.isSymlink) assert(a.getSymlink == b.getSymlink)
    }
    for (x <- Seq(file, dir)) {
      same(nio.getFileStatus(p(x)), stock.getFileStatus(p(x)))
      same(nio.getFileLinkStatus(p(x)), stock.getFileLinkStatus(p(x)))
    }
    assert(nio.getFileStatus(p(file)).getPermission.toString == "rw-r-----")
    assert(nio.getFileStatus(p(dir)).getPermission.getStickyBit)

    // a symlink and a dangling one
    val link = Files.createSymbolicLink(base.resolve("link"), file)
    val dangling = Files.createSymbolicLink(base.resolve("dangling"), base.resolve("gone"))
    for (x <- Seq(link, dangling))
      same(nio.getFileLinkStatus(p(x)), stock.getFileLinkStatus(p(x)))
    assert(nio.getFileLinkStatus(p(link)).isSymlink)
    same(nio.getFileStatus(p(link)), stock.getFileStatus(p(link)))

    // a missing path, and listings of a file and a directory
    val missing = p(base.resolve("missing"))
    for (fs <- Seq(nio, stock)) {
      intercept[FileNotFoundException](fs.getFileStatus(missing))
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fs.listStatus(missing))
    }
    val Array(one) = nio.listStatus(p(file))
    same(one, stock.listStatus(p(file)).head)
    val (ln, ls) = (nio.listStatus(p(base)).sortBy(_.getPath.getName),
      stock.listStatus(p(base)).sortBy(_.getPath.getName))
    assert(ln.map(_.getPath) sameElements ls.map(_.getPath))
    // the dangling link lists on neither side
    ln.zip(ls).foreach { case (a, b) => same(a, b) }
  }
}
