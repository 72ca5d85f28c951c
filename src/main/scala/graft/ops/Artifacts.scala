package graft.ops

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one store for compute-once artifacts: intermediates several
  * queries share and that a deployment would build once in an indexing
  * job — component labelings, graph edge tables, corpus counts, bucketed
  * signature/fact tables, vector indexes and text-format copies.
  *
  * **Key.** An artifact is identified by its name (with any build
  * parameter folded in, such as a bucket spec or an SRP width), a
  * version the caller bumps when its build code changes, and the content
  * stamp of its input tables: the qualified path plus the flat
  * `(file, length, mtime)` listing of each ([[stamp]], driver-side
  * metadata, no job). A restaged input therefore gets a new key and is
  * never served stale; the entry it supersedes is dropped from the store
  * when the new one is built.
  *
  * **Build once.** `computeIfAbsent` inserts a cell that has not run; the
  * thread that claims it runs the build outside the map's lock, and every
  * concurrent caller waits on the cell. A failed build is removed from
  * the map and its exception is rethrown to every waiter, so the next
  * call builds afresh. A build may ask the store for other keys (the
  * semantic labeling needs the corpus count); it must not ask for its
  * own.
  *
  * **Kinds.**
  *  - [[value]]: a small driver-side result (a count, a sampled
  *    average), shared across sessions.
  *  - [[frame]]: a `localCheckpoint`ed DataFrame, scoped to its session.
  *    Frames are LRU-bounded at [[FrameBound]]; a frame whose blocks are
  *    gone is rebuilt. The RDDs of live frames are exempt from the
  *    harness storage sweep ([[graft.Engine.sweepPersistentRDDs]]);
  *    an evicted or superseded frame is only dropped, not unpersisted
  *    (a query planned against it may still run), so the next sweep
  *    frees it.
  *  - [[dir]]: files under [[root]], written into a staging directory
  *    and published by an atomic rename onto a name derived from the key
  *    digest. A build that dies publishes nothing, JVMs share one copy,
  *    and a restaged input gets a new directory.
  *  - [[bucketed]]: a bucketed+sorted parquet table published as a
  *    [[dir]] and registered in each session's catalog over that
  *    location.
  */
object Artifacts {

  /** Most live frames the store holds before evicting the least
    * recently used. */
  val FrameBound = 24

  /** Where on-disk artifacts are published. */
  lazy val root: Path =
    Paths.get(System.getProperty("java.io.tmpdir"), "graft-artifacts")

  /** `session` is set for frames only: a checkpoint belongs to its
    * session's context. `slot` names the artifact and its inputs' paths;
    * `digest` adds the version and the inputs' content. */
  private final case class Key(
      session: Option[SparkSession], slot: String, digest: String)

  private final class Cell(val key: Key) {
    val result = new CompletableFuture[Any]()
    @volatile var used: Long = clock.incrementAndGet()
  }

  private val cells = new ConcurrentHashMap[Key, Cell]()
  private val clock = new AtomicLong()

  /** The content stamp of `tables` under `d`: each table's qualified
    * path and the sorted `name:length:mtime` listing of its files. */
  private def stamp(s: SparkSession, d: String, tables: Seq[String]): String =
    tables.map { t =>
      val p = new org.apache.hadoop.fs.Path(d, t)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val files = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
      fs.makeQualified(p).toString + "=" + files
        .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        .sorted.mkString(",")
    }.mkString(";")

  private def keyOf(
      s: SparkSession, session: Option[SparkSession], name: String,
      version: String, d: String, tables: Seq[String]): Key = {
    val slot = name + "@" + tables.map(t => s"$d/$t").mkString(",")
    val md = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$slot\u0000$version\u0000${stamp(s, d, tables)}".getBytes("UTF-8"))
    Key(session, slot, md.take(10).map("%02x".format(_)).mkString)
  }

  /** Serve `key`, building it once; `alive` re-validates a served value
    * (a frame whose blocks are gone, a directory removed underneath) and
    * a dead one is rebuilt. */
  private def serve[T](key: Key, alive: T => Boolean)(build: => T): T = {
    var served: Option[T] = None
    while (served.isEmpty) {
      var mine = false
      val cell = cells.computeIfAbsent(key, k => { mine = true; new Cell(k) })
      if (mine)
        try { cell.result.complete(build); prune(key) }
        catch {
          case e: Throwable =>
            cells.remove(key, cell)
            cell.result.completeExceptionally(e)
        }
      val v = try cell.result.get().asInstanceOf[T]
      catch { case e: ExecutionException => throw e.getCause }
      if (alive(v)) { cell.used = clock.incrementAndGet(); served = Some(v) }
      else cells.remove(key, cell)
    }
    served.get
  }

  /** After `fresh` is built: drop the entries it supersedes (same slot
    * and scope, other content), frames of stopped sessions, and the
    * least recently used frames past [[FrameBound]]. */
  private def prune(fresh: Key): Unit = synchronized {
    cells.values.removeIf { c =>
      c.key.session.exists(_.sparkContext.isStopped) ||
        (c.key.session == fresh.session && c.key.slot == fresh.slot && c.key != fresh)
    }
    val fs = frames
    fs.sortBy(_.used).take(fs.size - FrameBound).foreach(c => cells.remove(c.key, c))
  }

  private def frames: Seq[Cell] = cells.values.asScala.toSeq.filter(c =>
    c.key.session.isDefined && c.result.isDone && !c.result.isCompletedExceptionally)

  /** The checkpoint's RDD id: a localCheckpoint'd Dataset analyzes to a
    * LogicalRDD; anything else has no single block-backed id. */
  private def rddIdOf(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd.id)
      case _ => None
    }

  /** A small result computed once per content stamp, shared across
    * sessions. */
  def value[T](s: SparkSession, name: String, version: String, d: String,
      tables: Seq[String])(build: => T): T =
    serve[T](keyOf(s, None, name, version, d, tables), _ => true)(build)

  /** `build`, materialized once per (session, content stamp) by
    * `localCheckpoint` and exempt from the harness sweep while live. */
  def frame(s: SparkSession, name: String, version: String, d: String,
      tables: Seq[String])(build: => DataFrame): DataFrame =
    serve[DataFrame](keyOf(s, Some(s), name, version, d, tables),
      df => rddIdOf(df).forall(s.sparkContext.getPersistentRDDs.contains))(
      build.localCheckpoint())

  /** The published directory of an on-disk artifact; `write` receives a
    * fresh staging path to fill. */
  def dir(s: SparkSession, name: String, version: String, d: String,
      tables: Seq[String])(write: String => Unit): String = {
    val key = keyOf(s, None, name, version, d, tables)
    val dst = root.resolve(s"$name-${key.digest}")
    serve[Path](key, Files.isDirectory(_)) {
      if (!Files.isDirectory(dst)) publish(dst, write)
      dst
    }.toString
  }

  private def publish(dst: Path, write: String => Unit): Unit = {
    val prefix = s"${dst.getFileName}.staging-"
    val ls = Files.list(Files.createDirectories(root))
    // staging left by JVMs that died mid-build
    try ls.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix))
      .filterNot(p => ProcessHandle.of(p.getFileName.toString.stripPrefix(prefix).toLong).isPresent)
      .foreach(rmTree)
    finally ls.close()
    val staging = root.resolve(prefix + ProcessHandle.current().pid())
    rmTree(staging)
    try {
      write(staging.toString)
      try Files.move(staging, dst, StandardCopyOption.ATOMIC_MOVE)
      catch {
        // another JVM published the same key first; its copy is identical
        case _: FileSystemException if Files.isDirectory(dst) => ()
      }
    } finally rmTree(staging)
  }

  /** Delete `p` and everything under it, if present. */
  private[graft] def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }

  /** `build` as a parquet table bucketed and sorted by `key` into
    * `buckets` buckets, published once as a [[dir]] and registered in
    * `s`'s catalog over that location; returns the table name. Bucket
    * metadata lives in the catalog, so each session registers the
    * table itself. */
  def bucketed(s: SparkSession, name: String, version: String, d: String,
      tables: Seq[String], key: String, buckets: Int)(build: => DataFrame): String = {
    val path = dir(s, s"${name}_${key}_$buckets", version, d, tables) { p =>
      val staged = s"graft_staging_${clock.incrementAndGet()}"
      try build.write.format("parquet").bucketBy(buckets, key).sortBy(key)
        .option("path", p).saveAsTable(staged)
      finally s.sql(s"DROP TABLE IF EXISTS $staged")
    }
    val table = "graft_" + Paths.get(path).getFileName.toString.replace('-', '_')
    if (!s.catalog.tableExists(table))
      s.sql(s"CREATE TABLE IF NOT EXISTS $table (${s.read.parquet(path).schema.toDDL}) " +
        s"USING parquet CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS " +
        s"LOCATION '$path'")
    table
  }

  /** RDD ids of `spark`'s live frames — what the sweep must keep. Frames
    * of stopped sessions are dropped here: their ids would otherwise
    * name unrelated RDDs of a later context. */
  private[graft] def liveRdds(spark: SparkSession): Set[Int] = {
    cells.values.removeIf(_.key.session.exists(_.sparkContext.isStopped))
    frames.filter(_.key.session.exists(_.sparkContext eq spark.sparkContext))
      .flatMap(c => rddIdOf(c.result.join().asInstanceOf[DataFrame])).toSet
  }
}
