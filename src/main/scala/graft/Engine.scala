package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the engine.
  *
  * Every session the engine creates goes through here so that batch jobs,
  * the verify/bench mains, and the test suites agree on the semantics that
  * matter for oracle parity and scale:
  *
  *  - `spark.sql.session.timeZone=UTC` — the reference stamps aggregates in
  *    UTC (`/root/reference/src/utils.rs:82`); the DuckDB oracle also runs
  *    in UTC.
  *  - `spark.sql.legacy.parquet.nanosAsLong=true` — the driver's
  *    `events.parquet` carries `timestamp[ns]`, which Spark's Parquet reader
  *    otherwise rejects (PARQUET_TYPE_ILLEGAL). We read nanos as a long and
  *    convert with integer division (see [[Tables.events]]), matching
  *    DuckDB's own ns→µs truncation.
  *  - AQE on — at the 100 TB design point, runtime coalescing, skew-join
  *    splitting and dynamic join-strategy switching are the difference
  *    between a plan that survives and one that doesn't. Locally it also
  *    keeps the tiny SFs from producing thousands of empty tasks.
  *  - shuffle partitions start at the caller's width, not 200, and
  *    [[tuneForEstate]] resizes them to the estate.
  */
object Engine {
  /** The inter-query storage sweep of [[Run.loop]]: blocking-
    * unpersist every persistent RDD except the live frames of
    * [[graft.ops.Artifacts]] in `spark`'s context. The sweep keeps one
    * query's dead checkpoint blocks out of the next query's memory
    * headroom; the exemption keeps shared artifacts (component labels,
    * the graph edge table) from being rebuilt by every consumer. An
    * evicted or superseded artifact is no longer exempt, so the next
    * sweep frees it. */
  def sweepPersistentRDDs(spark: SparkSession): Unit = {
    val keep = graft.ops.Artifacts.liveRdds(spark)
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(true)
    }
  }

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft-engine")
      // the initial width; [[tuneForEstate]] resizes it to the estate,
      // and a caller can still override it with its own `.config`
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // JOIN-STRATEGY POLICY:
      // let the planner pick shuffled-hash over sort-merge when its size
      // conditions hold — every SMJ pays an O(n log n) sort per side
      // that SHJ skips, and the estate-sized shuffle width (widthFor:
      // ≤96 MiB of input per partition) bounds the per-partition build
      // map SHJ must hold. Static selection still requires the build
      // side to fit canBuildLocalHashMap (< autoBroadcastJoinThreshold
      // × shuffle width); the AQE threshold below additionally rewrites
      // SMJ→SHJ at runtime when every post-shuffle build partition is
      // under it — sized to the AQE advisory partition target (64 MB):
      // a ≤64 MB on-wire partition builds a hash map of a few hundred
      // MB, within one task's execution-memory share on any executor
      // profile this engine targets (local[32]/8g at sf0.1 up to
      // 96g at sf100; a cluster sizes SPARK_GRAFT_SHJ_THRESHOLD to its
      // own per-task memory budget). A threshold of 0 turns off only
      // this AQE SMJ→SHJ rewrite: static shuffled-hash selection stays
      // on through preferSortMergeJoin=false.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "64m"))
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.parquet.filterPushdown", "true")
      // LOCAL I/O: without native libhadoop the stock local filesystem
      // forks `chmod` per file create and mkdir, `ls -ld` per listed
      // file's permission and `readlink` per FileContext rename (about
      // 45 processes per index_stream micro-batch). These two entries
      // swap in graft.ops.NioRawLocalFileSystem, which makes those stat
      // and permission calls through java.nio; create, rename and delete
      // stay Hadoop's. The FileSystem wrapper stays a LocalFileSystem
      // (a ChecksumFileSystem): .crc sidecars keep being written, and
      // Hadoop's FileSystem.getLocal, which casts the file:// filesystem
      // to o.a.h.fs.LocalFileSystem, keeps working for every caller. The
      // FileContext entry covers the streaming checkpoint manager.
      .config("spark.hadoop.fs.file.impl", classOf[graft.ops.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.ops.NioLocalFs].getName)
      .config("spark.ui.enabled", "false")

  /** Estate-per-shuffle-partition target for [[tuneForEstate]].
    * 96 MiB of COMPRESSED estate parquet per partition keeps the
    * worst measured expansion (d02's carry shape: 905 MB of documents
    * parquet → ~52 GB of band-exploded shingle payload, a ~57×
    * blow-up) near ~200 MB of in-flight sort data per partition —
    * single-pass external sort territory. Chosen from the
    * d02 sf100 A/B: width 32 → 501.7 s, width 256 → 240.7 s (same
    * answer, same spill total, half the wall — the multi-pass
    * sort-merge + GC term, not data volume). */
  private val EstateBytesPerPartition: Long = 96L << 20

  /** SF-AWARE SHUFFLE WIDTH: the knob a cluster sizes by data volume,
    * which a fixed core count would hold constant across decade steps.
    * The core-count default is right through the
    * second decade (sf10 = 2.3 GiB estate → the 96 MiB/partition rule
    * lands back on 32); at sf100 a 32-way shuffle carries ×1000 the
    * sf0.1 rows per partition and d02's external sort went multi-pass
    * (α 1.44/decade). Width = max(cores, estate/96 MiB), AQE coalesces
    * unused width away (advisoryPartitionSizeInBytes folds the
    * post-shuffle reads back toward 64 MB), so the only cost of the
    * larger initial number is scheduler overhead AQE already absorbs.
    *
    * On a real cluster the deployment sets this conf
    * from its own estate stats — this helper is the local-mode
    * spelling of that sizing rule, reading the estate directory's
    * parquet bytes (a driver-side listing, no job). Returns the width
    * it set. Called by [[Run.session]] once the estate dir is
    * known; `spark.sql.shuffle.partitions` is runtime-settable, so
    * every plan built afterwards picks it up. */
  def tuneForEstate(spark: SparkSession, dir: String): Int = {
    // Floor at the SESSION's actual parallelism, so a caller's
    // `Engine.builder` width is the floor it gets.
    val width = widthFor(estateBytes(dir), spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", width.toString)
    width
  }

  /** The sizing rule [[tuneForEstate]] applies: ceil(bytes / 96 MiB),
    * floored at `cores` (the session's parallelism — healthy through
    * sf10), capped at 4096 (scheduler-overhead guard for a one-box
    * session — a real cluster raises it with its executor count). */
  private[graft] def widthFor(bytes: Long, cores: Int): Int = {
    val byData = ((bytes + EstateBytesPerPartition - 1) /
      EstateBytesPerPartition).toInt
    math.max(cores, math.min(byData, 4096))
  }

  /** Total bytes of `dir`'s PARQUET estate (recursive size sum over
    * `*.parquet` files — local driver-side listing; 0 if the dir is
    * absent). Non-parquet co-residents (logs, JSON dumps, .crc
    * sidecars) are excluded so they can't inflate the width. */
  private def estateBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return 0L
    val s = java.nio.file.Files.walk(root)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }
}
