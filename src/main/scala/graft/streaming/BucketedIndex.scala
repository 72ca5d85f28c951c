package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{
  FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Hash-bucketed, generation-versioned parquet state for streaming
  * operators whose accumulated index is too large (or too
  * replay-hostile) for the state store — q54's band/exact indexes are
  * the motivating users. This is the at-rest half of the
  * `foreachBatch`-owns-its-state pattern, laid out so a micro-batch's
  * probe reads only the buckets its own keys hash into instead of the
  * whole accumulated history (the round-11 layout scanned the full
  * index every batch — per-batch cost grew with stream age, cumulative
  * cost quadratic in stream length).
  *
  * Layout — the two-level LSM shape:
  *
  *  - BASE `root/gen_<n>_p<P>_b/bp=<b>/part-*.parquet`: the product of
  *    the last [[compact]] fold, hash-partitioned on
  *    `bp = pmod(xxhash64(key), P)` with ONE file per bucket. The
  *    width P is part of the generation's NAME because bp values are
  *    only meaningful relative to the P they were computed with; a
  *    probe re-derives the touched-bucket set with the base's own P.
  *  - DELTA `root/gen_<n>_p0_a/part-*.parquet`: the rows appended
  *    since — a FEW PLAIN sequential files, deliberately NOT
  *    bucket-partitioned. (The first cut partitioned appends too:
  *    every micro-batch then fans out into one tiny file PER TOUCHED
  *    BUCKET — ~|batch keys| file commits per batch, measured 10×
  *    slower than the full-scan layout it replaced. The L0-style plain
  *    delta is one file per append; only the fold pays the bucket
  *    fan-out, once per fold.)
  *
  *  A probe reads the base PRUNED to the touched buckets plus the
  *  delta in full — and the delta is SMALL by the fold trigger below,
  *  so probe cost ≈ |batch keys| × occupancy + |delta|, independent of
  *  stream age (measured against a full-scan layout whose probe grows
  *  linearly with history).
  *
  * Compaction cadence is SIZE-RATIO (LSM-style), not every-N-batches:
  * [[maybeCompact]] folds when the delta reaches 1/[[BucketedIndex
  * .FoldFraction]] of the base's bytes, re-bucketing at
  * `P' = min(MaxBuckets, max(minBuckets, rows / targetRowsPerBucket))`
  * — bucket OCCUPANCY (not bucket count) stays ~constant as the
  * stream ages until the MaxBuckets file-count ceiling (see its doc),
  * the delta stays a bounded fraction of the base, and amortized
  * write amplification is ~FoldFraction× per row per size doubling
  * (a fixed every-N cadence would rewrite the whole index every N
  * batches — amortized cost growing linearly with stream age). This
  * is [[graft.sources.VectorIndex]]'s adaptive-width discipline
  * applied to mutable streaming state.
  *
  * Crash contract (shared with q54's result sink): every mutation is
  * append-or-create followed by delete-of-superseded; a crash between
  * the two leaves DUPLICATE rows, never missing rows, and the
  * consumers are duplicate-immune by algebra (min-aggregates /
  * `distinct`), while [[compact]]'s `distinct` physically collapses
  * any survivors. Generations are only visible once their `_SUCCESS`
  * marker lands (a half-written compaction target is invisible and
  * reaped at the next compact). All filesystem access goes through the
  * session-configured Hadoop [[FileSystem]] — the round-11 layout's
  * `java.io.File` checks assumed a local filesystem
  * ([[graft.sources.AvroSource]] established the pattern).
  */
private[graft] final class BucketedIndex(
    s: SparkSession,
    root: String,
    key: String,
    rowSchema: StructType,
    targetRowsPerBucket: Long = 4096L,
    minBuckets: Int = 16) {

  /** Bucket-count CEILING for [[compact]]'s adaptive re-widening.
    * `ceil(rows / target)` is unbounded in corpus size, and every
    * bucket is a physical partition DIRECTORY with one file — at
    * sf10, q54b's deliberately-small test target (64) re-widened to
    * P = 31,250 and each per-batch fold wrote 31k directories of
    * ~4 KB files (round 17: two micro-batches in 45 minutes, all of
    * it filesystem metadata). A real table format bounds files per
    * snapshot the same way. Above the cap, OCCUPANCY grows with the
    * corpus instead of bucket count — probe reads degrade gracefully
    * (rows/4096 per touched bucket) while the metadata bill stays
    * fixed. 4096 matches [[graft.Engine.widthFor]]'s one-box cap. */
  private val MaxBuckets = 4096

  private val rootPath = new Path(root)
  private def fs: FileSystem =
    rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Schema as read back from a generation dir (partition col last). */
  private val diskSchema: StructType = rowSchema.add("bp", LongType)

  private def bpOf(c: org.apache.spark.sql.Column, p: Int) =
    pmod(xxhash64(c), lit(p.toLong))

  private val GenName = """gen_(\d+)_p(\d+)_([ab])""".r

  private final case class Gen(dir: Path, n: Int, p: Int, kind: String) {
    /** Bytes across data files. Base generations are IMMUTABLE after
      * their fold, so their size is computed once and cached — the
      * fold trigger then walks only the (small) delta each batch
      * instead of O(buckets) files. A fresh session reads the base's
      * `_MANIFEST` (one small file, written at fold time) instead of
      * walking P bucket directories. */
    def bytes(fs: FileSystem): Long =
      if (kind == "b")
        BucketedIndex.baseBytesCache.computeIfAbsent(
          dir.toString,
          _ => BucketedIndex.readManifest(fs, dir)
            .map(_.map(_.getLen).sum: java.lang.Long)
            .getOrElse(walk(fs)))
      else walk(fs)
    private def walk(fs: FileSystem): Long = {
      val it = fs.listFiles(dir, true)
      var b = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.startsWith("part-")) b += f.getLen
      }
      b
    }
  }

  /** Complete (`_SUCCESS`-marked) generations, oldest first. */
  private def gens(): Seq[Gen] = {
    if (!fs.exists(rootPath)) return Nil
    fs.listStatus(rootPath).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        st.getPath.getName match {
          case GenName(n, p, k) if fs.exists(new Path(st.getPath, "_SUCCESS")) =>
            Some(Gen(st.getPath, n.toInt, p.toInt, k))
          case _ => None
        }
      }
      .sortBy(_.n)
  }

  def exists: Boolean = gens().nonEmpty

  /** Executed-plan string of the most recent [[probe]]'s index scan,
    * keyed by the index's key column — PlanAssertionsSpec pins that
    * the per-batch probe carries `bp` in `PartitionFilters` (the d09
    * pre-bucketed-read assertion applied to streaming state). */
  def lastProbePlan: Option[String] =
    Option(BucketedIndex.probePlans.get(key))

  /** A base generation's DataFrame, cached per (session, dir): the
    * partition-discovery listing over P bucket directories is a
    * DISTRIBUTED JOB once P exceeds the parallel-listing threshold,
    * and re-running it per micro-batch made per-batch cost grow with
    * P — measured 6.5 → 9.5 → 17.8 s/batch across ×4/×8/×16 stream
    * growth BEFORE this cache, flat after. Safe because a
    * base generation is immutable from `_SUCCESS` to deletion (appends
    * go to delta generations only) — this is the manifest cache every
    * table format (Delta/Iceberg) maintains so readers never re-list
    * data directories. Keyed by session too: a relation executes in
    * the session that built it.
    *
    * COLD START (a fresh session's first probe of a generation) used
    * to pay the full discovery job once per generation — measured
    * 6.8/9.6/19.8 s at ×4/×8/×16 index age, the one number in the q54
    * story that still grew with index size. Now [[compact]] persists
    * the generation's file manifest (relative path, bytes, mtime — one
    * small `_MANIFEST` file, what Delta's checkpoint / Iceberg's
    * manifest list is for) and a fresh session rebuilds the relation
    * FROM the manifest: the [[FileStatus]]es are seeded into the file
    * index's status cache, so neither partition discovery nor any
    * per-file stat touches the filesystem — one `open` of one small
    * file replaces the O(P)-directory listing job. Falls back to the
    * listing read when no manifest exists (a generation folded by an
    * older build, or a crash between parquet commit and manifest
    * write — the manifest is an optimization, never a correctness
    * dependency). */
  private def baseRelation(g: Gen): DataFrame =
    BucketedIndex.relCache.computeIfAbsent(
      s"${System.identityHashCode(s)}:${g.dir}",
      _ => BucketedIndex.readManifest(fs, g.dir) match {
        case Some(files) => relationFromManifest(g, files)
        case None => s.read.schema(diskSchema).parquet(g.dir.toString)
      })

  /** Build the generation's DataFrame from manifest-supplied statuses:
    * an [[InMemoryFileIndex]] whose status cache is pre-seeded answers
    * the root-path lookup from memory, so construction performs ZERO
    * filesystem listing; partition inference (the `bp=<b>` dirs) runs
    * over the cached statuses, typed by the user-specified schema
    * exactly as the listing path types them. */
  private def relationFromManifest(g: Gen, files: Array[FileStatus]): DataFrame = {
    val seeded = new BucketedIndex.SeededStatusCache(g.dir, files)
    val index = new InMemoryFileIndex(
      s, Seq(g.dir), Map("basePath" -> g.dir.toString),
      Some(diskSchema), seeded, None, None)
    s.baseRelationToDataFrame(HadoopFsRelation(
      index, index.partitionSchema, rowSchema, None,
      new ParquetFileFormat, Map.empty[String, String])(s))
  }

  /** The accumulated index restricted to the buckets `keys` (a
    * single-column frame of probe keys) can possibly match, with the
    * number of key rows when the touched-bucket job counted them.
    * Pruning is exact: `bp` is a pure function of the key, so a row in
    * an un-touched bucket cannot equal any probe key. */
  def probe(keys: DataFrame): BucketedIndex.Probe = {
    val gs = gens()
    if (gs.isEmpty) return BucketedIndex.Probe(None, None)
    val (bases, deltas) = gs.partition(_.kind == "b")
    val widths = bases.map(_.p).distinct
    val (keyRows, touched) =
      if (widths.isEmpty) (None, Map.empty[Int, Seq[Long]])
      else touchedBuckets(keys, widths) match { case (n, t) => (Some(n), t) }
    val pruned = bases.map(g => baseRelation(g).filter(col("bp").isin(touched(g.p): _*)))
    if (pruned.nonEmpty)
      BucketedIndex.probePlans.put(
        key, pruned.map(_.queryExecution.executedPlan.toString()).mkString("\n"))
    val parts =
      pruned.map(_.drop("bp")) ++
        deltas.map(g => s.read.schema(rowSchema).parquet(g.dir.toString))
    BucketedIndex.Probe(Some(parts.reduce(_ unionByName _)), keyRows)
  }

  /** The row count of `keys` and, per base width, the sorted buckets its
    * keys hash into — ONE job: one projection of every width's bucket
    * id, de-duplicated inside each task, so no exchange and at most
    * Σ widths ids per task reach the driver. */
  private def touchedBuckets(
      keys: DataFrame, widths: Seq[Int]): (Long, Map[Int, Seq[Long]]) = {
    val n = widths.size
    val perTask = keys.select(widths.map(p => bpOf(col(key), p)): _*).rdd
      .mapPartitions { rows =>
        val seen = Array.fill(n)(scala.collection.mutable.HashSet.empty[Long])
        var count = 0L
        rows.foreach { r => count += 1; for (i <- 0 until n) seen(i) += r.getLong(i) }
        Iterator.single((count, seen.map(_.toArray)))
      }
      .collect()
    val touched = widths.zipWithIndex.map { case (p, i) =>
      p -> perTask.flatMap(_._2(i)).distinct.sorted.toSeq
    }.toMap
    (perTask.map(_._1).sum, touched)
  }

  /** Total rows across generations — parquet footer counts, a
    * metadata-only scan (probe bookkeeping). */
  def totalRows(): Long =
    gens().map { g =>
      val sch = if (g.kind == "b") diskSchema else rowSchema
      s.read.schema(sch).parquet(g.dir.toString).count()
    }.sum

  /** Append a batch's rows into the current DELTA generation (plain
    * sequential files — ONE file per append; the bucket fan-out is
    * paid only at fold time, see the class doc). `coalesce`, not
    * `repartition` — a CONTRACT on callers, not an observation: the
    * appended frame must already be materialized (localCheckpoint),
    * so the single writer task reads cached blocks directly with no
    * shuffle exchange; an UNcheckpointed frame would have its whole
    * upstream computation serialized into that one task (the
    * round-13 review caught exactly this in the history seeders,
    * fixed by checkpointing at the seed call sites). (The funnel
    * itself is intentional — one delta file per micro-batch; a
    * high-throughput stream would raise the coalesce width and let
    * the size-ratio fold absorb the extra files.) Empty appends are
    * skipped: `knownRows`, a count the caller already has (a [[probe]]
    * of the same frame's keys), spares the emptiness job. */
  def append(df: DataFrame, knownRows: Option[Long] = None): Unit = {
    if (knownRows.fold(df.isEmpty)(_ == 0L)) return
    val dir = gens().lastOption match {
      case Some(g) if g.kind == "a" => g.dir.toString
      case Some(g) => new Path(rootPath, s"gen_${g.n + 1}_p0_a").toString
      case None    => new Path(rootPath, "gen_0_p0_a").toString
    }
    df.coalesce(1).write.mode("append").parquet(dir)
  }

  /** The size-ratio trigger: fold when the delta has grown to
    * 1/[[BucketedIndex.FoldFraction]] of the base's bytes (pure
    * filesystem metadata — no Spark job). With no base yet, any
    * non-empty delta folds (that first fold is what creates the
    * base). Returns whether a compaction ran. `rewrite` is forwarded
    * to [[compact]] (fold-time row rewrites — see there). */
  def maybeCompact(): Boolean = maybeCompactWith(None)

  /** [[maybeCompact]] with a fold-time row rewrite (see [[compact]]). */
  def maybeCompact(rewrite: (DataFrame, Long) => DataFrame): Boolean =
    maybeCompactWith(Some(rewrite))

  private def maybeCompactWith(
      rewrite: Option[(DataFrame, Long) => DataFrame]): Boolean = {
    val gs = gens()
    if (gs.isEmpty) return false
    val deltaBytes = gs.filter(_.kind == "a").map(_.bytes(fs)).sum
    val baseBytes = gs.filter(_.kind == "b").map(_.bytes(fs)).sum
    if (deltaBytes == 0L ||
        deltaBytes * BucketedIndex.FoldFraction < baseBytes) return false
    reapHalfWritten()
    foldGens(gens(), rewrite)
    true
  }

  /** The newest `_SUCCESS`-complete BASE generation, as (dir, rows) —
    * the hook consumers use to derive fold-owned PROPERTIES OF THE
    * DATA (e.g. AnnStream's SRP band width = `length(bk)` of any row)
    * instead of trusting a sidecar that a crash could tear: the base
    * IS the authority, and it is immutable from `_SUCCESS` to
    * deletion, so whatever is derived from it may be cached per dir. */
  def newestBase: Option[(String, DataFrame)] =
    gens().filter(_.kind == "b").lastOption
      .map { g =>
        // the cache key carries the dir's mtime: an index root wiped and
        // re-seeded at the same path RE-USES generation dir names, so a
        // bare-path key could serve a previous incarnation's cached
        // derivation (round-14 advisory — AnnStream's width cache); the
        // mtime disambiguates incarnations for one extra metadata call
        (s"${g.dir}@${fs.getFileStatus(g.dir).getModificationTime}",
          baseRelation(g))
      }

  /** Fold every generation (and every per-batch append file) into ONE
    * new base generation re-bucketed at the width the CURRENT row
    * count calls for, then drop the superseded generations — the u05
    * small-file compaction discipline applied to streaming state, plus
    * the adaptive re-widening that keeps bucket occupancy (and
    * therefore per-batch probe cost) constant as the stream ages. Runs
    * inline in `foreachBatch` under [[maybeCompact]]'s trigger here;
    * at deployment the same fold runs as an out-of-band job.
    *
    * `rewrite(union, rows)` lets the OWNER of the key column rewrite
    * every row at fold time — the fold rewrites everything anyway, so
    * a consumer whose key is itself width-adaptive (AnnStream's SRP
    * band `bk`) can re-band here at the width the CURRENT row count
    * calls for, exactly as `bp` is already re-derived at the new P.
    * The rewrite MUST be a pure per-row projection that preserves the
    * schema; it runs BEFORE the duplicate-collapsing distinct (so
    * crash-window twins from two coexisting bases — whose re-banded
    * keys differ in WIDTH and would defeat a key-inclusive distinct —
    * are first normalized to one width, then collapsed for good;
    * round-14 advisory) and before the bp assignment, so
    * `bp = hash(rewritten key)` stays consistent by construction.
    * Consequence: the row count the rewrite receives is the
    * PRE-collapse upper bound (exact outside replay/crash windows,
    * inflated by at most the duplicated mass inside them) — fine for
    * its one consumer, the log-scaled adaptive band width — while the
    * bucket count `newP` is sized from the EXACT post-collapse
    * count. */
  def compact(): Unit = {
    reapHalfWritten()
    foldGens(gens(), None)
  }

  /** [[compact]] with a fold-time row rewrite (doc above). */
  def compact(rewrite: (DataFrame, Long) => DataFrame): Unit = {
    reapHalfWritten()
    foldGens(gens(), Some(rewrite))
  }

  /** INCREMENTAL (size-tiered) fold — the fold-every-batch consumers'
    * (q54b/q58b) replacement for whole-base [[compact]] (round-17
    * verdict task 6). Whole-base rewrite every batch costs
    * O(stream² / batch) bytes rewritten; here each batch pays only:
    *
    *  1. its DELTA folded into a NEW base generation sized to the
    *     delta's own row count (the old base is not touched);
    *  2. a FULL merge only when the accumulated newer bases trip the
    *     same size ratio [[maybeCompact]] uses (newer × FoldFraction ≥
    *     oldest) — the amortized geometric rewrite cadence the
    *     production policy already pays;
    *  3. a small-tier merge (all bases but the oldest) when more than
    *     [[MaxBaseGens]] bases coexist — bounds per-probe overhead
    *     (one pruned scan and one bucket-id column per base) without
    *     touching the big base.
    *
    * Sound ONLY for indexes whose fold is layout-pure (identity
    * rewrite): [[probe]] already unions every base with per-base
    * touched-bucket pruning, consumers are duplicate-immune, and each
    * generation's width P remains a pure function of the row count it
    * was folded from — so results (and the DuckDB oracles) are
    * unchanged. A RE-BANDING consumer (AnnStream's q60b `rw`) must
    * keep whole-base [[compact]]: its rewrite re-keys EVERY row at the
    * current corpus width, which a partial fold cannot express — rows
    * left in an unmerged base would keep stale-width band keys and
    * fall out of the banded probe. That is precisely why compact's
    * whole-base rewrite exists. */
  def foldIncremental(): Unit = {
    reapHalfWritten()
    val gs = gens()
    if (gs.isEmpty) return
    val (bases0, deltas) = gs.partition(_.kind == "b") // oldest first
    // Ratio check BEFORE any partial fold: when deltas + newer bases
    // already trip the geometric ratio against the oldest base (or no
    // base exists yet), folding everything in ONE pass is strictly
    // cheaper than a delta fold followed by the full merge it would
    // immediately trigger — the unseeded fold-every-batch case (q54b's
    // equal-sized batches with no history) degenerates to exactly the
    // old whole-base compact, never worse.
    val newerBytes =
      deltas.map(_.bytes(fs)).sum +
        (if (bases0.isEmpty) 0L else bases0.tail.map(_.bytes(fs)).sum)
    if (bases0.isEmpty ||
        newerBytes * BucketedIndex.FoldFraction >= bases0.head.bytes(fs)) {
      foldGens(gs, None) // the geometric full merge
      return
    }
    if (deltas.nonEmpty) foldGens(deltas, None, tierPCap(deltas))
    val bases = gens().filter(_.kind == "b")
    if (bases.size > MaxBaseGens) // tier merge, big base untouched
      foldGens(bases.tail, None, tierPCap(bases.tail))
  }

  /** Coexisting-base ceiling for [[foldIncremental]]: each base costs a
    * probe one bucket-id column + one pruned scan, so the tier is
    * merged (cheap — the tier is small by the ratio gate) past this. */
  private val MaxBaseGens = 8

  /** PER-TIER bucket-count cap for [[foldIncremental]]'s partial folds
    * (round-18 verdict task 2): `ceil(rows / targetRowsPerBucket)` is a
    * bucket-OCCUPANCY rule sized for the big base, but applied to a
    * per-batch DELTA fold it fans a few MB into hundreds of ~4 KB
    * bucket directories — at q54b's adversarial 64-rows/bucket target
    * the per-batch fold bill was pure filesystem metadata (sf10:
    * ~500–4096 file commits per fold at zero spill). Capping a tier's
    * width so each bucket file carries at least [[BucketedIndex
    * .MinTierBucketBytes]] of the fold's input bounds the metadata bill
    * by the tier's BYTES, which the size-ratio gate already bounds to
    * ≤ base/FoldFraction. The probe's cost is unaffected in order: a tier
    * read amplifies to at most the tier's own (small) size, exactly as
    * the unfolded delta it replaces was read in full. FULL merges keep
    * the pure occupancy rule — the big base is where `bp` pruning pays
    * — so `bp` semantics (pmod(xxhash64(key), P), P in the generation
    * name) and the declared results are unchanged. */
  private def tierPCap(gs: Seq[Gen]): Int = {
    val bytes = gs.map(_.bytes(fs)).sum
    math.max(1L, math.min(MaxBuckets.toLong,
      bytes / BucketedIndex.MinTierBucketBytes)).toInt
  }

  /** Reap half-written compaction targets from a crashed predecessor. */
  private def reapHalfWritten(): Unit =
    fs.listStatus(rootPath).toSeq
      .filter(st => st.isDirectory &&
        GenName.findFirstIn(st.getPath.getName).isDefined &&
        !fs.exists(new Path(st.getPath, "_SUCCESS")))
      .foreach(st => fs.delete(st.getPath, true))

  /** The ONE fold pipeline [[compact]] and [[foldIncremental]] share:
    * union the given generations, rewrite, collapse duplicates,
    * re-bucket at the width THEIR row count calls for, write the new
    * `_SUCCESS`+`_MANIFEST` base, then delete exactly the generations
    * folded. Crash contract unchanged (duplicates, never missing
    * rows). `pCap` bounds the new generation's bucket count — the
    * per-tier file-fan-out cap [[tierPCap]] computes for partial folds
    * (full merges pass the default, i.e. no extra cap). `rewrite` is
    * `None` for identity folds — the common case (every fold except
    * AnnStream's re-banding) — which skips the pre-collapse
    * checkpoint+count whose ONLY consumer is the rewrite hook: one
    * full materialization and one count job saved per fold, which the
    * fold-every-batch consumers (q54b/q58b) pay per micro-batch. */
  private def foldGens(
      gs: Seq[Gen], rewrite: Option[(DataFrame, Long) => DataFrame],
      pCap: Int = Int.MaxValue): Unit = {
    if (gs.isEmpty) return
    val union0 = gs
      .map { g =>
        if (g.kind == "b")
          s.read.schema(diskSchema).parquet(g.dir.toString).drop("bp")
        else s.read.schema(rowSchema).parquet(g.dir.toString)
      }
      .reduce(_ unionByName _)
    val rewritten = rewrite match {
      case Some(rw) =>
        // two consumers of the union (the pre-count and the rewrite):
        // checkpoint so the generations are read once
        val u0 = union0.localCheckpoint()
        val preRows = u0.count() // pre-collapse upper bound (doc above)
        if (preRows == 0) return
        rw(u0, preRows)
      case None => union0 // identity fold: distinct is the only reader
    }
    val union = rewritten
      .distinct() // collapses crash-window duplicates for good
      .localCheckpoint() // two consumers: the exact count and the write
    val rows = union.count()
    if (rows == 0) return
    val newP = math.min(pCap, math.min(MaxBuckets, math.max(
      minBuckets, math.ceil(rows.toDouble / targetRowsPerBucket).toInt)))
      .max(1)
    val nextGen = gens().map(_.n).max + 1
    val dest = new Path(rootPath, s"gen_${nextGen}_p${newP}_b")
    union
      .withColumn("bp", bpOf(col(key), newP))
      .repartition(col("bp")) // one writer task per bucket → one file
      .write.partitionBy("bp").parquet(dest.toString)
    // The fold owns the one recursive listing a generation ever needs:
    // persist it as the `_MANIFEST` so every FUTURE session's first
    // probe reads one small file instead (see [[baseRelation]]). A
    // crash landing between the parquet commit and this write leaves a
    // _SUCCESS'd generation without a manifest — readers fall back to
    // listing, correctness unchanged.
    BucketedIndex.writeManifest(fs, dest)
    // test-only crash injection: the window between the new base
    // becoming visible and the superseded generations' deletion —
    // see the crash contract in the class doc, executed by
    // BucketedIndexCrashSpec
    failpointAfterBaseWrite()
    // new generation is _SUCCESS-complete; superseded ones can go. A
    // crash in this loop leaves both generations visible → duplicate
    // rows → harmless (consumers are duplicate-immune; the next
    // compact's distinct collapses them).
    gs.foreach { g =>
      fs.delete(g.dir, true)
      BucketedIndex.baseBytesCache.remove(g.dir.toString)
      BucketedIndex.relCache.keySet.removeIf(_.endsWith(s":${g.dir}"))
      // prefix match: dir-keyed consumer caches key by `dir` or
      // `dir@mtime` (see [[newestBase]])
      BucketedIndex.dirKeyedCaches.forEach(
        _.keySet.removeIf(_.startsWith(g.dir.toString)))
    }
  }

  /** Test-only failpoint, invoked by [[compact]] after the new base
    * generation is `_SUCCESS`-complete but BEFORE the superseded
    * generations are deleted — the crash window the contract argues
    * leaves duplicates, never missing rows. Production value is a
    * no-op. */
  private[graft] var failpointAfterBaseWrite: () => Unit = () => ()
}

private[graft] object BucketedIndex {
  /** A [[BucketedIndex.probe]]'s result: the index rows the keys can
    * match (None when the index has no generations yet), and the number
    * of key rows when the touched-set job counted them (the index has a
    * base generation). */
  final case class Probe(rows: Option[DataFrame], keyRows: Option[Long])

  /** Immutable-base caches (see [[BucketedIndex.baseRelation]] / Gen.bytes). */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private val baseBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Fold when `delta × FoldFraction ≥ base` — the delta stays ≤ 1/4
    * of the index (bounds the unpruned part of every probe) at ~4×
    * amortized write amplification per size doubling. */
  val FoldFraction = 4

  /** Bucket-file SIZE floor for incremental tier folds (see
    * [[BucketedIndex.tierPCap]]): one bucket file per 256 KiB of fold
    * input. 256 KiB ≈ what the PRODUCTION occupancy target already
    * implies (4096 rows × ~40–60 B/row of compressed band parquet), so
    * production-shaped indexes are untouched; only a target adversarially
    * far below that density (q54b/q58b's 64) has its tier fan-out
    * capped. */
  val MinTierBucketBytes: Long = 256L << 10

  /** Last probe plan per key column (see [[BucketedIndex.lastProbePlan]]). */
  private val probePlans =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Static accessor for plan tests: the most recent probe's executed
    * plan for an index keyed on `key`, across all instances. */
  private[graft] def lastProbePlanFor(key: String): Option[String] =
    Option(probePlans.get(key))

  /** Consumer caches keyed by IMMUTABLE generation dir (e.g.
    * [[AnnStream]]'s per-base band-width cache). Registering here buys
    * the consumer the same lifecycle the index's own dir-keyed caches
    * get: [[compact]] purges entries for the generations it deletes
    * (without this, a wiped-and-reseeded index root whose generation
    * names recur would serve a STALE cached value — round-14
    * advisory), and [[clearCachesForTesting]] clears them. */
  private val dirKeyedCaches =
    new java.util.concurrent.CopyOnWriteArrayList[
      java.util.concurrent.ConcurrentHashMap[String, _]]()
  private[graft] def registerDirKeyedCache(
      m: java.util.concurrent.ConcurrentHashMap[String, _]): Unit =
    dirKeyedCaches.add(m)

  /** Drop the immutable-base caches — lets a spec simulate a FRESH
    * session's cold start against an existing on-disk index without
    * tearing down the shared test SparkSession. */
  private[graft] def clearCachesForTesting(): Unit = {
    relCache.clear()
    baseBytesCache.clear()
    dirKeyedCaches.forEach(_.clear())
  }

  private val ManifestName = "_MANIFEST"

  /** Persist `dir`'s data-file manifest (relative path, bytes, mtime —
    * tab-separated, one line per file) as `dir/_MANIFEST`. Called once
    * per fold, on the generation the fold just wrote; the recursive
    * listing here is the LAST one the generation ever needs.
    *
    * CRASH-SAFE: the manifest is a pure cache, so a torn write must
    * never become a correctness dependency. The bytes go to
    * `_MANIFEST.tmp` first and rename into place (rename is atomic on
    * every FS this runs on; on one where it isn't, the footer check
    * below still catches the tear), and the last line is a
    * `#<TAB>count` footer that [[readManifest]] validates — a manifest
    * truncated at ANY byte either loses the footer or disagrees with
    * it, and the reader falls back to listing instead of silently
    * omitting data files. */
  private[graft] def writeManifest(fs: FileSystem, dir: Path): Unit = {
    val sb = new StringBuilder
    var n = 0
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.startsWith("part-")) {
        val rel = f.getPath.toString.stripPrefix(
          fs.makeQualified(dir).toString).stripPrefix("/")
        sb.append(rel).append('\t').append(f.getLen)
          .append('\t').append(f.getModificationTime).append('\n')
        n += 1
      }
    }
    sb.append('#').append('\t').append(n).append('\n')
    val tmp = new Path(dir, ManifestName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(dir, ManifestName)
    // A failed rename leaves no (or the old) manifest — both fall back
    // to listing; never a torn file at the final path.
    if (fs.exists(dst)) fs.delete(dst, false)
    fs.rename(tmp, dst)
  }

  /** The generation's data files as [[FileStatus]]es reconstructed from
    * its `_MANIFEST` — ONE small-file read, no directory listing. None
    * when the generation has no manifest (pre-manifest fold, or a crash
    * between parquet commit and manifest write), when the footer is
    * missing or disagrees with the entry count (torn write), or when
    * any line fails to parse — EVERY anomaly degrades to the listing
    * path rather than trusting a possibly-incomplete file list (a
    * silently short manifest would drop rows, violating the index's
    * "duplicates, never missing rows" crash contract). */
  private[graft] def readManifest(
      fs: FileSystem, dir: Path): Option[Array[FileStatus]] = {
    val mp = new Path(dir, ManifestName)
    try {
      if (!fs.exists(mp)) return None
      val in = fs.open(mp)
      val text =
        try {
          val bos = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
          new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
      val lines = text.split('\n').filter(_.nonEmpty)
      if (lines.isEmpty || !lines.last.startsWith("#\t")) return None
      val entries = lines.dropRight(1)
      if (entries.length != lines.last.split('\t')(1).toInt) return None
      val qualified = fs.makeQualified(dir)
      Some(entries.map { line =>
        val Array(rel, len, mtime) = line.split('\t')
        new FileStatus(len.toLong, false, 1, 128L << 20, mtime.toLong,
          new Path(qualified, rel))
      })
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** A [[FileStatusCache]] pre-seeded with one root path's manifest
    * statuses: the file index's root lookup is answered from memory, so
    * building the relation performs no filesystem listing at all. */
  private[graft] final class SeededStatusCache(
      root: Path, files: Array[FileStatus]) extends FileStatusCache {
    private val m =
      new java.util.concurrent.ConcurrentHashMap[Path, Array[FileStatus]]()
    m.put(root, files)
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      Option(m.get(path))
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit =
      m.put(path, leafFiles)
    override def invalidateAll(): Unit = m.clear()
  }
}
