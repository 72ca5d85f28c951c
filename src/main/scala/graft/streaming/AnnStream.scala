package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Num.oround
import graft.functions.VectorFns

/** The q60 STREAMING ANN micro-batch step — continuous embedding ingest
  * with search-on-arrival, the THIRD `foreachBatch` state consumer on
  * [[BucketedIndex]] (after q54's near-dup indexes and q58's dedup
  * signature index): each arriving vector is answered with its top-k
  * most-similar EARLIER vectors, then added to the index so later
  * arrivals can match it — the shape a production retrieval stack runs
  * when the corpus itself is a stream (dedup-on-ingest, link-back,
  * freshness-ranked search).
  *
  * Candidate generation is the v02 SRP discipline: the ONE
  * [[VectorFns.srpBucket]] definition keys both the index rows and the
  * probes. The per-batch probe reads the index PRUNED to the batch's
  * own bucket keys (BucketedIndex `bp` pruning, plan-asserted
  * machinery shared with q54/q58); exact cosine runs only on
  * bucket-mates.
  *
  * BAND WIDTH — seed-pinned or fold-adaptive (`reband`): the width is
  * sized by [[VectorFns.adaptiveSrpBits]] so bucket occupancy (and
  * therefore per-probe candidate mass) stays ~constant; a stream that
  * grows past its seed count at a FROZEN width gets linearly fatter
  * buckets — per-batch cost grows with stream age, the exact hazard
  * BucketedIndex's own `bp` re-widening exists to prevent. With
  * `reband = true` the size-ratio fold recomputes `bk` at the width
  * the CURRENT row count calls for (the fold rewrites every row
  * anyway — [[BucketedIndex.compact]]'s `rewrite` hook), and each
  * batch derives the live width FROM THE NEWEST BASE itself
  * (`length(bk)` of one row, cached per immutable generation dir — no
  * sidecar that a crash could tear; in the crash window where two
  * bases coexist, the newest is a superset of the old, so keying the
  * batch at the newest width loses nothing). The DECLARED q60 pins
  * the seed width (`reband = false`): its DuckDB oracle must re-derive
  * one bucket function for the whole run, and a mid-stream width flip
  * is not expressible as a single SQL bucket CTE — the capability is
  * exercised by AnnRebandSpec instead.
  *
  * Partner rule — identical algebra to q58's, making the result
  * deterministic under any id-ordered batching and therefore
  * DuckDB-oracle-able: a candidate qualifies if it is HISTORY
  * (vec_id % 5 ≠ 4, all "before" the stream) or an earlier-ingested
  * delta vector (`pid < qid` — earlier batch ⇒ smaller id, in-batch
  * the strict order excludes self-matches). Ranking is over the
  * ROUNDED cosine (v24's discipline: cross-engine ulp noise cannot
  * reorder the cut), ties broken by partner id. Appends are
  * idempotent-by-algebra: the candidate PAIR SET is distinct'd before
  * ranking (crash-window or replay duplicates in the index would
  * otherwise give one pair two ranks and evict a genuine neighbor),
  * so rank rows are pure functions of the pair set, and the final
  * read's distinct collapses re-written result files.
  */
private[graft] object AnnStream {

  private val rowSchema = StructType.fromDDL(
    "vec_id LONG, e ARRAY<DOUBLE>, bk STRING")

  def index(
      s: SparkSession, root: String,
      targetRowsPerBucket: Long, minBuckets: Int): BucketedIndex =
    new BucketedIndex(s, root, "bk", rowSchema, targetRowsPerBucket, minBuckets)

  /** (vec_id, e double[], bk) for a (vec_id, embedding float[]) frame. */
  def keyed(vecs: DataFrame, bits: Int): DataFrame =
    vecs.select(
      col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("e"))
      .select(col("vec_id"), col("e"),
        VectorFns.srpBucket(col("e"), bits).as("bk"))

  /** Seed the history corpus once — idempotent (q58's contract).
    *
    * `layoutRowsPerBucket` (0 = follow `targetRowsPerBucket`) sizes the
    * index FILE layout independently of the SRP BAND occupancy target:
    * the band target is an oracle-pinned semantic knob (q60b sets 7 so
    * the estates straddle a width boundary mid-stream), but the file
    * bucket count `P = rows/target` it implied was pure layout the SQL
    * never sees — and at sf10 a target of 7 made every fold write
    * ~rows/7 partition dirs (an 86k-small-file pathology measured in
    * the r15 sf10 sweep). Decoupled, q60b keeps its band semantics and
    * folds into rows/4096 files like every other consumer. */
  def seedHistory(
      s: SparkSession, history: DataFrame, root: String, bits: Int,
      targetRowsPerBucket: Long = 4096L, minBuckets: Int = 16,
      layoutRowsPerBucket: Long = 0L): Unit = {
    val layout =
      if (layoutRowsPerBucket > 0) layoutRowsPerBucket else targetRowsPerBucket
    val ix = index(s, root, layout, minBuckets)
    if (ix.exists) return
    // checkpoint BEFORE the append: the coalesced single-writer funnel
    // must not serialize the cast+SRP pass over the whole history
    ix.append(keyed(history, bits).localCheckpoint())
    ix.compact()
  }

  /** Width cache keyed by (immutable) base generation dir — derived
    * once per fold product, however many batches probe it. Registered
    * with [[BucketedIndex]] so folds purge deleted generations' entries
    * and test cache-clears reach it (a wiped-and-reseeded index root
    * re-uses generation dir names; a stale width would key every batch
    * wrong and silently empty the candidate sets). */
  private val widthCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
  BucketedIndex.registerDirKeyedCache(widthCache)

  /** The index's LIVE band width: `length(bk)` of any row of the
    * newest base (all rows of a generation share one width — the fold
    * rewrites them together). Falls back to `seedBits` before the
    * first fold. */
  private[graft] def currentBits(ix: BucketedIndex, seedBits: Int): Int =
    ix.newestBase match {
      case Some((dir, df)) =>
        widthCache.computeIfAbsent(dir,
          _ => df.select(length(col("bk"))).head().getInt(0))
      case None => seedBits
    }

  /** One micro-batch: bucket → pruned probe → exact cosine on
    * bucket-mates → per-query top-k → append results + own rows →
    * size-triggered fold (re-banding `bk` at the fold when `reband`).
    * Returns whether the index compacted.
    *
    * `forceCompact` folds after EVERY batch instead of on the
    * size-ratio trigger — the q60b oracle-determinism knob: byte-ratio
    * fold timing depends on parquet file sizes (not SQL-derivable),
    * but a fold-every-batch schedule makes each batch's live width a
    * pure function of ROW COUNTS, which the DuckDB oracle re-derives
    * phase by phase with the same integer-shift rule. Production runs
    * keep the amortized size-ratio trigger. */
  def processBatch(
      batch: DataFrame, batchId: Long,
      resDir: String, root: String, bits: Int, k: Int = 10,
      targetRowsPerBucket: Long = 4096L, minBuckets: Int = 16,
      reband: Boolean = false, forceCompact: Boolean = false,
      layoutRowsPerBucket: Long = 0L): Boolean = {
    val bs = batch.sparkSession
    val layout =
      if (layoutRowsPerBucket > 0) layoutRowsPerBucket else targetRowsPerBucket
    val ix = index(bs, root, layout, minBuckets)
    val liveBits = if (reband) currentBits(ix, bits) else bits
    val rows = keyed(batch, liveBits).localCheckpoint()
    val probe = ix.probe(rows.select(col("bk")))
    val rhs = probe.rows match {
      case Some(hist) => rows.unionByName(hist.select("vec_id", "e", "bk"))
      case None       => rows
    }
    val ranked = rows
      .select(col("bk"), col("vec_id").as("qid"), col("e").as("qe"))
      .join(rhs.select(
        col("bk"), col("vec_id").as("pid"), col("e").as("pe")), "bk")
      .filter(col("pid") % 5 =!= 4 || col("pid") < col("qid"))
      .select(col("qid"), col("pid"),
        oround(VectorFns.cosine(col("qe"), col("pe")), 4).as("cos_sim"))
      // DUPLICATE-IMMUNITY IS REQUIRED HERE, not optional: a (qid, pid)
      // pair cohabits exactly one bucket, but the index itself can hold
      // duplicate ROWS inside the BucketedIndex crash window (both
      // generations visible between the new base's _SUCCESS and the
      // superseded delete) or after a foreachBatch replay re-probes rows
      // the failed attempt already appended. row_number over that
      // MULTISET would give the same pair two ranks and push a genuine
      // neighbor past k — so the pair set is distinct'd BEFORE ranking,
      // which is exact (duplicate rows carry identical cos_sim).
      .distinct()
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("pid"))))
      .filter(col("rank") <= k)
      .select(col("qid").as("vec_id"), col("pid").as("neighbor"),
        col("cos_sim"), col("rank").cast("long").as("nb_rank"))
    ranked.write.mode("append").parquet(resDir)
    ix.append(rows, probe.keyRows)
    if (reband) {
      // re-band at the width the CURRENT count calls for — the ONE
      // adaptiveSrpBits rule over the folded row count, recomputed
      // from `e` exactly as keyed() computes it on arrival
      val rw = (union: DataFrame, n: Long) => {
        val nb = VectorFns.adaptiveSrpBits(n, targetRowsPerBucket)
        union.withColumn("bk", VectorFns.srpBucket(col("e"), nb))
      }
      if (forceCompact) { ix.compact(rw); true } else ix.maybeCompact(rw)
    } else ix.maybeCompact()
  }
}
