package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Num.oround

/** The q58 STREAMING incremental-dedup micro-batch step — batch d09's
  * "dedup today's crawl against the persisted history index" made
  * continuous, its index backed by [[BucketedIndex]] exactly as q54's
  * (one state-store format for every foreachBatch state consumer).
  * Factored out of the `foreachBatch` closure so q58 and q58b drive
  * the IDENTICAL code.
  *
  * Per batch: the delta docs' band keys probe the index PRUNED to the
  * touched buckets (plan-asserted via [[BucketedIndex.lastProbePlan]]),
  * candidates are Jaccard-verified on the joined row (the index carries
  * the shingle set precisely so verification needs no second lookup —
  * d09's contract), the verdicts append to the result sink, and the
  * batch's own bands append into the index so LATER deltas dedup
  * against it — the continuous-ingest loop q54 runs for near-dup
  * verdicts, here for the raw verified-pair stream. Size-ratio
  * compaction ([[BucketedIndex.maybeCompact]]) folds the per-batch
  * delta files into the re-bucketed base, so per-batch probe cost stays
  * ≈ |batch keys| × occupancy regardless of how long the stream has
  * been ingesting.
  *
  * Partner rule (what makes the result deterministic under any
  * id-ordered batching, and therefore DuckDB-oracle-able): a candidate
  * partner qualifies if it belongs to the seeded HISTORY corpus
  * (`doc_id % 5 ≠ 4`, d09's split — no id-order constraint: history is
  * all "before" the stream), or is an earlier-ingested DELTA doc
  * (`dup_of < new_id` — earlier batch ⇒ smaller id under id-ordered
  * batching, and within a batch the strict order both de-dups the pair
  * listing and excludes self-pairs). Batch d09's oracle covers only the
  * delta-vs-history half; the streaming loop additionally yields
  * delta-vs-earlier-delta pairs — that is what continuous ingest MEANS
  * — and the oracle extends od09's text with exactly that one clause.
  * Appends are idempotent-by-algebra (the final read is `.distinct()`,
  * pair scores are pure functions of the pair), meeting the q46
  * replay contract.
  */
private[graft] object IncDedup {

  private val bandSchema = StructType.fromDDL(
    "doc_id LONG, sh ARRAY<STRING>, bk STRING")

  def index(
      s: SparkSession, root: String,
      targetRowsPerBucket: Long, minBuckets: Int): BucketedIndex =
    new BucketedIndex(s, root, "bk", bandSchema, targetRowsPerBucket, minBuckets)

  /** The indexing job: band the history corpus once into a fresh
    * [[BucketedIndex]] (append, then the first fold creates the
    * bucketed base). Idempotent — an existing index is kept, so a
    * resumed run (q58's second construction over the same checkpoint)
    * does not re-ingest history. */
  def seedHistory(
      s: SparkSession, historyBands: DataFrame, root: String,
      targetRowsPerBucket: Long = 4096L, minBuckets: Int = 16): Unit = {
    val ix = index(s, root, targetRowsPerBucket, minBuckets)
    if (ix.exists) return
    // checkpoint BEFORE the append: append funnels into one writer task
    // (coalesce), which without the barrier would serialize the whole
    // history banding computation into that single task — the seed is
    // the largest write the index ever takes
    ix.append(historyBands.select("doc_id", "sh", "bk").localCheckpoint())
    ix.compact()
  }

  /** One micro-batch of delta docs: band → pruned probe → verify →
    * append results + append own bands → size-triggered fold. Returns
    * whether the index compacted this batch (probe bookkeeping). */
  def processBatch(
      batch: DataFrame, batchId: Long,
      resDir: String, root: String,
      targetRowsPerBucket: Long = 4096L, minBuckets: Int = 16,
      forceCompact: Boolean = false): Boolean = {
    val bs = batch.sparkSession
    val ix = index(bs, root, targetRowsPerBucket, minBuckets)
    // checkpointed: the touched-bucket job, the join build side and
    // the index append are three consumers of the banding subtree
    val bands = graft.queries.DedupQueries
      .keyedBandsOf(batch.select(col("doc_id"), col("text")))
      .select("doc_id", "sh", "bk")
      .localCheckpoint()
    val probe = ix.probe(bands.select(col("bk")))
    val rhs = probe.rows match {
      case Some(hist) => bands.unionByName(hist.select("doc_id", "sh", "bk"))
      case None       => bands
    }
    val verified = bands
      .select(col("bk"), col("doc_id").as("new_id"), col("sh").as("shn"))
      .join(rhs.select(
        col("bk"), col("doc_id").as("dup_of"), col("sh").as("shh")), "bk")
      // the partner rule — see the class doc. Self-pairs need no extra
      // clause: a self-partner is delta (%5 = 4), so it must pass the
      // strict `<`, which it cannot.
      .filter(col("dup_of") % 5 =!= 4 || col("dup_of") < col("new_id"))
      .select(col("new_id"), col("dup_of"),
        graft.functions.TextFns.jaccard(col("shn"), col("shh")).as("jac"))
      .filter(col("jac") >= 0.8)
      // a pair colliding in several bands scores identically each time
      .groupBy("new_id", "dup_of")
      .agg(max(col("jac")).as("jac"))
      .select(col("new_id"), col("dup_of"), oround(col("jac"), 3).as("jaccard"))
    verified.write.mode("append").parquet(resDir)
    // the touched-bucket job counted the bands: no emptiness job
    ix.append(bands, probe.keyRows)
    // q58b's determinism knob (see NearDup.processBatch): fold every
    // batch so the adaptive bucket width P runs the production policy
    // under the unchanged oracle (P is layout-only for LSH band keys).
    // Incremental fold — band keys are fold-invariant, so each batch
    // folds only its own delta (BucketedIndex.foldIncremental).
    if (forceCompact) { ix.foldIncremental(); true } else ix.maybeCompact()
  }
}
