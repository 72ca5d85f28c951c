package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The q61 STREAMING DECONTAMINATION micro-batch step — the FOURTH
  * `foreachBatch` consumer on [[BucketedIndex]] (q54 near-dup, q58
  * incremental dedup, q60 ANN): arriving training documents are
  * screened for 8-gram overlap against a PERSISTED benchmark-gram
  * index, batch p04's exact semantics made continuous — the shape a
  * production ingest runs when the corpus arrives as a stream but the
  * eval benchmarks are fixed ahead of it (decontaminate-on-ingest,
  * before anything downstream sees the document).
  *
  * The gram definitions are p04's OWN —
  * [[graft.queries.AnalyticsQueries.g8OfToks]] over
  * [[graft.functions.TextFns.tokens]] — one definition for the batch
  * query, this stream, and the shared DuckDB oracle (the q36/q43
  * one-oracle discipline: q61 streams p04's whole train side, so
  * p04's oracle text IS q61's).
  *
  * Unlike the other three consumers the index is STATIC: the
  * benchmark set is seeded once and never appended to by the stream
  * (a training doc must never become "benchmark"), so there is no
  * partner rule, no fold-time rewrite, and per-batch cost is flat in
  * stream age BY CONSTRUCTION — each batch pays |batch grams| hashing
  * plus a probe of the index pruned to the batch's own buckets
  * (`bp` partition pruning, the same plan-asserted machinery as
  * q54/q58/q60). Appends to the RESULT sink are idempotent by
  * algebra: a batch's verdict rows are a pure function of (batch
  * content, static index), so a foreachBatch replay rewrites the same
  * rows and the final read's distinct collapses them. */
private[graft] object Decontam {

  private val rowSchema = StructType.fromDDL("h BIGINT")

  def index(
      s: org.apache.spark.sql.SparkSession, root: String,
      targetRowsPerBucket: Long, minBuckets: Int): BucketedIndex =
    new BucketedIndex(s, root, "h", rowSchema, targetRowsPerBucket, minBuckets)

  /** Distinct 8-gram hashes of the benchmark docs — `(h)` rows keyed
    * for the index. One definition with the probe side ([[gramsOf]]'s
    * per-doc stream, collapsed corpus-wide). */
  def benchHashesOf(benchDocs: DataFrame): DataFrame =
    gramsOf(benchDocs).select("h").distinct()

  /** Per-doc distinct 8-gram stream: (doc_id, lang, h). */
  private def gramsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        explode(graft.queries.AnalyticsQueries.g8OfToks(col("toks"))).as("h"))

  /** Seed the benchmark index once — idempotent (q58's contract).
    * Checkpointed before the append per the BucketedIndex coalesce
    * contract (the single-writer funnel must not serialize the whole
    * tokenize+hash pass). */
  def seedBench(
      s: org.apache.spark.sql.SparkSession, benchDocs: DataFrame,
      root: String,
      targetRowsPerBucket: Long = 4096L, minBuckets: Int = 16): Unit = {
    val ix = index(s, root, targetRowsPerBucket, minBuckets)
    if (ix.exists) return
    ix.append(benchHashesOf(benchDocs).localCheckpoint())
    ix.compact()
  }

  /** One micro-batch: gram the arriving docs → probe the index PRUNED
    * to the batch's own buckets → exact-hash semi-join → append the
    * contaminated (doc_id, lang) verdicts. The gram frame is
    * checkpointed once: the probe's touched-bucket derivation and the
    * semi-join are two consumers of the same tokenize+hash pass. */
  def processBatch(
      batch: DataFrame, batchId: Long,
      resDir: String, root: String,
      targetRowsPerBucket: Long = 4096L, minBuckets: Int = 16): Unit = {
    val bs = batch.sparkSession
    val ix = index(bs, root, targetRowsPerBucket, minBuckets)
    val grams = gramsOf(batch).localCheckpoint()
    val flagged = ix.probe(grams.select(col("h"))).rows match {
      case Some(hits) =>
        grams.join(hits.select("h"), Seq("h"), "left_semi")
          .select(col("doc_id"), col("lang")).distinct()
      case None => grams.select(col("doc_id"), col("lang")).limit(0)
    }
    flagged.write.mode("append").parquet(resDir)
  }
}
