package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Num.oround

/** The q54 streaming near-duplicate micro-batch step, factored out of
  * the `foreachBatch` closure so q54 and q54b execute the IDENTICAL
  * code. Semantics and the two-tier layering are documented at the
  * q54 site (`graft.queries.Core`); this object owns only the state
  * layout: both accumulated indexes live in [[BucketedIndex]]
  * generations, so each batch's probes read ONLY the buckets the
  * batch's own keys hash into (plan-asserted in PlanAssertionsSpec)
  * and the per-batch small-file appends fold into one re-bucketed
  * generation under [[BucketedIndex.maybeCompact]]'s size-ratio
  * trigger.
  */
private[graft] object NearDup {

  private val exactSchema = StructType.fromDDL(
    "h STRING, rep_id LONG, rep_dup LONG, rep_jac DOUBLE")
  private val bandSchema = StructType.fromDDL(
    "doc_id LONG, sh ARRAY<STRING>, bk STRING")

  /** The stream's band-bucket overload guard. DELIBERATELY distinct
    * from d02's [[graft.queries.DedupQueries.PairBlockCap]] (64): that
    * cap is part of d02's ORACLE TEXT (a HAVING bound both engines
    * apply), while q54's oracle is the UNCAPPED closure — this cap
    * exists only to bound farm mass, so it is sized by the measured
    * separation between adversarial template farms (bucket membership
    * 479/960/1,998 at 500/1k/2k perturbed copies) and GENUINE near-dup
    * families (tens; the largest real family bucket seen on any staged estate
    * is 76, at sf1 — which a 64 cap wrongly dropped, the one row of
    * divergence in an sf1 sweep). 256 keeps every measured genuine family and
    * still kills every measured farm; a >256 genuine family would be dropped
    * WITH a census row — surfaced, never silent. */
  val StreamBandCap = 256

  /** One micro-batch: exact-class collapse, LSH over first-seen class
    * representatives against the pruned accumulated index, verdict
    * append + index append, size-triggered compaction. Writes are
    * append-only and the readers duplicate-immune (min-aggregates /
    * final distinct), so a replayed batch is harmless — the q46
    * idempotence contract met by algebra. */
  def processBatch(
      batch: DataFrame, batchId: Long,
      resDir: String, bandRoot: String, exactRoot: String,
      targetRowsPerBucket: Long = 4096L, minBuckets: Int = 16,
      forceCompact: Boolean = false): Unit = {
    val bs = batch.sparkSession
    val exactIdx = new BucketedIndex(
      bs, exactRoot, "h", exactSchema, targetRowsPerBucket, minBuckets)
    val bandIdx = new BucketedIndex(
      bs, bandRoot, "bk", bandSchema, targetRowsPerBucket, minBuckets)
    // ---- EXACT tier first (the measured scale guard: 2,000 template
    // copies took the single-tier band join from 7.5 s to 377 s at
    // sf0.1 — |copies|² pairs per band; collapsing each text-hash
    // class to its min-id representative removes the quadratic without
    // changing the answer — proof at the q54 site). Docs with fewer
    // than 2 tokens skip BOTH tiers (no shingles, so the oracle's pair
    // chain never sees them either). Checkpointed: the probe's
    // touched-bucket collect adds a second consumer.
    val withH = batch
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), col("text"),
        md5(col("text").cast("binary")).as("h"))
      .localCheckpoint()
    val exIdx = exactIdx.probe(withH.select(col("h"))).rows.getOrElse(
      bs.createDataFrame(
        bs.sparkContext.emptyRDD[org.apache.spark.sql.Row], exactSchema))
    val looked = withH.join(exIdx, Seq("h"), "left_outer")
    // copies of an ALREADY-INDEXED class inherit the rep's verdict
    val oldCopies = looked.filter(col("rep_id").isNotNull)
      .select(col("doc_id"),
        coalesce(col("rep_dup"), col("rep_id")).as("dup_of"),
        coalesce(col("rep_jac"), lit(1.0)).as("jaccard"))
    // first-seen classes: min-id member is the rep; only reps LSH
    val fresh = looked.filter(col("rep_id").isNull)
      .select(col("doc_id"), col("text"), col("h"))
    val reps = fresh.groupBy("h").agg(min("doc_id").as("rep_id"))
    // disjoint column names, not df("col") refs: reps derives from
    // fresh, and the ambiguous-self-join detector (correctly) rejects
    // cross-lineage attribute references
    val repDocs = fresh
      .join(reps.select(col("rep_id").as("__rid")),
        col("doc_id") === col("__rid"))
      .select("doc_id", "text")
    // ---- NEAR tier, representatives only
    val bands = graft.queries.DedupQueries.keyedBandsOf(repDocs)
      .select("doc_id", "sh", "bk")
      .localCheckpoint()
    val bandProbe = bandIdx.probe(bands.select(col("bk")))
    val rhs0 = bandProbe.rows match {
      case Some(hist) => bands.unionByName(hist.select("doc_id", "sh", "bk"))
      case None       => bands
    }
    // THE CAPPED STREAMING POLICY: the exact tier collapses BYTE-EQUAL
    // copies, but a template farm with per-copy PERTURBATIONS defeats
    // it — every copy is its own exact class, all 2,000 reps share most
    // band keys, and the in-batch join explodes |copies|² pairs a stream
    // cannot df-cap after the fact (quadratic in the farm size; capped,
    // the same batches run flat). So the d02 discipline rides the probe
    // union: band keys whose membership (batch reps + accumulated
    // index) exceeds [[StreamBandCap]] are EXCLUDED from pair
    // enumeration, and the drop is SURFACED (a census row appended to
    // `<resDir>_capcensus` whenever anything drops — never silent).
    // NearDupCapSpec pins both sides of the cap.
    // EXACTNESS TRADEOFF, stated plainly: a capped-out key contributes
    // no pairs THIS batch, so a genuine near-dup hiding inside hot
    // template mass is missed by the near tier (it still collapses via
    // the exact tier when byte-equal); on hot-free estates the cap never
    // fires and the streamed answer still equals the uncapped batch
    // oracle — q54's contract, green at all three SFs with the cap
    // active. rhs is checkpointed: the census sizes aggregate and the
    // pair join are two consumers of the probe union.
    val ck = rhs0.localCheckpoint()
    // countDistinct, not count(*): during the compaction crash window
    // BOTH index generations are visible until the next fold, so a raw
    // row count double-counts every member and could push a genuine
    // family past the cap — the census must be duplicate-immune like
    // the pair algebra it guards.
    val sizes = ck.groupBy("bk").agg(countDistinct("doc_id").as("bn"))
      .localCheckpoint()
    val hot = sizes.filter(col("bn") > StreamBandCap)
      .agg(count(lit(1)).as("hot_keys"), max("bn").as("max_bucket"),
        sum(col("bn") * (col("bn") - 1)).as("dropped_pair_bound2x"))
      .head()
    if (hot.getLong(0) > 0)
      bs.range(1).select(
        lit(batchId).as("batch_id"),
        lit(hot.getLong(0)).as("hot_keys"),
        lit(hot.getLong(1)).as("max_bucket"),
        lit(hot.getLong(2) / 2).as("dropped_pair_bound"))
        .write.mode("append").parquet(resDir + "_capcensus")
    val rhs = ck.join(sizes.filter(col("bn") <= StreamBandCap).select("bk"), "bk")
    val lsh = bands
      .select(col("bk"), col("doc_id").as("new_id"), col("sh").as("shn"))
      .join(rhs.select(
        col("bk"), col("doc_id").as("dup_of"), col("sh").as("shh")), "bk")
      .filter(col("dup_of") < col("new_id"))
      .select(col("new_id"), col("dup_of"),
        graft.functions.TextFns.jaccard(col("shn"), col("shh")).as("jac"))
      .filter(col("jac") >= 0.8)
      .groupBy("new_id")
      .agg(min(struct(col("dup_of"), col("jac"))).as("m"))
      .select(col("new_id").as("rep_id"), col("m.dup_of").as("rep_dup"),
        oround(col("m.jac"), 3).as("rep_jac"))
    // ONE checkpoint serves the three repRes consumers (newCopies,
    // repHits, the exact-index append) — without it the LSH join
    // subtree executes three times
    val repRes = reps.join(lsh, Seq("rep_id"), "left_outer")
      .localCheckpoint()
    // in-batch copies of a fresh class inherit their rep's verdict
    val newCopies = fresh.join(repRes, Seq("h"))
      .filter(col("doc_id") =!= col("rep_id"))
      .select(col("doc_id"),
        coalesce(col("rep_dup"), col("rep_id")).as("dup_of"),
        coalesce(col("rep_jac"), lit(1.0)).as("jaccard"))
    val repHits = repRes.filter(col("rep_dup").isNotNull)
      .select(col("rep_id").as("doc_id"), col("rep_dup").as("dup_of"),
        col("rep_jac").as("jaccard"))
    oldCopies.unionByName(newCopies).unionByName(repHits)
      .write.mode("append").parquet(resDir)
    bandIdx.append(bands, bandProbe.keyRows)
    exactIdx.append(repRes.select("h", "rep_id", "rep_dup", "rep_jac"))
    // forceCompact = the q60b determinism knob applied here (q54b):
    // fold after EVERY batch so each epoch's bucket width P is a pure
    // function of row counts — the production LSM policy exercised
    // mid-stream under the oracle (P is pure layout for this consumer,
    // so unlike AnnStream's SRP width the oracle text is unchanged).
    // INCREMENTAL fold: fold-every-batch × whole-base rewrite costs
    // O(stream²/batch) bytes; the banded keys here are fold-invariant
    // (identity rewrite), so each batch folds only its own delta and the
    // big base merges on the geometric ratio — results unchanged (see
    // BucketedIndex.foldIncremental).
    if (forceCompact) {
      bandIdx.foldIncremental(); exactIdx.foldIncremental()
    } else {
      bandIdx.maybeCompact(); exactIdx.maybeCompact()
    }
  }
}
