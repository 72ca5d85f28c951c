package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.Num.oround
import graft.functions.TextFns
import graft.functions.VectorFns

/** Deduplication family — the flagship LLM-data-pipeline operators over
  * the `documents` / `embeddings` tables: exact dedup lives in Core (q18);
  * here are fingerprint blocking, MinHash+LSH, SimHash, n-gram Jaccard and
  * embedding-cosine near-dup.
  *
  * Scale design (the whole point of these shapes at 100 TB):
  *  - signatures / fingerprints / buckets are per-row narrow work
  *    (higher-order array functions, no UDFs, no shuffle);
  *  - candidate generation is a shuffle JOIN ON A BLOCKING KEY
  *    (fingerprint, LSH band hash, SRP bucket) — never an all-pairs cross
  *    join. The candidate count is |bucket|², bounded by band width, not
  *    corpus²;
  *  - exact verification (Jaccard / cosine) runs only on candidates.
  *
  * The corpus vocabulary is ~31 words (driver synthetic data), so word
  * BIGRAMS are the discriminating shingle: random-pair bigram Jaccard is
  * ~0.03 while the planted near-dup pairs sit at ≥0.9 (measured at
  * sf0.01). 5-gram shingles would make every doc unique — nothing to find.
  */
object DedupQueries {

  private val N = 2 // bigram shingles (see vocabulary note above)

  /** The block document-frequency cap [[capBlocks]] applies for every
    * pair-enumerating blocked query (d02/d07/d18 LSH buckets, d04/d11
    * fingerprint blocks, d08/m10 bands): blocks larger than this never
    * enter pair enumeration (see d11's scaladoc for the full rationale).
    * Public so the property specs pin the same bound the queries apply. */
  val PairBlockCap = 64

  /** Tokens staged as a materialized projection column — every downstream
    * lambda then reads the attribute instead of re-running `split` per
    * iteration (TextFns performance contract). */
  private def tokenized(s: SparkSession, d: String): DataFrame =
    graft.Tables.rebalance(s, documents(s, d))
      .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("toks"))

  /** Distinct bigram shingle set per doc (docs shorter than N dropped —
    * the reference's drop-not-null discipline,
    * `/root/reference/src/bluetooth/scanner.rs:36-45`). */
  private def shingled(s: SparkSession, d: String): DataFrame =
    tokenized(s, d)
      .filter(size(col("toks")) >= N)
      .select(col("doc_id"), TextFns.shinglesOf(col("toks"), N).as("sh"))

  /** D1 — fingerprint blocking: group by the min-md5-over-bigrams
    * fingerprint; clusters of size >1 are near-dup candidates. One
    * map-side-combined shuffle on the fingerprint. */
  private def d01(s: SparkSession, d: String): DataFrame =
    tokenized(s, d)
      .select(col("doc_id"), TextFns.fingerprintOf(col("toks"), col("text"), N).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
      .filter(col("n") > 1)
      .orderBy("fp")

  /** Fixed universal-hash parameters for the 8-component permutation
    * MinHash (shared verbatim by the DuckDB oracle below). `a*h + b` with
    * h < 2^28 and a ≈ 2^20 stays far under 2^63 — DuckDB BIGINT overflow
    * throws, so headroom is correctness, not style. */
  private val MhA = Seq(1000003L, 1000033L, 1000037L, 1000039L,
    1000081L, 1000099L, 1000117L, 1000121L)
  private val MhB = Seq(12345L, 54321L, 98765L, 13579L,
    24680L, 11111L, 77777L, 31415L)
  private val MhP = 1000000007L

  /** The 8 MinHash signature components over a staged `hs` hash-array
    * column, and the 4 two-row band keys over the resulting mh0..mh7 —
    * the ONE definition d02 and d07 both band with (the two variants
    * claim oracle-identity; a constant edited on only one side would
    * silently de-sync them until the other's oracle run failed). */
  private def minhashCols: Seq[Column] = (0 until 8).map(i =>
    TextFns.minhashPerm(col("hs"), MhA(i), MhB(i), MhP).as(s"mh$i"))
  private[graft] def bandKeyCols: Seq[Column] = (0 until 4).map(b =>
    concat_ws(":", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")))

  /** D2 — MinHash + LSH banding: ONE md5 pass per shingle set, then 8
    * integer-permutation signature components (min of `(a*h+b) mod p`),
    * 4 bands of 2 rows; docs sharing a band key are candidates; candidates
    * are verified with exact Jaccard ≥ 0.8.
    *
    * Plan shape — one scan, two shuffles, one tiny equi-join (the bucket
    * cap): signature = narrow per-row work; bands = 4× row explosion
    * CARRYING the shingle array; candidate generation + verification
    * happen inside the (band, key) bucket — group members into a sorted
    * list, emit ordered pairs, score exact Jaccard inline, keep
    * survivors. LSH bounds bucket sizes for NEAR-dup density only —
    * exact-dup mass defeats it: every copy of a template page carries an
    * identical MinHash signature, so all copies share every band key and
    * one bucket row holds |hot|×|shingles| payload before exploding
    * |hot|² pairs, ×4 bands. Hence the same [[PairBlockCap]] df-cap d04/d11
    * apply to fingerprint blocks rides the (band, bh) bucket here, BEFORE the
    * collect; dropped mass is surfaced via the `d02_bucket_census` observe
    * and the DuckDB oracle applies the identical HAVING bound. A capped-out
    * bucket is exact-dup/template mass — d01/d12's signal, not a near-dup
    * pair listing's; cluster formation over that mass is
    * [[lshComponentEdges]]'s job, which needs no cap. The earlier
    * join-back-by-doc_id shape recomputed the tokenize→shingle subtree three
    * times across six AQE stages plus two broadcasts — measured 10 s against
    * ~2 s for this shape at sf0.1, same output. At 100 TB the carried arrays
    * widen the bucket shuffle 4×; if that dominates, persist the shingle
    * table and join back instead — the band/bucket skeleton is unchanged
    * ([[d07]], the same pipeline in that shape, claims the same oracle).
    * A pair sharing several bands is scored once per band and collapsed by
    * the final distinct — duplicate scores of the same pair are identical,
    * so distinct-after-verify is exact. */
  private def d02(s: SparkSession, d: String): DataFrame =
    lshVerifiedPairs(s, d)
      .select(col("da"), col("db"), oround(col("jac"), 3).as("jaccard"))
      .distinct()
      .orderBy("da", "db")

  /** D2's verified near-dup pair stream: (da < db, exact Jaccard ≥ 0.8),
    * repeated when a pair collides in several bands (consumers
    * distinct/aggregate), with the (band, bh) buckets df-capped at
    * [[PairBlockCap]] ([[capBlocks]] discipline — the signature table is
    * checkpointed first so the bucket census and the capped join read
    * one materialization). */
  private[graft] def lshVerifiedPairs(s: SparkSession, d: String): DataFrame = {
    // band key = the two component values, delimited — no hashing
    // needed, the pair of longs IS the identity the band compares on
    val bands = sigWithSh(s, d).localCheckpoint().select(
      col("doc_id"), col("sh"),
      posexplode(array(bandKeyCols: _*)).as(Seq("band", "bh")))
    pairsFromShBuckets(capBlocks(bands, Seq("band", "bh"), "d02_bucket_census"))
  }

  /** Bucket-local pair emission + exact-Jaccard verification over a
    * (doc_id, sh, band, bh) band-exploded frame — the shared tail of
    * [[lshVerifiedPairs]] (capped, corpus docs) and
    * [[lshComponentEdges]] (uncapped, exact-dup class representatives).
    * Emits (ids, |a∩b|, |a|, |b|) per pair — the intersection is computed
    * ONCE inside the lambda and only 5 scalars leave it (materializing
    * the two shingle arrays per pair would blow the row up |bucket|²×);
    * the Jaccard ratio is derived from the scalars in the projection. */
  private[graft] def pairsFromShBuckets(bands: DataFrame): DataFrame =
    pairsScoredFromShBuckets(bands).filter(col("jac") >= 0.8)

  /** [[pairsFromShBuckets]] WITHOUT the verification threshold — every
    * bucket-cohabiting pair with its exact Jaccard (d18's banding curve
    * needs the CANDIDATE stream; d02/d06 consume the filtered form). */
  private def pairsScoredFromShBuckets(bands: DataFrame): DataFrame =
    bands
      .groupBy("band", "bh")
      .agg(sort_array(collect_list(struct(col("doc_id").as("id"), col("sh").as("sh"))))
        .as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(
          slice(col("ms"), i + lit(2), greatest(size(col("ms")) - i - 1, lit(0))),
          y => struct(x.getField("id").as("da"), y.getField("id").as("db"),
            size(array_intersect(x.getField("sh"), y.getField("sh"))).as("ni"),
            size(x.getField("sh")).as("na"),
            size(y.getField("sh")).as("nb")))))).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"),
        (col("p.ni").cast("double") / (col("p.na") + col("p.nb") - col("p.ni"))).as("jac"))

  /** The near-dup EDGE SET for cluster formation (d06/d14/p14) — the
    * all-pairs verified-edge graph's connected components, computed
    * WITHOUT ever enumerating the quadratic exact-dup pair mass, and
    * with NO cap semantics: docs are first collapsed into exact-dup
    * classes (identical sorted shingle set ⇒ identical hs ⇒ identical
    * MinHash signature ⇒ identical EVERY band key), each class
    * contributes linear STAR edges (member ↔ class min — Jaccard 1.0
    * within a class, no verification needed), and the LSH
    * band/bucket/verify pipeline runs over one REPRESENTATIVE per class.
    *
    * This is exactly equivalent to components over the all-pairs stream
    * ([[lshVerifiedPairs]] without its bucket cap), because both band collision and
    * Jaccard are functions of the shingle SET alone: for same-class docs
    * x, y and any doc z, the edge (x, z) exists in the all-pairs graph
    * iff (y, z) does, so the all-pairs graph is the union of intra-class
    * cliques and complete bipartite graphs between adjacent classes —
    * same components as stars + one rep edge per adjacent class pair.
    * The oracle therefore replays the plain all-pairs closure, and the
    * CompHotMass spec executes the equivalence on a hot corpus. After
    * collapse the rep buckets hold only DISTINCT shingle sets, so bucket
    * sizes are bounded by genuine near-dup density — the load LSH banding
    * is actually designed for; a residual near-identical template farm
    * (hot mass with per-copy perturbations) would still need d02's cap,
    * at the cost of exactness. */
  private[graft] def lshComponentEdges(s: SparkSession, d: String): DataFrame = {
    // class key = md5 over the sorted shingle array, NOT the array
    // itself: grouping by the array would shuffle every doc's full
    // shingle payload as the comparison key; the 16-byte hash shuffles
    // instead, and the array rides as an agg VALUE (first() — all
    // members carry the identical array), collapsing map-side per
    // class. Injectivity: each shingle maps to its fixed-width 32-hex
    // md5 block first, so the concatenation decomposes uniquely no
    // matter what bytes the tokens contain (a delimiter-based concat is
    // NOT injective when a token can contain the delimiter); a residual
    // md5 collision across distinct sets is the usual 2^-128 non-event
    // every fingerprint in this file accepts.
    val grouped = shingled(s, d)
      .select(col("doc_id"), sort_array(col("sh")).as("sh"))
      .select(col("doc_id"), col("sh"),
        md5(concat_ws("", transform(col("sh"), x => md5(x.cast("binary"))))
          .cast("binary")).as("ck"))
      .groupBy("ck")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"),
        first(col("sh")).as("sh"))
      .localCheckpoint() // star edges + rep pipeline read one materialization
    val star = grouped
      .filter(size(col("ids")) > 1)
      .select(col("ids").getItem(0).as("src"),
        explode(slice(col("ids"), lit(2), size(col("ids")))).as("dst"))
    val reps = grouped.select(col("ids").getItem(0).as("doc_id"), col("sh"))
    val sig = reps.select(col("doc_id"), col("sh"),
      TextFns.shingleHashes(col("sh")).as("hs"))
      .select(col("doc_id") +: col("sh") +: minhashCols: _*)
    val repPairs = pairsFromShBuckets(
      sig.select(col("doc_id"), col("sh"),
        posexplode(array(bandKeyCols: _*)).as(Seq("band", "bh"))))
      .select(col("da").as("src"), col("db").as("dst"))
      .distinct()
    star.union(repPairs)
  }

  /** D7 — the SAME MinHash+LSH dedup as d02 in its at-scale JOIN-BACK
    * shape, the escape hatch for a corpus whose carried shingle arrays
    * dominate d02's band shuffle. The shingle table is persisted
    * once (localCheckpoint standing in for the parquet artifact an
    * indexing job would write); the 4× band explosion then carries ONLY
    * (doc_id, band key) — a few longs per row instead of the array —
    * candidate pairs are distinct'd BEFORE verification, and exactly the
    * surviving pairs join back to the shingle table (twice, keyed on
    * doc_id) for the exact-Jaccard check. Three shuffles + two joins vs
    * d02's two shuffles + zero joins, but the big one (bands) is narrow.
    * Measured at sf0.1: d02 = 1.6 s vs d07 = 3.4 s (the checkpoint
    * barrier + two extra joins dominate while the ~100-element arrays are
    * cheap to carry; the estates' bigram payloads average ~1.3 KB/doc and
    * peak at ~2.6 KB). A payload sweep on a synthetic corpus (planted
    * verifying pairs, local[32]) had carry ahead at 8.5 KB/doc (1.23 s vs
    * join-back 1.39 s) and 35 KB (1.76 vs 2.03) and join-back ahead only
    * at 146 KB (5.36 vs 4.16); on a cluster fabric the crossover moves
    * left, since join-back ships the payload ≤2× against carry's 4×.
    * Oracle-identical to d02 by construction (same
    * od02 text; SwitchSpec executes the equivalence on a 35 KB/doc
    * corpus). */
  private def d07(s: SparkSession, d: String): DataFrame = {
    val sh = shingled(s, d).localCheckpoint()
    val withHs = sh.select(col("doc_id"), TextFns.shingleHashes(col("sh")).as("hs"))
    // second (narrow — 9 longs/doc) checkpoint: the bucket census and the
    // capped join both derive bands from it, so the md5+permutation pass
    // runs once (the same compute-once rule as d02's sig checkpoint)
    val sig = withHs.select(col("doc_id") +: minhashCols: _*).localCheckpoint()
    val bands = sig.select(
      col("doc_id"), posexplode(array(bandKeyCols: _*)).as(Seq("band", "bh")))
    // the same PairBlockCap bucket bound as d02 (d07 claims oracle
    // identity with d02, so the two caps must move together)
    val pairs = capBlocks(bands, Seq("band", "bh"), "d07_bucket_census")
      .groupBy("band", "bh")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(
          slice(col("ids"), i + lit(2), greatest(size(col("ids")) - i - 1, lit(0))),
          y => struct(x.as("da"), y.as("db")))))).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"))
      .distinct()
    pairs
      .join(sh.select(col("doc_id").as("da"), col("sh").as("sha")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("sh").as("shb")), Seq("db"))
      .select(col("da"), col("db"),
        size(array_intersect(col("sha"), col("shb"))).as("ni"),
        size(col("sha")).as("na"), size(col("shb")).as("nb"))
      .select(col("da"), col("db"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni"))).as("jac"))
      .filter(col("jac") >= 0.8)
      .select(col("da"), col("db"), oround(col("jac"), 3).as("jaccard"))
      .orderBy("da", "db")
  }

  /** D6 — duplicate CLUSTERS from the near-dup pairs: connected
    * components over the verified edge graph ([[graft.ops
    * .ConnectedComponents]] min-label propagation), labeled by the
    * cluster's minimum doc_id — the representative a dedup pass would
    * keep. This is the step production dedup actually needs (pairs alone
    * under-delete: transitively-linked docs A–B–C must collapse to ONE
    * keeper, not two independent pair decisions). The edge feed is
    * [[lshComponentEdges]] — linear star edges over exact-dup classes +
    * verified pairs over class representatives, provably the same
    * components as the all-pairs stream with no hot-mass quadratics and
    * no cap semantics. Oracle: a recursive-CTE transitive closure over
    * the plain all-pairs edge set (the equivalence theorem lets the
    * oracle stay in the naive form). */
  private def d06(s: SparkSession, d: String): DataFrame =
    componentLabels(s, d)
      .groupBy("component")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("component")

  /** The near-dup component labeling d06/d14/p14 all read, built once
    * per (session, documents content) through [[graft.ops.Artifacts]]:
    * label propagation is the expensive part of all three queries, and
    * at deployment it is a one-time indexing job whose artifact
    * downstream queries read. The first of the three to run pays the
    * labeling; the others read the checkpoint. Probes that must time
    * the labeling itself call [[graft.ops.ConnectedComponents]]
    * directly. */
  private[graft] def componentLabels(s: SparkSession, d: String): DataFrame =
    graft.ops.Artifacts.frame(s, "component_labels", "1", d, Seq("documents.parquet"))(
      graft.ops.ConnectedComponents.run(lshComponentEdges(s, d)))

  /** d16's labeling, stored like [[componentLabels]], over the
    * EMBEDDING similarity graph — keyed on the embeddings table. */
  private[graft] def semanticLabels(s: SparkSession, d: String): DataFrame =
    graft.ops.Artifacts.frame(s, "semantic_labels", "1", d, Seq("embeddings.parquet"))(
      graft.ops.ConnectedComponents.run(
        cosineEdges(s, d).select(col("va").as("src"), col("vb").as("dst"))))

  /** D3 — SimHash: 16-bit signature over the token multiset. Each bit j is
    * the sign of Σ±1 over token-hashes' bit j (hash60 = first 60 bits of
    * md5). Docs sharing the exact signature form a cluster (Hamming-0
    * buckets; wider Hamming radii would probe bit-flipped buckets the same
    * way). Nested higher-order folds — zero UDFs, zero extra shuffles
    * beyond the final groupBy. */
  /** The (doc_id, 16-bit simhash) signature table for d03's
    * exact-signature groups (d08's banded Hamming search uses the
    * 60-bit [[simhashed60]] — wider signature so its band keys are
    * sparse; the two queries answer different questions and each pins
    * its own width). */
  private def simhashed(s: SparkSession, d: String): DataFrame =
    tokenized(s, d)
      .select(col("doc_id"), transform(col("toks"), w => TextFns.hash60(w)).as("hs"))
      .select(col("doc_id"), TextFns.simhash16(col("hs")).as("simhash"))

  private def d03(s: SparkSession, d: String): DataFrame =
    simhashed(s, d)
      .groupBy("simhash")
      .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
      .filter(col("n") > 1)
      .orderBy("simhash")

  /** D4 — n-gram Jaccard top-k: exact bigram Jaccard, but only within
    * fingerprint blocks (same blocking key as D1) — the all-pairs
    * comparison never happens. Top-20 most similar pairs.
    *
    * Same bucket-local shape as D2 (one scan, one shuffle): group
    * members by fingerprint, emit ordered pairs from the sorted list,
    * score inline; top-20 via TakeOrderedAndProject. The earlier
    * self-join-on-fp computed the tokenize→shingle subtree twice (lambda
    * exprIds defeat exchange reuse, so ReuseExchange never fires).
    *
    * BLOCK BOUND: same [[PairBlockCap]] df-cap as d11, applied before
    * the collect — d04's block row carries SHINGLE ARRAYS per member,
    * so a hot template fingerprint is even more dangerous here than in
    * d11 (the one-row payload is |block|×|shingles| before the |block|²
    * pair explosion even starts). A capped-out template block's
    * duplication is d01/d12's exact-dup signal, not a Jaccard ranking's;
    * dropped mass is surfaced via the `d04_block_census` observe and the
    * DuckDB oracle applies the identical HAVING bound. */
  private def d04(s: SparkSession, d: String): DataFrame =
    d04Pairs(s, d)
      .orderBy(col("jaccard").desc, col("da"), col("db"))
      .limit(20)

  /** d04's capped pair stage ([[capBlocks]] discipline).
    *
    * HASHED-SHINGLE PAYLOAD (the d13 discipline applied here): the per-member
    * shingle sets that ride the groupBy(fp) exchange and sit in the
    * collect_list build are `xxhash64` LONGS ([[TextFns.hashedShinglesOf]]),
    * not rebuilt `concat_ws` strings — 8 bytes per shingle instead of a
    * ~25-byte UTF8String object, no per-gram string allocation, and the
    * in-lambda `array_intersect` compares words instead of strings. d04's
    * sf100 cold-single was GC-bound at zero spill (α band 1.01–1.28 with 2.4×
    * run-to-run variance, ~30 GB peak-exec): the per-stage ARRAY payload was
    * the heap pressure, exactly as in d13 before its hashed-shingle rewrite.
    * Jaccard over hashed shingles equals Jaccard over string shingles modulo
    * xxhash64 collisions (the same vanishing exposure p04/g04/d13 already
    * accept and [[TextFns.hashedShinglesOf]] quantifies); the od04 oracle is
    * unchanged. */
  private def d04Pairs(s: SparkSession, d: String): DataFrame =
    capBlocks(
      tokenized(s, d)
        .filter(size(col("toks")) >= N)
        .select(
          col("doc_id"),
          TextFns.fingerprintOf(col("toks"), col("text"), N).as("fp"),
          TextFns.hashedShinglesOf(col("toks"), N).as("sh"))
        // compute-once, mirroring d11Pairs: the census count and the
        // capped equi-join both read this projection, and without the
        // barrier the tokenize→fingerprint→shingle subtree runs twice
        // (measured +0.9 s at sf0.1)
        .localCheckpoint(),
      Seq("fp"), "d04_block_census")
      .groupBy("fp")
      .agg(sort_array(collect_list(struct(col("doc_id").as("id"), col("sh").as("sh"))))
        .as("ms"))
      .filter(size(col("ms")) > 1)
      // same 5-scalar pair emission as D2: intersect once in-lambda,
      // ratio outside — fingerprint blocks run to hundreds of members on
      // this corpus, so a block row explodes to |block|² pairs and must
      // not carry array payloads per pair
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(
          slice(col("ms"), i + lit(2), greatest(size(col("ms")) - i - 1, lit(0))),
          y => struct(x.getField("id").as("da"), y.getField("id").as("db"),
            size(array_intersect(x.getField("sh"), y.getField("sh"))).as("ni"),
            size(x.getField("sh")).as("na"),
            size(y.getField("sh")).as("nb")))))).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"),
        oround(col("p.ni").cast("double") / (col("p.na") + col("p.nb") - col("p.ni")), 3)
          .as("jaccard"))

  /** Blocking-key width for [[cosineEdges]] — the shared
    * [[VectorFns.adaptiveSrpBits]] corpus-size rule (one definition with
    * the persisted SRP index, so the ad-hoc near-dup key and the at-rest
    * partitioning can never disagree about width policy). */
  private[queries] def adaptiveSrpBits(n: Long): Int =
    VectorFns.adaptiveSrpBits(n)

  /** The cosine near-dup EDGE SET shared by d05 and the graph family
    * ([[GraphQueries]] g02 counts triangles over exactly these edges):
    * sign-projection bucket ([[adaptiveSrpBits]]-wide — the corpus
    * count is parquet-footer metadata, not a data scan) as the blocking
    * key, exact cosine within buckets, oriented va < vb. One definition
    * so the similarity graph and the near-dup report can never
    * disagree. */
  private[graft] def cosineEdges(
      s: SparkSession, d: String, tau: Double = 0.3): DataFrame = {
    val bits = adaptiveSrpBits(graft.sources.VectorIndex.corpusCount(s, d))
    val e = graft.Tables.rebalance(s, embeddings(s, d)).select(
      col("vec_id"),
      VectorFns.toDouble(col("embedding")).as("e"))
    val b = e.select(
      col("vec_id"), col("e"),
      VectorFns.norm(col("e")).as("nrm"),
      VectorFns.srpBucket(col("e"), bits).as("bucket"))
    b.as("a")
      .join(b.as("b"), col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        (VectorFns.dot(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** D5 — embedding-cosine near-dup: the shared [[cosineEdges]] bucket
    * join (never N² — the SRP bucket replaces the cross join, and
    * [[adaptiveSrpBits]] widens the key with the corpus so the expected
    * bucket never exceeds ~64; multi-probe buys recall back at scale),
    * projected to the rounded report shape. */
  private def d05(s: SparkSession, d: String): DataFrame =
    cosineEdges(s, d)
      .select(col("va"), col("vb"), oround(col("cos"), 4).as("cos_sim"))
      .orderBy("va", "vb")

  // ------------------------------------------------------------------
  // DuckDB oracles (same shingle/signature/bucket constructions — md5 is
  // the cross-engine-identical hash; folds are sequential in both).
  // ------------------------------------------------------------------

  private val od01 =
    """WITH t AS (SELECT doc_id, text, string_split(text,' ') toks FROM documents),
      |s AS (SELECT doc_id, CASE WHEN len(toks) >= 2
      |  THEN list_min(list_transform(generate_series(1, len(toks)-1), i -> md5(toks[i] || ' ' || toks[i+1])))
      |  ELSE md5(text) END fp FROM t)
      |SELECT fp, count(*) AS n, min(doc_id) AS keeper FROM s GROUP BY fp
      |HAVING count(*) > 1 ORDER BY fp""".stripMargin

  private val mhList = (0 until 8)
    .map(i => s"list_min(list_transform(hs, h -> (${MhA(i)}*h + ${MhB(i)}) % $MhP))")
    .mkString(",\n      |   ")

  /** The shingle→hash→8-component-signature CTE chain shared by every
    * MinHash oracle (od02/od06/... via [[lshPairCtes]], and od18) —
    * yields CTEs `s(doc_id, sh)` and `sig(doc_id, mh)`. */
  private def sigCtes: String =
    s"""t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-1), i -> toks[i]||' '||toks[i+1])) sh
      |      FROM t WHERE len(toks) >= 2),
      |hsed AS (SELECT doc_id, sh, list_transform(sh, x -> ('0x'||substr(md5(x),1,7))::BIGINT) hs FROM s),
      |sig AS (SELECT doc_id, [$mhList] mh FROM hsed)""".stripMargin

  /** The shared oracle CTE chain producing the scored candidate pairs —
    * interpolated into od02 AND od06/od14/op14 so the oracles can never
    * verify against different edge sets (mirrors the Scala side's shared
    * [[lshVerifiedPairs]]). Yields CTE `j(da, db, jac)`. `cap` mirrors
    * [[capBlocks]]'s (band, bh) bucket bound: `Some(PairBlockCap)` for
    * the pair-LISTING oracles (od02 — d02 and d07 both claim it), `None`
    * for the component oracles, whose Scala side ([[lshComponentEdges]])
    * is exactly-equivalent to the UNCAPPED closure and needs no bound. */
  private[queries] def lshPairCtes(cap: Option[Int]): String = {
    val bk = cap match {
      case Some(c) =>
        s"""bsz AS (SELECT b, bh FROM bands GROUP BY b, bh HAVING count(*) BETWEEN 2 AND $c),
          |bk AS (SELECT bands.* FROM bands JOIN bsz USING (b, bh)),
          |""".stripMargin
      case None => "bk AS (SELECT * FROM bands),\n"
    }
    s"""$sigCtes,
      |bands AS (SELECT doc_id, b, mh[2*b-1]::VARCHAR || ':' || mh[2*b]::VARCHAR bh
      |          FROM sig, (SELECT unnest(generate_series(1,4)) b)),
      |${bk}cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bk a JOIN bk b
      |         ON a.b=b.b AND a.bh=b.bh AND a.doc_id<b.doc_id),
      |j AS (SELECT da, db, len(list_intersect(sa.sh,sb.sh))::DOUBLE/(len(sa.sh)+len(sb.sh)-len(list_intersect(sa.sh,sb.sh))) jac
      |      FROM cand JOIN s sa ON cand.da = sa.doc_id JOIN s sb ON cand.db = sb.doc_id)""".stripMargin
  }

  private val od02 =
    s"""WITH ${lshPairCtes(Some(PairBlockCap))}
      |SELECT da, db, ROUND(jac, 3) AS jaccard FROM j WHERE jac >= 0.8 ORDER BY da, db""".stripMargin

  private val od03 =
    """WITH t AS (SELECT doc_id, list_transform(string_split(text,' '), w -> ('0x'||substr(md5(w),1,15))::BIGINT) hs FROM documents),
      |sh AS (SELECT doc_id, list_sum(list_transform(generate_series(0,15), j ->
      |   CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
      |   THEN (1::BIGINT << j) ELSE 0 END))::BIGINT simhash FROM t)
      |SELECT simhash, count(*) AS n, min(doc_id) AS keeper FROM sh GROUP BY 1
      |HAVING count(*) > 1 ORDER BY simhash""".stripMargin

  private val od04 =
    """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |s AS (SELECT doc_id,
      |    list_min(list_transform(generate_series(1, len(toks)-1), i -> md5(toks[i]||' '||toks[i+1]))) fp,
      |    list_distinct(list_transform(generate_series(1, len(toks)-1), i -> toks[i]||' '||toks[i+1])) sh
      |  FROM t WHERE len(toks) >= 2),
      |bs AS (SELECT fp FROM s GROUP BY fp HAVING count(*) BETWEEN 2 AND 64),
      |sk AS (SELECT s.* FROM s JOIN bs USING (fp))
      |SELECT a.doc_id AS da, b.doc_id AS db,
      |  ROUND(len(list_intersect(a.sh,b.sh))::DOUBLE/(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))), 3) AS jaccard
      |FROM sk a JOIN sk b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |ORDER BY jaccard DESC, da, db LIMIT 20""".stripMargin

  /** The oracle twin of [[cosineEdges]] — yields CTE `ce(va, vb, cos)`
    * with cos ≥ 0.3 and va < vb. Interpolated into BOTH od05 and
    * GraphQueries' og02 so the two oracles share one edge definition. */
  private[queries] def cosineEdgeCtes(tau: Double = 0.3): String =
    s"""ab AS (SELECT coalesce(min(k), 16) AS bits FROM generate_series(4,16) t(k)
      |      WHERE (SELECT count(*) FROM embeddings) <= 64 * (1::BIGINT << k)),
      |n AS (SELECT vec_id, list_transform(embedding, x->x::DOUBLE) e FROM embeddings),
      |b AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x->x*x))) nrm,
      |  substr(array_to_string(list_transform(list_slice(e, 1, 16),
      |    x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), ''), 1, (SELECT bits FROM ab)) bucket FROM n),
      |ce AS (SELECT va, vb, cos FROM (
      |  SELECT a.vec_id va, b2.vec_id vb,
      |    list_sum(list_transform(list_zip(a.e, b2.e), x -> x[1]*x[2]))/(a.nrm*b2.nrm) cos
      |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
      |  WHERE cos >= $tau)""".stripMargin

  private val od05 =
    s"""WITH ${cosineEdgeCtes()}
      |SELECT va, vb, ROUND(cos, 4) AS cos_sim FROM ce ORDER BY va, vb""".stripMargin

  private val od06 =
    s"""WITH RECURSIVE
      |${lshPairCtes(None)},
      |ej AS (SELECT da, db FROM j WHERE jac >= 0.8),
      |und AS (SELECT da a, db b FROM ej UNION SELECT db, da FROM ej),
      |reach(a, b) AS (
      |  SELECT a, b FROM und
      |  UNION
      |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a WHERE u.b <> r.a
      |),
      |lbl AS (SELECT a AS v, LEAST(a, min(b)) AS component FROM reach GROUP BY a)
      |SELECT component, count(*) + 1 AS n_docs
      |FROM (SELECT v, component FROM lbl WHERE v <> component)
      |GROUP BY component ORDER BY component""".stripMargin

  /** D8 — SimHash near-dup at Hamming distance ≤ 3 via banded
    * multi-index blocking (Manku et al., WWW '07 — the canonical
    * web-scale simhash scheme): split the signature into blocks such
    * that any pair within Hamming 3 must agree EXACTLY on some block
    * combination (pigeonhole) — candidates are an equi-join on the
    * combination key, never all-pairs, and the Hamming verify runs only
    * inside buckets. d03 groups identical signatures; this finds the
    * neighborhood around them (hd 1–3).
    *
    * KEYSPACE IS THE SCALE BOUND, re-widened TWICE by measurement:
    * first 16→60 signature bits (4 bands × 15 bits); a band census then
    * caught THAT design saturating at the second decade — at sf10 (500 k
    * docs) 127,474 of the 131,072 possible (band, value) keys were occupied,
    * p99 bucket 123 vs the 64-cap, 73% of candidate pair mass dropped, and
    * the sf100 mean bucket (≈153) would exceed the cap everywhere. Now the
    * 60-bit signature splits into 5 blocks × 12 bits and the key is a PAIR of
    * blocks (Manku's block-combination table): hd ≤ 3 flips at most 3 blocks,
    * so ≥ 2 of 5 blocks agree, so the pair collides in at least one of the
    * C(5,2) = 10 tables. 10 × 2²⁴ keys ≈ 168 M — a 24-bit agreement between
    * random docs is ~6·10⁻⁸, so buckets stay sparse through sf100 and beyond
    * (post-rewiden census: sf10 p99 bucket = 9 — FLAT across sf0.1/sf1/sf10 —
    * and total candidate mass 9.9 M vs the old design's 60.7 M, with the
    * dropped fraction down from 73% to 23%). Cost: 10 band rows per doc
    * instead of 4 — two longs each, linear, and the self-join they feed
    * shrinks 6× by the same sparsity. Exact-dup template mass still defeats
    * any banding — every copy carries the identical signature — so the same
    * [[PairBlockCap]] df-cap as d02/d04/d11 rides the packed `bk` bucket as
    * belt-and-braces ([[D08BandCapSpec]] pins it; a capped-out bucket is
    * d01/d03's exact-dup signal, and its hd-0 pairs were never d08 output
    * anyway). Dropped mass is surfaced via `d08_band_census`; the DuckDB
    * oracle applies the identical blocking and HAVING bound. */
  private def d08(s: SparkSession, d: String): DataFrame =
    d08Pairs(s, d)
      .orderBy("hamming", "da", "db")
      .limit(50)

  /** d08's banded + capped signature stage, split out so census readers
    * (the cap spec) can observe `d08_band_census` on the stage it rides
    * — [[d08Pairs]] checkpoints this frame, which cuts the
    * CollectMetrics out of the final query's lineage. */
  private[graft] def d08Banded(s: SparkSession, d: String): DataFrame = {
    // localCheckpoint: the census and the cap join would otherwise each
    // recompute the tokenize→hash60→simhash fold (lambda exprIds defeat
    // ReuseExchange — the d04/d07 lesson); the checkpointed table is two
    // longs per doc
    //
    // bk packs (table, block_i, block_j) into ONE long — (i·5+j) << 24 |
    // block_i << 12 | block_j (i·5+j is injective for i<j≤4) — so the
    // cap join and the band self-join both key on a single 8-byte
    // column (the g04 packed-key lesson: one long halves shuffle hash
    // work vs a multi-column key).
    val combos = array((for { i <- 0 to 4; j <- i + 1 to 4 } yield
      struct(
        lit((i * 5 + j).toLong << 24).as("t"),
        lit(12 * i).as("si"), lit(12 * j).as("sj"))): _*)
    val k = simhashed60(s, d).localCheckpoint()
      .select(col("doc_id"), col("simhash"), explode(combos).as("c"))
      .select(col("doc_id"), col("simhash"),
        col("c.t")
          .bitwiseOR(call_function("shiftright", col("simhash"), col("c.si"))
            .bitwiseAND(lit(4095L)) * lit(4096L))
          .bitwiseOR(call_function("shiftright", col("simhash"), col("c.sj"))
            .bitwiseAND(lit(4095L)))
          .as("bk"))
    // capBlocks' using-join reorders columns (join keys first) — pin the
    // order by NAME before the positional rename in d08Pairs, or da/sa
    // silently bind to the band key (caught by the sf0.01 oracle)
    capBlocks(k, Seq("bk"), "d08_band_census")
      .select("doc_id", "simhash", "bk")
  }

  /** d08's capped pair stage ([[capBlocks]] discipline). */
  private def d08Pairs(s: SparkSession, d: String): DataFrame = {
    // second (narrow — 4 longs/row) checkpoint: BOTH self-join sides
    // read the capped band table from one materialization; without it
    // the census agg + cap equi-join execute once per side (seen as
    // three joins in a plan audit)
    val capped = d08Banded(s, d).localCheckpoint()
    val a = capped.toDF("da", "sa", "ka")
    val b = capped.toDF("db", "sb", "kb")
    a.join(b, col("ka") === col("kb") && col("da") < col("db"))
      .select(col("da"), col("db"), col("sa"), col("sb"))
      .distinct() // a pair sharing several bands must count once
      .select(col("da"), col("db"),
        call_function("bit_count", col("sa").bitwiseXOR(col("sb")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 3 && col("hamming") > 0)
  }

  /** The ONE (doc_id, 60-bit simhash) signature table for d08 — same
    * compute-once discipline as [[simhashed]] (d03's 16-bit twin). */
  private def simhashed60(s: SparkSession, d: String): DataFrame =
    tokenized(s, d)
      .select(col("doc_id"), transform(col("toks"), w => TextFns.hash60(w)).as("hs"))
      .select(col("doc_id"), TextFns.simhashW(col("hs"), 60).as("simhash"))

  private val od08 =
    """WITH t AS (SELECT doc_id, list_transform(string_split(text,' '), w -> ('0x'||substr(md5(w),1,15))::BIGINT) hs FROM documents),
      |sh AS (SELECT doc_id, list_sum(list_transform(generate_series(0,59), j ->
      |   CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
      |   THEN (1::BIGINT << j) ELSE 0 END))::BIGINT simhash FROM t),
      |k AS (SELECT doc_id, simhash,
      |        (((i*5+j)::BIGINT << 24) | (((simhash >> (12*i)) & 4095) << 12) | ((simhash >> (12*j)) & 4095)) AS bk
      |      FROM sh, (SELECT i, j FROM (SELECT unnest(generate_series(0,4)) i), (SELECT unnest(generate_series(0,4)) j) WHERE i < j)),
      |kc AS (SELECT bk FROM k GROUP BY bk HAVING count(*) BETWEEN 2 AND 64),
      |kf AS (SELECT k.* FROM k JOIN kc USING (bk)),
      |pairs AS (SELECT DISTINCT a.doc_id da, b.doc_id db, a.simhash sa, b.simhash sb
      |  FROM kf a JOIN kf b ON a.bk = b.bk AND a.doc_id < b.doc_id),
      |ham AS (SELECT da, db, bit_count(xor(sa, sb)) hd FROM pairs)
      |SELECT da, db, hd::BIGINT AS hamming FROM ham WHERE hd <= 3 AND hd > 0
      |ORDER BY hd, da, db LIMIT 50""".stripMargin

  /** Single-column band key (band index prefixed onto d02/d07's
    * [[bandKeyCols]] value) per (doc, band) — the join-key form the
    * persisted signature index is bucketed on. */
  private def keyedBands(s: SparkSession, d: String): DataFrame =
    keyedBandsOf(graft.Tables.rebalance(s, documents(s, d)))

  /** [[keyedBands]] over an ARBITRARY (doc_id, text, …) frame — the
    * form q54's streaming foreachBatch feeds micro-batches through
    * (one signature definition for the at-rest index, the incremental
    * delta AND the stream; a constant edited anywhere re-syncs
    * everywhere). private[graft]: Core's streaming family and
    * [[graft.streaming.NearDup]]'s micro-batch step use it. */
  private[graft] def keyedBandsOf(docs: DataFrame): DataFrame = {
    val sig = docs
      .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= N)
      .select(col("doc_id"), TextFns.shinglesOf(col("toks"), N).as("sh"))
      .select(col("doc_id"), col("sh"), TextFns.shingleHashes(col("sh")).as("hs"))
    sig.select(col("doc_id") +: col("sh") +: minhashCols: _*)
      .select(col("doc_id"), col("sh"),
        posexplode(array(bandKeyCols: _*)).as(Seq("band", "bh")))
      .select(col("doc_id"), col("sh"),
        concat_ws(":", col("band"), col("bh")).as("bk"))
  }

  /** The staged (doc_id, sh, mh0..mh7) signature table — hs staged
    * before the permutations and the mh columns staged before any band
    * key reads them (the lambda-CSE staging discipline) — the ONE copy
    * d02/d06 ([[lshVerifiedPairs]]) and d09 ([[keyedBands]]) derive
    * from. d07 deliberately re-stages its own narrow variant (no `sh`
    * carried) off its checkpointed shingle table. */
  private[graft] def sigWithSh(s: SparkSession, d: String): DataFrame = {
    val withHs = shingled(s, d)
      .select(col("doc_id"), col("sh"), TextFns.shingleHashes(col("sh")).as("hs"))
    withHs.select(col("doc_id") +: col("sh") +: minhashCols: _*)
  }

  /** D9 — INCREMENTAL dedup: a delta batch (doc_id ≡ 4 mod 5, ~20% —
    * standing in for "today's crawl") deduplicated against the PERSISTED
    * signature index of the history corpus, without ever rescanning
    * history text. This is the shape that makes dedup sustainable at
    * 100 TB: the history index — (band key, doc_id, shingle set), built
    * once by an indexing job ([[graft.ops.Artifacts.bucketed]],
    * bucketed+sorted by band key) — is the only thing the daily job
    * touches besides the delta itself. The join shuffles ONLY the
    * delta's band rows (the index side reads pre-bucketed, plan-asserted
    * exchange-free); Jaccard verification happens on the joined row
    * (the index carries the shingle set precisely so verification needs
    * no second lookup); a pair matching in several bands is collapsed by
    * the pair-level max — identical scores, so the collapse is exact. */
  private def d09(s: SparkSession, d: String): DataFrame = {
    val idxT = graft.ops.Artifacts.bucketed(
        s, "lsh_sig", "1", d, Seq("documents.parquet"), "bk", 8)(
      keyedBands(s, d).filter(col("doc_id") % 5 =!= 4))
    val idx = s.table(idxT)
      .select(col("bk"), col("doc_id").as("dup_of"), col("sh").as("shh"))
    keyedBands(s, d).filter(col("doc_id") % 5 === 4)
      .select(col("bk"), col("doc_id").as("new_id"), col("sh").as("shn"))
      .join(idx, Seq("bk"))
      .select(col("new_id"), col("dup_of"),
        TextFns.jaccard(col("shn"), col("shh")).as("jac"))
      .filter(col("jac") >= 0.8)
      .groupBy("new_id", "dup_of")
      .agg(max(col("jac")).as("jac"))
      .select(col("new_id"), col("dup_of"), oround(col("jac"), 3).as("jaccard"))
      .orderBy("new_id", "dup_of")
  }

  private val od09 =
    s"""WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-1), i -> toks[i]||' '||toks[i+1])) sh
      |      FROM t WHERE len(toks) >= 2),
      |hsed AS (SELECT doc_id, sh, list_transform(sh, x -> ('0x'||substr(md5(x),1,7))::BIGINT) hs FROM s),
      |sig AS (SELECT doc_id, [$mhList] mh FROM hsed),
      |bands AS (SELECT doc_id, b, mh[2*b-1]::VARCHAR || ':' || mh[2*b]::VARCHAR bh
      |          FROM sig, (SELECT unnest(generate_series(1,4)) b)),
      |cand AS (SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS dup_of
      |         FROM bands n JOIN bands h ON n.b = h.b AND n.bh = h.bh
      |         WHERE n.doc_id % 5 = 4 AND h.doc_id % 5 <> 4),
      |j AS (SELECT new_id, dup_of,
      |        len(list_intersect(sa.sh, sb.sh))::DOUBLE
      |          / (len(sa.sh)+len(sb.sh)-len(list_intersect(sa.sh, sb.sh))) jac
      |      FROM cand JOIN s sa ON cand.new_id = sa.doc_id JOIN s sb ON cand.dup_of = sb.doc_id)
      |SELECT new_id, dup_of, ROUND(jac, 3) AS jaccard FROM j WHERE jac >= 0.8
      |ORDER BY new_id, dup_of""".stripMargin

  /** q58 (STREAMING incremental dedup)'s oracle — [[od09]]'s
    * delta-vs-history pair chain EXTENDED with the one clause
    * continuous ingest adds: an EARLIER-INGESTED delta doc
    * (`dup_of < new_id` — under id-ordered batching, earlier batch ⇒
    * smaller id, and within a batch the strict order both de-dups the
    * pair listing and excludes self-pairs) also qualifies as a
    * partner. Built on the same [[sigCtes]] chain as every MinHash
    * oracle, so the signature definition can never drift between the
    * batch and streaming spellings. private[queries]: Core's q58 pairs
    * it with the replayed stream. */
  private[queries] val oIncDedupStream: String =
    s"""WITH $sigCtes,
      |bands AS (SELECT doc_id, b, mh[2*b-1]::VARCHAR || ':' || mh[2*b]::VARCHAR bh
      |          FROM sig, (SELECT unnest(generate_series(1,4)) b)),
      |cand AS (SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS dup_of
      |         FROM bands n JOIN bands h ON n.b = h.b AND n.bh = h.bh
      |         WHERE n.doc_id % 5 = 4
      |           AND (h.doc_id % 5 <> 4 OR h.doc_id < n.doc_id)),
      |j AS (SELECT new_id, dup_of,
      |        len(list_intersect(sa.sh, sb.sh))::DOUBLE
      |          / (len(sa.sh)+len(sb.sh)-len(list_intersect(sa.sh, sb.sh))) jac
      |      FROM cand JOIN s sa ON cand.new_id = sa.doc_id JOIN s sb ON cand.dup_of = sb.doc_id)
      |SELECT new_id, dup_of, ROUND(jac, 3) AS jaccard FROM j WHERE jac >= 0.8
      |ORDER BY new_id, dup_of""".stripMargin

  /** D10 — MinHash ESTIMATOR calibration: for every band-collision
    * candidate pair, the signature-agreement estimate (matching
    * components / 8) next to the exact Jaccard and the absolute error —
    * the measured reason d02 VERIFIES candidates exactly instead of
    * trusting the estimate (8 components put ~0.2 mean absolute error
    * on low-similarity collisions; a production 128-component signature
    * shrinks it ∝ 1/√k, same plan). The audit discipline v09/v11/v15
    * apply to ANN, applied to the dedup estimator.
    *
    * Shape: d02's carry pipeline — (sh, mh[8]) ride the band explosion
    * once and pairs are emitted and scored INSIDE the bucket (both the
    * estimate and the exact Jaccard from the struct fields — only 6
    * scalars leave the lambda), zero joins. Its hand-written join-back
    * form, both verification joins shuffling the full (sh, mh0..7)
    * signature, was once the bench's slowest query (6.3 s at sf0.1).
    * Multi-band collisions carry identical scores, so the distinct is
    * exact. The buckets are UNCAPPED like the candidate set itself (od10
    * has no HAVING bound — d10 audits every collision): hot exact-dup
    * MASS would fatten a bucket row here, which is a measured hazard the
    * calibration audit accepts by contract (it runs before, not inside,
    * the production pipeline). */
  private def d10(s: SparkSession, d: String): DataFrame =
    // THE shared signature + banding definitions (sigWithSh /
    // bandKeyCols) — d10 must calibrate exactly the candidate-pair set
    // d02 verifies, so it derives from the same single copy
    sigWithSh(s, d).localCheckpoint()
      .select(
        col("doc_id"), col("sh"),
        array((0 until 8).map(i => col(s"mh$i")): _*).as("mh"),
        posexplode(array(bandKeyCols: _*)).as(Seq("band", "bh")))
      .groupBy("band", "bh")
      .agg(sort_array(collect_list(struct(
        col("doc_id").as("id"), col("sh").as("sh"), col("mh").as("mh"))))
        .as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(
          slice(col("ms"), i + lit(2), greatest(size(col("ms")) - i - 1, lit(0))),
          y => struct(
            x.getField("id").as("da"), y.getField("id").as("db"),
            size(array_intersect(x.getField("sh"), y.getField("sh"))).as("ni"),
            size(x.getField("sh")).as("na"),
            size(y.getField("sh")).as("nb"),
            aggregate(
              zip_with(x.getField("mh"), y.getField("mh"),
                (a, b) => when(a === b, 1).otherwise(0)),
              lit(0), (acc, v) => acc + v).as("nm")))))).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"),
        (col("p.nm").cast("double") / 8.0).as("est"),
        (col("p.ni").cast("double")
          / (col("p.na") + col("p.nb") - col("p.ni"))).as("jac"))
      .distinct()
      .select(col("da"), col("db"),
        oround(col("est"), 3).as("mh_estimate"),
        oround(col("jac"), 3).as("jaccard"),
        oround(abs(col("est") - col("jac")), 3).as("abs_err"))
      .orderBy("da", "db")

  private val od10 =
    s"""WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-1), i -> toks[i]||' '||toks[i+1])) sh
      |      FROM t WHERE len(toks) >= 2),
      |hsed AS (SELECT doc_id, sh, list_transform(sh, x -> ('0x'||substr(md5(x),1,7))::BIGINT) hs FROM s),
      |sig AS (SELECT doc_id, sh, [$mhList] mh FROM hsed),
      |bands AS (SELECT doc_id, b, mh[2*b-1]::VARCHAR || ':' || mh[2*b]::VARCHAR bh
      |          FROM sig, (SELECT unnest(generate_series(1,4)) b)),
      |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bands a JOIN bands b
      |         ON a.b=b.b AND a.bh=b.bh AND a.doc_id<b.doc_id),
      |j AS (SELECT da, db,
      |    list_sum(list_transform(list_zip(sa.mh, sb.mh), p -> CASE WHEN p[1]=p[2] THEN 1 ELSE 0 END))/8.0 est,
      |    len(list_intersect(sa.sh,sb.sh))::DOUBLE/(len(sa.sh)+len(sb.sh)-len(list_intersect(sa.sh,sb.sh))) jac
      |  FROM cand JOIN sig sa ON cand.da=sa.doc_id JOIN sig sb ON cand.db=sb.doc_id)
      |SELECT da, db, ROUND(est,3) AS mh_estimate, ROUND(jac,3) AS jaccard,
      |  ROUND(abs(est-jac),3) AS abs_err
      |FROM j ORDER BY da, db""".stripMargin

  /** D11 — blocked EDIT-DISTANCE near-dup: exact Levenshtein, but only
    * within d01's fingerprint blocks (the same blocking key, so the
    * all-pairs O(n²·len²) comparison never happens), keeping pairs with
    * distance ≤ 150 and their normalized similarity. Character-level
    * edit distance is the dedup signal shingle Jaccard misses:
    * insertions that shift every downstream k-gram (the "same doc, one
    * sentence injected" near-dup) still score close here.
    *
    * BLOCK BOUND (the d13 df≤20 discipline applied here): a fingerprint
    * block participates in pair enumeration only when its document
    * frequency is 2…[[PairBlockCap]]. Without the cap, one hot
    * fingerprint — a boilerplate template page owning a large corpus
    * fraction — makes the collect_list row gigabytes and the pair
    * count quadratic in the corpus. The cap is applied BEFORE the
    * collect (a count agg + equi-join on the 16-byte fp), so the
    * oversized block's texts are never materialized into a single row;
    * pairs per block are ≤ B(B−1)/2 = 2016 and total pair volume stays
    * linear in corpus size no matter how skewed the fingerprints get.
    * Oversized blocks are exactly the template-farm mass whose
    * duplication is d12/d13's signal, not character-level edit
    * distance's. The dropped-block census rides the job as a named
    * observe (`d11_block_census`: docs dropped, max block size,
    * dropped-pair mass) — surfaced, not silent, like d13's df cap and
    * g04's ≤40-buyers cap. At sf0.1 the cap drops 23 of 206 blocks
    * (including the 275-doc hot block) and cuts candidate pairs
    * 315k → 22k; the DuckDB oracle applies the identical HAVING bound.
    *
    * Two stages, split where the COST lives (measured 217 s → ~7 s at
    * sf0.1):
    *
    *  1. candidate ENUMERATION, bucket-local as in d02/d04 — block
    *     members are grouped and the ordered pairs (ids + both texts)
    *     emitted from the sorted list. Cheap: array bookkeeping only.
    *  2. pair VERIFICATION — the bounded `levenshtein(l, r, threshold)`
    *     (O(threshold·len) with early abandon, −1 past the bound) runs
    *     AFTER a rebalance of the pair stream. The first cut computed
    *     it inside the per-block lambda, which serializes a whole
    *     block's O(m²) comparisons into the single task holding the
    *     grouped row — one 275-doc block = 37k comparisons on one
    *     core while 31 idle. Rebalancing first costs one shuffle of
    *     |candidate pairs| × 2 texts (bounded by the blocking, the
    *     standard candidates-then-verify shape) and buys even
    *     distribution of the term that actually dominates: the CPU of
    *     the distance function. Skewed block sizes stop mattering
    *     because the unit of distribution is the PAIR, not the block.
    *
    * The lazy localCheckpoint after verification is LOAD-BEARING: the
    * `lev >= 0` keep-filter references only pre-shuffle columns, so
    * PushDownPredicates happily moves it through the Repartition —
    * back into the skewed enumeration stage, where the whole distance
    * bill serializes per block again AND is paid twice (once filtering
    * pre-shuffle, once projecting post-shuffle): measured 90 s vs 5 s
    * at sf0.1. The lineage cut pins verification exactly where it is;
    * what it materializes is 4 scalars per candidate pair — tiny.
    *
    * (Parity note: DuckDB's levenshtein is byte-based, Spark's
    * is character-based — identical on this ASCII corpus; non-ASCII
    * corpora would need a byte-cast first.) */
  /** The block bound every pair-enumerating blocked query applies BEFORE
    * its collect_list / self-join: a count agg + equi-join on the block
    * key keeps an oversized block's payloads from ever materializing into
    * one row, and the dropped mass rides the job as a named observe
    * (surfaced, not silent — the d13 df≤20 / g04 ≤40-buyers discipline).
    * `keys` is the blocking key — the 16-byte fingerprint for d04/d11,
    * the (band, bh) LSH bucket for d02/d07. Callers
    * checkpoint `base`'s lineage first: the size agg and the equi-join
    * both read it, and lambda exprIds defeat ReuseExchange (an unpinned
    * base pays its projection twice, measured on d04). */
  // private[queries]: m10's perceptual-hash banding rides the same
  // df-cap + census discipline
  private[queries] def capBlocks(
      base: DataFrame, keys: Seq[String], censusName: String): DataFrame = {
    val sizes = base.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bn"))
    base
      .join(sizes, keys)
      .observe(
        censusName,
        sum(when(col("bn") > PairBlockCap, 1L).otherwise(0L)).as("docs_in_dropped_blocks"),
        max(col("bn")).as("max_block_size"),
        sum(when(col("bn") > PairBlockCap, (col("bn") - 1) / 2.0).otherwise(0.0))
          .as("dropped_pair_mass"))
      .filter(col("bn").between(2, PairBlockCap))
      .drop("bn")
  }

  /** d11's stage 1 — fingerprint, cap, pair-enumerate — split out so the
    * plan spec can assert the cap join's shape (the barrier in [[d11]]
    * hides this lineage from the final QueryExecution). */
  private[graft] def d11Pairs(s: SparkSession, d: String): DataFrame = {
    val base = tokenized(s, d)
      .select(
        col("doc_id"),
        TextFns.fingerprintOf(col("toks"), col("text"), N).as("fp"),
        col("text"))
      .localCheckpoint() // compute-once: block census + capped join read it
    capBlocks(base, Seq("fp"), "d11_block_census")
      .groupBy("fp")
      .agg(sort_array(collect_list(struct(col("doc_id").as("id"), col("text").as("tx"))))
        .as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(
          slice(col("ms"), i + lit(2), greatest(size(col("ms")) - i - 1, lit(0))),
          y => struct(
            x.getField("id").as("da"), y.getField("id").as("db"),
            x.getField("tx").as("ta"), y.getField("tx").as("tb"))))))
        .as("p"))
      .select(col("p.*"))
  }

  private def d11(s: SparkSession, d: String): DataFrame = {
    val K = 150
    rebalance(s, d11Pairs(s, d))
      .select(
        col("da"), col("db"),
        levenshtein(col("ta"), col("tb"), K).as("lev"),
        greatest(length(col("ta")), length(col("tb"))).as("mx"))
      .localCheckpoint(false) // barrier — see scaladoc, 90 s vs 5 s
      .filter(col("lev") >= 0)
      .select(
        col("da"), col("db"),
        col("lev").cast("long").as("edit_dist"),
        oround(lit(1.0) - col("lev") / col("mx"), 4).as("sim"))
      .orderBy("da", "db")
  }

  private val od11 =
    """WITH t AS (SELECT doc_id, text, string_split(text,' ') toks FROM documents),
      |s AS (SELECT doc_id, text, CASE WHEN len(toks) >= 2
      |  THEN list_min(list_transform(generate_series(1, len(toks)-1), i -> md5(toks[i] || ' ' || toks[i+1])))
      |  ELSE md5(text) END fp FROM t),
      |bs AS (SELECT fp FROM s GROUP BY fp HAVING count(*) BETWEEN 2 AND 64),
      |sk AS (SELECT s.* FROM s JOIN bs USING (fp)),
      |pairs AS (
      |  SELECT a.doc_id da, b.doc_id db,
      |    levenshtein(a.text, b.text) AS lev,
      |    greatest(len(a.text), len(b.text)) AS mx
      |  FROM sk a JOIN sk b ON a.fp = b.fp AND a.doc_id < b.doc_id)
      |SELECT da, db, lev::BIGINT AS edit_dist, ROUND(1.0 - lev / mx, 4) AS sim
      |FROM pairs WHERE lev <= 150 ORDER BY da, db""".stripMargin

  /** D12 — SEGMENT-level exact dedup (the paragraph-dedup shape): each
    * doc chunks into non-overlapping 10-word segments, and a segment is
    * boilerplate when it recurs in ≥2 DISTINCT documents (intra-doc
    * repetition is t08's signal, not this one). Reported per source as
    * a duplicate-segment ratio — the "which crawl sources are template
    * farms" curation view; the drop step is the same plan minus the
    * rollup (filter nd<2 and reassemble with array_join/collect_list).
    *
    * Shape: one corpus pass chunks and hashes (md5 per segment, so the
    * wide text never shuffles — only 16-byte keys do), localCheckpoint
    * pins the segment table (the d04/d07/d08 lesson: lambda exprIds
    * defeat exchange reuse, an unpinned self-reference re-chunks the
    * corpus), then ONE map-side-combined count per segment hash and ONE
    * shuffle join back — both keyed on the hash, both unbounded tables,
    * so neither side is broadcast-hinted (the t06/t07 rule; AQE may
    * still pick broadcast at small SF). At 100 TB: segments ≈ 10× doc
    * count in rows but each row is 24 bytes, and the join is
    * hash-partitioned on both sides — shuffle-bounded, never all-pairs. */
  private def d12(s: SparkSession, d: String): DataFrame = {
    // Column `/` is double division — cast back for sequence()'s int bound
    val segsCol = transform(
      sequence(lit(0), ((size(col("w")) - 1) / 10).cast("int")),
      i => md5(array_join(slice(col("w"), i * 10 + 1, lit(10)), " ")))
    val seg = rebalance(s, documents(s, d))
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), explode(segsCol).as("h"))
      .localCheckpoint()
    val g = seg.groupBy("h").agg(countDistinct("doc_id").as("nd"))
    seg.join(g, "h")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_segments"),
        oround(
          sum(when(col("nd") >= 2, 1.0).otherwise(0.0)) / count(lit(1)), 4)
          .as("dup_ratio"))
      .orderBy("source")
  }

  private val od12 =
    """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
      |seg AS (SELECT doc_id, source,
      |    array_to_string(l[i*10+1 : i*10+10], ' ') AS seg
      |  FROM w, UNNEST(range(0, ((len(l)-1)//10)+1)) AS t(i)),
      |g AS (SELECT seg, count(DISTINCT doc_id) AS nd FROM seg GROUP BY 1)
      |SELECT source, count(*) AS n_segments,
      |  sum(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_segments,
      |  ROUND(sum(CASE WHEN g.nd >= 2 THEN 1.0 ELSE 0.0 END) / count(*), 4) AS dup_ratio
      |FROM seg JOIN g USING (seg)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** D13 — CONTAINMENT detection via a rare-shingle inverted index.
    * Jaccard (d02/d04) misses subset duplicates — a short doc quoted
    * whole inside a long one scores low symmetric similarity but
    * containment |A∩B|/min(|A|,|B|) ≈ 1. Blocking here is the inverted
    * index itself: trigram shingles with document frequency ≤ 20 (the
    * p04 rare-k-gram discipline); the df cap bounds fan-out at
    * df·(df−1)/2 pairs per shingle — pair volume stays linear in the
    * posting-list mass no matter how the corpus grows.
    *
    * PLAN SHAPE (rewritten after a stage-level profile, payload-shrunk again
    * after the sf100 receipt — α band 1.03–1.29, and the width-32 twin was
    * KILLED at >45 GB of spill, `bench/r16_sf100_groupBC.json`): the shingle
    * stream crosses ONE exchange (`repartition`), the df census is a window
    * over the co-located key (no second exchange), and pair emission builds
    * actual POSTING LISTS — `collect_list` per multi-doc rare shingle,
    * bounded ≤ 20 by the df filter (never an uncapped collect — the hot-key
    * rule), then a combinations lambda explodes the C(df,2) sorted pairs.
    *
    * The payload shrink applies the g04/p04 packed-key discipline to
    * everything that crosses the exchange or parks in the checkpoint:
    *
    *  - the shingle key is `xxhash64` over the token slice
    *    ([[TextFns.hashedShinglesOf]]) — 16-byte (doc_id, hash) rows
    *    cross the one exchange instead of ~45-byte string rows, and
    *    the per-partition window sort runs over longs (at sf100 /
    *    policy width ≈ 245 that is ~65 MB of sort data per partition —
    *    in-memory territory; the string shape externally sorted and
    *    was killed at sf100);
    *  - the localCheckpoint keeps only the df ≥ 2 SLIVER (duplicated
    *    shingles — a few % of the stream; most shingles are unique),
    *    not the near-full df ≤ 20 stream the old shape parked. The
    *    per-doc rare-shingle size `n` is recovered WITHOUT the big
    *    checkpoint as ntot − nhot: ntot = |distinct shingles| is a
    *    narrow `size()` over the already-staged token arrays (no
    *    explode, no shuffle), and nhot counts the doc's df > 20
    *    incidences — read from the same sliver checkpoint.
    *
    * Same pair set, same ni, same n, same oracle (identity is hashed;
    * distinct trigrams stay distinct modulo xxhash64 collisions —
    * the exposure g04/p04 already accept). */
  private def d13(s: SparkSession, d: String): DataFrame = {
    val hsh = TextFns.hashedShinglesOf(col("toks"), 3)
    val base = tokenized(s, d).filter(size(col("toks")) >= 3)
    val sh = base.select(col("doc_id"), explode(hsh).as("shh"))
    val nTotal = base.select(col("doc_id"), size(hsh).cast("long").as("ntot"))
    val multi = sh.repartition(col("shh"))
      .withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("shh"))
          .cast("int"))
      .filter(col("df") >= 2)
      .localCheckpoint() // the duplicated-shingle sliver; two consumers
    val nHot = multi.filter(col("df") > 20)
      .groupBy("doc_id").agg(count(lit(1)).as("nhot"))
    val na = nTotal.join(nHot, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("ntot") - coalesce(col("nhot"), lit(0L))).as("n"))
    // per-doc shingle sets are distinct (hashedShinglesOf
    // array_distincts), so the sorted posting list has no repeats and
    // the combinations lambda emits each (da < db) pair exactly once
    val ds = col("ds")
    val comb = flatten(transform(ds, (a, i) =>
      transform(slice(ds, i + lit(2), size(ds)),
        b => struct(a.as("da"), b.as("db")))))
    multi.filter(col("df") <= 20)
      .groupBy("shh").agg(sort_array(collect_list("doc_id")).as("ds"))
      .select(explode(comb).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("ni"))
      .join(na.select(col("doc_id").as("da"), col("n").as("nda")), "da")
      .join(na.select(col("doc_id").as("db"), col("n").as("ndb")), "db")
      .select(
        col("da"), col("db"), col("ni"),
        oround(col("ni").cast("double") / least(col("nda"), col("ndb")), 3)
          .as("containment"))
      .orderBy(col("containment").desc, col("da"), col("db"))
      .limit(20)
  }

  private val od13 =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
      |s AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |        generate_series(1, len(toks) - 2),
      |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) sh
      |      FROM t WHERE len(toks) >= 3),
      |rs AS (SELECT s.doc_id, s.sh FROM s
      |       JOIN (SELECT sh FROM s GROUP BY sh HAVING count(*) <= 20) r USING (sh)),
      |na AS (SELECT doc_id, count(*) n FROM rs GROUP BY 1),
      |p AS (SELECT a.doc_id da, b.doc_id db, count(*) ni
      |      FROM rs a JOIN rs b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)
      |SELECT da, db, ni,
      |  ROUND(ni::DOUBLE / least(va.n, vb.n), 3) AS containment
      |FROM p JOIN na va ON p.da = va.doc_id JOIN na vb ON p.db = vb.doc_id
      |ORDER BY containment DESC, da, db LIMIT 20""".stripMargin

  /** D14 — RETENTION POLICY applied to the d06 clusters: production
    * dedup doesn't stop at clustering, it decides WHICH member
    * survives. Policy: keep the LONGEST member (`n_chars`; lower
    * doc_id breaks ties) — the standard web-corpus choice, since the
    * longest version of a near-dup family usually dominates its
    * siblings' content. The keeper is `max(struct(n_chars, -doc_id))`
    * — an associative, partial-aggregable argmax, so the shuffle
    * carries one struct per (component × partition) instead of the
    * row-per-member a window formulation would sort (the q49 lesson
    * applied to dedup). dropped_chars = cluster char mass minus the
    * keeper's: the training-token savings the policy realizes.
    * Components reuse the d06 ConnectedComponents run over the shared
    * [[lshComponentEdges]] feed; the oracle replays the recursive-CTE
    * closure over the equivalent all-pairs edge set, so d06/d14 can
    * never disagree on clusters. */
  private def d14(s: SparkSession, d: String): DataFrame =
    componentLabels(s, d)
      .join(documents(s, d).select(col("doc_id"), col("n_chars")),
        col("v") === col("doc_id"))
      .groupBy("component")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total"),
        max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("negid"))).as("k"))
      .select(
        col("component"),
        (-col("k.negid")).as("keeper"),
        col("n_docs"),
        (col("total") - col("k.nc")).as("dropped_chars"))
      .orderBy("component")

  private val od14 =
    s"""WITH RECURSIVE
      |${lshPairCtes(None)},
      |ej AS (SELECT da, db FROM j WHERE jac >= 0.8),
      |und AS (SELECT da a, db b FROM ej UNION SELECT db, da FROM ej),
      |reach(a, b) AS (
      |  SELECT a, b FROM und
      |  UNION
      |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a WHERE u.b <> r.a
      |),
      |lbl AS (SELECT a AS v, LEAST(a, min(b)) AS component FROM reach GROUP BY a),
      |m AS (SELECT l.v, l.component, d.n_chars
      |      FROM lbl l JOIN documents d ON l.v = d.doc_id),
      |r AS (SELECT component, v, n_chars,
      |        row_number() OVER (PARTITION BY component ORDER BY n_chars DESC, v) rn,
      |        count(*) OVER (PARTITION BY component) n_docs,
      |        sum(n_chars) OVER (PARTITION BY component) total
      |      FROM m)
      |SELECT component, v AS keeper, n_docs, (total - n_chars)::BIGINT AS dropped_chars
      |FROM r WHERE rn = 1 ORDER BY component""".stripMargin

  /** P14 — dedup YIELD per source: the corpus-accounting report a
    * curation pipeline publishes after applying d14's retention policy
    * — per source, how many docs are near-dup cluster members, how
    * many the keep-longest policy drops, and the surviving fraction.
    * Cluster membership (one ConnectedComponents run over the shared
    * [[lshComponentEdges]] feed, joined to doc metadata) is
    * localCheckpointed once and read twice — keeper election and the
    * per-source drop census (the d02 compute-once rule). Both
    * aggregates are member-bounded (|cluster members| ≪ |docs|); the
    * source totals join is a tiny |sources|-row left join. Lives in
    * the dedup file to share the edge-set definition: p-family report,
    * d-family machinery, one oracle CTE chain with d14. */
  private def p14(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("n_chars"), col("source"))
    val m = componentLabels(s, d)
      .join(docs, col("v") === col("doc_id"))
      .localCheckpoint()
    val k = m.groupBy("component")
      .agg(max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("negid"))).as("k"))
      .select(col("component"), (-col("k.negid")).as("keeper"))
    val drops = m.join(k, "component")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_dup_members"),
        sum(when(col("v") === col("keeper"), 0L).otherwise(1L)).as("n_dropped"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(drops, Seq("source"), "left")
      .select(
        col("source"), col("n_docs"),
        coalesce(col("n_dup_members"), lit(0L)).as("n_dup_members"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        oround(lit(1.0) - coalesce(col("n_dropped"), lit(0L)).cast("double") / col("n_docs"), 4)
          .as("pct_kept"))
      .orderBy("source")
  }

  private val op14 =
    s"""WITH RECURSIVE
      |${lshPairCtes(None)},
      |ej AS (SELECT da, db FROM j WHERE jac >= 0.8),
      |und AS (SELECT da a, db b FROM ej UNION SELECT db, da FROM ej),
      |reach(a, b) AS (
      |  SELECT a, b FROM und
      |  UNION
      |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a WHERE u.b <> r.a
      |),
      |lbl AS (SELECT a AS v, LEAST(a, min(b)) AS component FROM reach GROUP BY a),
      |m AS (SELECT l.v, l.component, d.n_chars, d.source
      |      FROM lbl l JOIN documents d ON l.v = d.doc_id),
      |r AS (SELECT component, v,
      |        row_number() OVER (PARTITION BY component ORDER BY n_chars DESC, v) rn
      |      FROM m),
      |drops AS (SELECT m.source, count(*) n_members,
      |            sum(CASE WHEN r.rn = 1 THEN 0 ELSE 1 END) n_dropped
      |          FROM m JOIN r ON m.component = r.component AND m.v = r.v
      |          GROUP BY 1),
      |tot AS (SELECT source, count(*) n_docs FROM documents GROUP BY 1)
      |SELECT t.source, t.n_docs,
      |  COALESCE(dr.n_members, 0)::BIGINT AS n_dup_members,
      |  COALESCE(dr.n_dropped, 0)::BIGINT AS n_dropped,
      |  ROUND(1.0 - COALESCE(dr.n_dropped, 0)::DOUBLE / t.n_docs, 4) AS pct_kept
      |FROM tot t LEFT JOIN drops dr USING (source) ORDER BY source""".stripMargin

  /** D20 — LEXICAL ⊗ SEMANTIC near-dup ENSEMBLE: d02's MinHash-LSH
    * verdict full-outer-joined with d05's embedding-cosine verdict over
    * the shared id domain (vec_id = doc_id, the v07 retrieval contract),
    * censused per agreement class. The question a curation run actually
    * asks before picking a dedup policy: how much dup mass is
    * SEMANTIC-ONLY (paraphrase/translation/boilerplate-rewrite — shingle
    * dedup structurally misses it), how much LEXICAL-ONLY (shared
    * n-grams without embedding-space proximity — template frames around
    * different content), and how much both methods agree on. Both pair
    * streams arrive bucketed-not-all-pairs (the band/bucket cap and the
    * SRP bucket join — this query ADDS no pair enumeration, only an
    * equi-join of two already-linear pair streams on the pair id), the
    * lexical side is restricted to ids carrying embeddings by two
    * semi-joins (at 100 TB the embedding coverage is the smaller
    * curated slice, so the restriction prunes, not grows), and the
    * output is one row per agreement class with mean scores. Oracle:
    * the SAME shared [[lshPairCtes]]/[[cosineEdgeCtes]] every other
    * dedup oracle interpolates — the ensemble can never census edge
    * sets the per-method oracles didn't verify. On the synthetic
    * estate the `both` class comes back EMPTY at every SF (the driver
    * generates embeddings independently of the texts, so the two
    * similarity spaces share no pairs) — which is the operator doing
    * its job: the agreement census is exactly how a run would DETECT
    * that its embedding space does not track lexical similarity. */
  private def d20(s: SparkSession, d: String): DataFrame = {
    val ids = embeddings(s, d).select(col("vec_id"))
    val lex = lshVerifiedPairs(s, d)
      .groupBy(col("da"), col("db")).agg(max(col("jac")).as("jac"))
      .join(ids, col("da") === col("vec_id"), "left_semi")
      .join(ids, col("db") === col("vec_id"), "left_semi")
    val sem = cosineEdges(s, d)
    lex.join(sem, col("da") === col("va") && col("db") === col("vb"), "full_outer")
      .select(
        when(col("jac").isNotNull && col("cos").isNotNull, "both")
          .when(col("jac").isNotNull, "lexical_only")
          .otherwise("semantic_only").as("verdict"),
        col("jac"), col("cos"))
      .groupBy("verdict")
      .agg(
        count(lit(1)).as("n_pairs"),
        oround(avg(col("jac")), 3).as("avg_jaccard"),
        oround(avg(col("cos")), 4).as("avg_cosine"))
      .orderBy("verdict")
  }

  private val od20 =
    s"""WITH ${lshPairCtes(Some(PairBlockCap))},
      |${cosineEdgeCtes()},
      |lex0 AS (SELECT da, db, max(jac) AS jac FROM j WHERE jac >= 0.8 GROUP BY da, db),
      |lex AS (SELECT lex0.* FROM lex0
      |  WHERE da IN (SELECT vec_id FROM embeddings)
      |    AND db IN (SELECT vec_id FROM embeddings)),
      |f AS (SELECT l.jac, c.cos FROM lex l FULL OUTER JOIN ce c
      |      ON l.da = c.va AND l.db = c.vb)
      |SELECT CASE WHEN jac IS NOT NULL AND cos IS NOT NULL THEN 'both'
      |            WHEN jac IS NOT NULL THEN 'lexical_only'
      |            ELSE 'semantic_only' END AS verdict,
      |  count(*) AS n_pairs,
      |  ROUND(avg(jac), 3) AS avg_jaccard,
      |  ROUND(avg(cos), 4) AS avg_cosine
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("d01_fingerprint_blocks", d01, Some(od01)),
    QueryDef("d02_minhash_lsh_pairs", d02, Some(od02)),
    QueryDef("d03_simhash_groups", d03, Some(od03)),
    QueryDef("d04_ngram_jaccard_topk", d04, Some(od04)),
    QueryDef("d05_embedding_near_dup", d05, Some(od05)),
    QueryDef("d06_dup_components", d06, Some(od06)),
    QueryDef("d07_lsh_joinback", d07, Some(od02)),
    QueryDef("d08_simhash_hamming", d08, Some(od08)),
    QueryDef("d09_incremental_dedup", d09, Some(od09)),
    QueryDef("d10_minhash_calibration", d10, Some(od10)),
    QueryDef("d11_edit_distance", d11, Some(od11)),
    QueryDef("d12_segment_dedup", d12, Some(od12)),
    QueryDef("d13_containment", d13, Some(od13)),
    QueryDef("d14_cluster_retention", d14, Some(od14)),
    QueryDef("p14_retention_yield", p14, Some(op14)),
    QueryDef("d15_source_overlap", d15, Some(od15)),
    QueryDef("d16_semantic_dedup", d16, Some(od16)),
    QueryDef("d17_semantic_decontam", d17, Some(od17)),
    QueryDef("d18_banding_curve", d18, Some(od18)),
    QueryDef("d19_substring_scrub", d19, Some(od19)),
    QueryDef("d20_dedup_ensemble", d20, Some(od20)))

  /** D19 — EXACT-SUBSTRING dedup with span REMOVAL (the Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better" shape):
    * find every duplicated run of ≥ 8 words at ANY offset and CUT it
    * from the text, keeping the corpus-first occurrence. This is the
    * operator between d12 and t20 that neither reaches: d12
    * (`:1013`) hashes fixed non-overlapping 10-word segments — a
    * duplicate straddling a segment boundary scores two partial
    * misses — and t20 scores first-occurrence novelty but never cuts.
    * Here the k-gram index is STRIDE-1, so a duplicated run is
    * detected wherever it starts.
    *
    * Dataflow (no pair enumeration ANYWHERE — the reason this scales
    * where a pair-based formulation would not):
    *  1. one corpus pass emits (doc_id, pos, md5-of-8-gram) — 16-byte
    *     hashes plus two ints; the text itself does NOT ride along
    *     (d12's only-hashes-shuffle discipline);
    *  2. one map-side-combined aggregate per hash: occurrence count +
    *     the corpus-first occurrence (min (doc_id, pos) struct — an
    *     associative argmin, so hot template grams collapse to one
    *     partial per task: a gram occurring 10⁶ times costs a count,
    *     never 10¹² pairs — the census observe surfaces that mass);
    *  3. join back on the hash: an occurrence is REDUNDANT iff its
    *     gram repeats and it is not the canonical first — exactly one
    *     copy of every duplicated run survives corpus-wide;
    *  4. redundant start positions fold to one sorted int array per
    *     doc (narrow), which joins back to the tokenized corpus BY
    *     doc_id — the single wide shuffle, and the span surgery is
    *     then per-row array arithmetic: covered = ∪[i, i+7] (merged
    *     islands via the sorted-gap count — q24's new-session trick in
    *     array form), kept = array_except(1..n, covered) (hash-based,
    *     O(n)), cleaned text reassembled by position.
    *
    * Emits per affected doc: token census (n_tokens / n_removed /
    * n_spans) + md5 of the cleaned text — the hash pins the exact
    * reconstruction while keeping the result narrow. The DuckDB oracle
    * re-derives spans independently through a window formulation
    * (row_number for canonical-first, a 7-PRECEDING rolling max for
    * coverage, lag transitions for span count, ordered string_agg for
    * the rebuilt text) — two independent span-merge implementations
    * agreeing on the md5 of every cleaned document. */
  /** d19's redundant-start derivation, factored so the corpus build
    * (p16) scrubs with the IDENTICAL definition: over an exploded
    * (doc_id, pos, h) k-gram frame, the per-doc sorted start positions
    * of every NON-CANONICAL occurrence (canonical = min (doc_id, pos)
    * per hash — count+argmin, never pair enumeration: a gram occurring
    * 10⁶ times costs one count, not 10¹² pairs). */
  private[queries] def scrubStarts(g: DataFrame): DataFrame = {
    val stats = g.groupBy("h").agg(
        count(lit(1)).as("nh"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .observe("d19_census",
        max(col("nh")).as("max_gram_df"),
        sum(when(col("nh") >= 2, col("nh") - 1).otherwise(0L))
          .as("n_redundant_occurrences"))
    g.join(stats, "h")
      .filter(col("nh") >= 2 &&
        !(col("doc_id") === col("first.doc_id") &&
          col("pos") === col("first.pos")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("rst"))
  }

  private def d19(s: SparkSession, d: String): DataFrame = {
    val k = 8
    // filter(size >= k), NOT a when()-guarded empty-array fallback: the
    // CASE wrapper around the gram lambda measured 10× slower at sf0.1
    // (2.9 s vs 0.3 s for the same explode; the conditional forces the
    // transform out of the Generate's fused evaluation). Docs shorter than k
    // have no grams and can never carry a redundant start, so the filter is
    // also the exact semantics. localCheckpoint: BOTH the per-hash aggregate
    // and the join-back probe side read g — unpinned, the lambda exprIds
    // defeat exchange reuse (the d04/d07/d08 lesson) and the tokenize→md5
    // subtree ran twice, with the gram lambdas additionally duplicated into
    // the scan's pushed data filter.
    val g = tokenized(s, d)
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(TextFns.kgramHashes(col("toks"), k)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
      .localCheckpoint()
    val rstarts = scrubStarts(g)
    val n = size(col("toks"))
    val cov = array_sort(array_distinct(flatten(
      transform(col("rst"), i => sequence(i, least(i + (k - 1), n))))))
    tokenized(s, d).select(col("doc_id"), col("toks"))
      .join(rstarts, Seq("doc_id"))
      .select(col("doc_id"), col("toks"), cov.as("cov"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        size(filter(col("cov"), (x, i) =>
          when(i === 0, lit(true))
            .otherwise(x =!= element_at(col("cov"), i) + 1)))
          .cast("long").as("n_spans"),
        md5(array_join(
          transform(
            array_except(sequence(lit(1), size(col("toks"))), col("cov")),
            p => element_at(col("toks"), p)), " ").cast("binary"))
          .as("clean_hash"))
      .orderBy("doc_id")
  }

  // lazy: declared below the defs list that captures it (the d15 lesson)
  private lazy val od19 =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
      |g AS (SELECT doc_id, i AS pos,
      |    md5(toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '
      |      ||toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7]) h
      |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) i)
      |  WHERE len(toks) >= 8),
      |rd AS (SELECT doc_id, pos,
      |    count(*) OVER (PARTITION BY h) >= 2
      |      AND row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) > 1
      |      AS red
      |  FROM g),
      |tok AS (SELECT doc_id, i AS pos, toks[i] w
      |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks))) i)),
      |fl AS (SELECT tok.doc_id, tok.pos, tok.w,
      |    CASE WHEN rd.red THEN 1 ELSE 0 END isred
      |  FROM tok LEFT JOIN rd ON tok.doc_id = rd.doc_id AND tok.pos = rd.pos),
      |cv AS (SELECT doc_id, pos, w, isred,
      |    max(isred) OVER (PARTITION BY doc_id ORDER BY pos
      |                     ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) covered
      |  FROM fl),
      |tr AS (SELECT doc_id, pos, w, covered,
      |    CASE WHEN covered = 1 AND coalesce(lag(covered) OVER (
      |        PARTITION BY doc_id ORDER BY pos), 0) = 0
      |      THEN 1 ELSE 0 END span_start
      |  FROM cv)
      |SELECT doc_id, count(*) AS n_tokens,
      |  sum(covered)::BIGINT AS n_removed,
      |  sum(span_start)::BIGINT AS n_spans,
      |  md5(coalesce(string_agg(w, ' ' ORDER BY pos) FILTER (WHERE covered = 0), ''))
      |    AS clean_hash
      |FROM tr GROUP BY doc_id HAVING sum(covered) > 0 ORDER BY doc_id""".stripMargin

  /** D15 — CROSS-SOURCE corpus overlap: for every source
    * pair, the MinHash-ESTIMATED shingle-set Jaccard — the one-pass
    * corpus-accounting number a curation pipeline reads before deciding
    * which crawls to merge (two mirrors of the same site → overlap ≈ 1;
    * independent corpora → ≈ 0) — plus the exact value as an in-query
    * audit (the v09 recall-audit discipline).
    *
    * The SKETCH is the scale path: a source's union-set signature
    * component is the min over its docs' per-doc components (min of
    * mins — associative and partial-aggregable, so the map side emits 8
    * longs per (source × partition) and duplicate shingles change
    * nothing), and the estimate is a |sources|² comparison of 8-long
    * rows — `P[min_A(π) = min_B(π)] = J(A,B)` per permutation π, agree
    * count / 8 estimates J. The signature definitions are the shared
    * [[minhashCols]] (d02/d07/d09's constants — one edit moves every
    * oracle together).
    *
    * The EXACT audit is PATTERN-GROUPED, not postings-joined (a
    * postings join has unbounded fan-out): a naive
    * self-join on the shingle key costs df² rows PER SHINGLE, and on a
    * real corpus most shingles are near-ubiquitous across sources
    * (df ≈ |sources| — measured 10–20 of 20 on the synthetic corpus),
    * so the audit was quadratic on exactly the common case. Instead
    * each shingle is collapsed to its SOURCE-SET SIGNATURE (a sorted
    * array of dense source indices — bounded by |sources|, a structural
    * catalog constant, never by corpus size), shingles are counted per
    * distinct signature, and the per-pair intersection is the
    * signature-count sum over the C(|sig|,2) pairs expanded once per
    * PATTERN (≤ min(|shingles|, 2^|sources|) patterns; in practice a
    * handful). Per-shingle work is one linear collect_set; no join ever
    * carries the shingle key; the result is still the EXACT full-set
    * Jaccard, so the DuckDB oracle is untouched. At 100 TB the audit
    * cost is one distinct + one groupBy over (source, shingle) —
    * linear — and a driver-trivial pattern expansion. */
  private def d15(s: SparkSession, d: String): DataFrame = {
    val withHs = graft.Tables.rebalance(s, documents(s, d))
      .select(col("source"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= N)
      .select(col("source"), TextFns.shinglesOf(col("toks"), N).as("sh"))
      .select(col("source"), col("sh"), TextFns.shingleHashes(col("sh")).as("hs"))
      .localCheckpoint() // sketch agg + exact audit read one materialization
    val sk = withHs
      .select(col("source") +: minhashCols: _*)
      .groupBy("source")
      .agg(min("mh0").as("mh0"), (1 until 8).map(i => min(s"mh$i").as(s"mh$i")): _*)
    val ska = sk.select(col("source").as("sa") +:
      (0 until 8).map(i => col(s"mh$i").as(s"a$i")): _*)
    val skb = sk.select(col("source").as("sb") +:
      (0 until 8).map(i => col(s"mh$i").as(s"b$i")): _*)
    val agree = (0 until 8)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    // |sources| rows × 8 longs: the non-equi pair join is a broadcast
    // nested loop over a sketch-sized frame BY DESIGN — that boundedness
    // is the whole point of sketching before comparing
    val est = ska.join(broadcast(skb), col("sa") < col("sb"))
      .select(col("sa"), col("sb"), agree.as("mh_agree"))
    val ex = withHs.select(col("source"), explode(col("sh")).as("k")).distinct()
    // dense source index, ordered by name so sorted-signature pair
    // expansion (ia < ib) lands directly on the est path's sa < sb; the
    // unpartitioned window is over the source CATALOG — structurally
    // tiny — not the corpus. Derived from the CHECKPOINTED corpus (not
    // from ex: every row of withHs carries ≥ 1 shingle by the size
    // filter, so the source sets are identical) and itself
    // checkpointed: it feeds FOUR broadcast subtrees below, and an
    // unmaterialized lineage would re-run its distinct per broadcast.
    val srcIdx = withHs.select("source").distinct()
      .withColumn("sidx", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("source")) - 1)
      .localCheckpoint()
    // one row per DISTINCT source-set signature, weighted by how many
    // shingles carry it — the whole quadratic surface collapses here
    val patterns = ex.join(broadcast(srcIdx), "source")
      .groupBy("k").agg(sort_array(collect_set(col("sidx"))).as("srcs"))
      .groupBy("srcs").agg(count(lit(1)).as("nk"))
      .localCheckpoint() // sizes + intersections read one materialization
    val na = patterns
      .select(explode(col("srcs")).as("sidx"), col("nk"))
      .groupBy("sidx").agg(sum("nk").as("n"))
      .join(broadcast(srcIdx), "sidx")
      .select(col("source"), col("n"))
    val inter = patterns
      .select(explode(expr(
        """flatten(transform(srcs, (x, i) ->
          |  transform(slice(srcs, i + 2, size(srcs) - i - 1),
          |            y -> struct(x AS ia, y AS ib))))""".stripMargin)).as("p"),
        col("nk"))
      .groupBy(col("p.ia").as("ia"), col("p.ib").as("ib"))
      .agg(sum("nk").as("n_inter"))
      .join(broadcast(srcIdx.select(col("sidx").as("ia"), col("source").as("sa"))), "ia")
      .join(broadcast(srcIdx.select(col("sidx").as("ib"), col("source").as("sb"))), "ib")
      .select("sa", "sb", "n_inter")
    est
      .join(inter, Seq("sa", "sb"), "left")
      .join(na.select(col("source").as("sa"), col("n").as("nna")), "sa")
      .join(na.select(col("source").as("sb"), col("n").as("nnb")), "sb")
      .select(
        col("sa"), col("sb"),
        oround(col("mh_agree") / lit(8.0), 3).as("est_jaccard"),
        oround(coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("nna") + col("nnb") - coalesce(col("n_inter"), lit(0L))), 3)
          .as("jaccard"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"))
      .orderBy("sa", "sb")
  }

  // lazy: declared below the QueryDef list that captures it — an eager
  // val would be null at object init (declaration order)
  private lazy val od15 = {
    val mins = (0 until 8).map(i => s"min(mh[${i + 1}]) m$i").mkString(", ")
    val agree = (0 until 8)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH t AS (SELECT doc_id, source, string_split(text,' ') toks FROM documents),
      |s AS (SELECT source, list_distinct(list_transform(generate_series(1, len(toks)-1), i -> toks[i]||' '||toks[i+1])) sh
      |      FROM t WHERE len(toks) >= 2),
      |hsed AS (SELECT source, sh, list_transform(sh, x -> ('0x'||substr(md5(x),1,7))::BIGINT) hs FROM s),
      |perdoc AS (SELECT source, [$mhList] mh FROM hsed),
      |sk AS (SELECT source, $mins FROM perdoc GROUP BY source),
      |est AS (SELECT a.source sa, b.source sb, ($agree) mh_agree
      |        FROM sk a JOIN sk b ON a.source < b.source),
      |ex AS (SELECT DISTINCT source, unnest(sh) k FROM s),
      |na AS (SELECT source, count(*) n FROM ex GROUP BY source),
      |inter AS (SELECT a.source sa, b.source sb, count(*) ni
      |          FROM ex a JOIN ex b ON a.k = b.k AND a.source < b.source
      |          GROUP BY 1, 2)
      |SELECT est.sa, est.sb,
      |  ROUND(mh_agree / 8.0, 3) AS est_jaccard,
      |  ROUND(COALESCE(ni, 0)::DOUBLE / (va.n + vb.n - COALESCE(ni, 0)), 3) AS jaccard,
      |  COALESCE(ni, 0) AS n_inter
      |FROM est LEFT JOIN inter ON est.sa = inter.sa AND est.sb = inter.sb
      |JOIN na va ON est.sa = va.source JOIN na vb ON est.sb = vb.source
      |ORDER BY est.sa, est.sb""".stripMargin
  }

  /** D16 — SEMANTIC dedup end-to-end (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): embedding-cosine near-dup EDGES → transitive
    * CLUSTERS → one kept representative per cluster — the
    * embedding-side twin of the MinHash-side d06/d14 pipeline, closing
    * the dedup story from pairs (d05) to a pruned corpus. Edge
    * definition is EXACTLY [[cosineEdges]] (d05/g02's shared one:
    * adaptive-width sign-LSH blocking, never all-pairs), components via
    * [[graft.ops.ConnectedComponents]]'s min-label Pregel loop
    * (O(diameter) bounded-dataflow rounds, no driver state) cached as
    * ONE labeling per (session, embeddings content stamp) —
    * [[semanticLabels]], the d06 artifact discipline — and the
    * keeper rule is MIN vec_id — deterministic on any engine, and free:
    * the component label IS the minimum member, so the keeper needs no
    * second pass. Output: one row per non-singleton cluster
    * (keep_vec_id = the kept member, n_members, n_pruned); singletons
    * are kept by definition and carry no row. τ = 0.3 matches the d05
    * threshold — the dial a deployment raises toward ~0.95 for
    * SemDeDup-strict pruning; the plan shape is τ-independent. At
    * 100 TB: the edges are bucket-bounded by the adaptive width, the
    * labeling is the one-time clustering job (d06's artifact
    * discipline), and the prune itself is a broadcast-able anti-join of
    * the corpus against the (cluster-member \\ keeper) list. */
  private def d16(s: SparkSession, d: String): DataFrame = {
    semanticLabels(s, d)
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"))
      .select(
        col("component").as("keep_vec_id"),
        col("n_members"),
        (col("n_members") - 1).as("n_pruned"))
      .orderBy("keep_vec_id")
  }

  /** Oracle twin of [[d16]]: the shared [[cosineEdgeCtes]] edge
    * definition plus od06's recursive-closure labeling (root excluded by
    * `v <> component`, so member counts add 1 back). Lazy for the same
    * declaration-order reason as od15. */
  private lazy val od16 =
    s"""WITH RECURSIVE
      |${cosineEdgeCtes()},
      |und AS (SELECT va a, vb b FROM ce UNION SELECT vb, va FROM ce),
      |reach(a, b) AS (
      |  SELECT a, b FROM und
      |  UNION
      |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a WHERE u.b <> r.a
      |),
      |lbl AS (SELECT a AS v, LEAST(a, min(b)) AS component FROM reach GROUP BY a)
      |SELECT component AS keep_vec_id, count(*) + 1 AS n_members, count(*) AS n_pruned
      |FROM (SELECT v, component FROM lbl WHERE v <> component)
      |GROUP BY component ORDER BY keep_vec_id""".stripMargin

  /** d17's fixed benchmark-panel budget — ONE constant interpolated into
    * BOTH the Scala dataflow and od17's LIMIT, so the two can never
    * drift apart (ov24's `$panelBudget` discipline). `final val` literal
    * so object-init order can never interpolate a zero (the v24 trap). */
  private final val D17PanelBudget = 256

  /** D17 — SEMANTIC decontamination: the embedding-space twin of
    * p04/p06's n-gram eval-set decontamination. A deterministic
    * benchmark panel (`vec_id % 97 = 0`, standing in for the held-out
    * eval set's embeddings) broadcasts; corpus vectors landing within
    * cos ≥ 0.3 of ANY panel vector are flagged as contaminated;
    * reported per label as a contamination census — the number a
    * curation pipeline reads before a training run, same verb as p06
    * but catching paraphrase/translation-style leakage that exact
    * n-grams miss (the reason both verbs exist).
    *
    * Scale shape: the SCALE path is the [[cosineEdges]] blocking with
    * v05's MULTI-PROBE dial — each panel vector probes its own
    * [[adaptiveSrpBits]] SRP bucket PLUS every one-bit-flip neighbor
    * (bits+1 probe keys per panel member, still a broadcast of
    * strings), so only in-probed-bucket pairs pay a dot product. The
    * EXACT brute-force flag count rides along as the in-query recall
    * audit (the v09 discipline; blocked ⊆ exact by construction,
    * `block_recall` ≤ 1), SAMPLE-ENFORCED BY THE PLAN (d15's
    * pattern-group discipline): only the deterministic `vec_id % 3 = 0`
    * corpus slice enters the crossJoin, recall is blocked∩audited vs
    * exact-on-audited (both sides restricted identically, so the ratio
    * is unbiased), and `n_audited` censuses the slice. Measured
    * ~0.33-class recall at sf0.1's adaptive key for the weak tau=0.3
    * screen (single-probe was ~0.07 — the H≤1 probes quadruple it); the
    * audit column is exactly the number that tells a production
    * pipeline how many more probes (or how much higher a contamination
    * threshold) its recall target costs — the v23 tuning-curve reading
    * applied to decontamination. Both paths `distinct` BEFORE counting:
    * a corpus vector near three panel members is one contamination, not
    * three.
    *
    * The panel is capped at [[D17PanelBudget]] queries — the
    * hash-rank-lowest members of the `% 97` slice (v24's
    * `(id·40503+7) mod 104729` rank; ties by vec_id). Benchmarks are
    * bounded by nature, but the synthetic `% 97` slice grows with the
    * corpus, and the slice feeds BOTH the probe-key broadcast AND the
    * exact-audit crossJoin — so an uncapped panel makes the audit
    * (corpus/3)×(corpus/97): α≈2/decade, the v24 shape. With the cap
    * both paths are one corpus-linear pass against a fixed broadcast. */
  private def d17(s: SparkSession, d: String): DataFrame = {
    val bits = adaptiveSrpBits(graft.sources.VectorIndex.corpusCount(s, d))
    val b = graft.Tables.rebalance(s, embeddings(s, d))
      .select(col("vec_id"), col("label"),
        VectorFns.toDouble(col("embedding")).as("e"))
      .select(col("vec_id"), col("label"), col("e"),
        VectorFns.norm(col("e")).as("nrm"),
        VectorFns.srpBucket(col("e"), bits).as("bucket"))
    val panel = b.filter(col("vec_id") % 97L === 0)
      .withColumn("hk", (col("vec_id") * lit(40503L) + lit(7L)) % lit(104729L))
      .orderBy(col("hk"), col("vec_id")).limit(D17PanelBudget)
      .select(col("e").as("qe"), col("nrm").as("qn"), col("bucket").as("qb"))
    val corp = b.filter(col("vec_id") % 97L =!= 0)
    val cosc = VectorFns.dot(col("e"), col("qe")) / (col("nrm") * col("qn"))
    // bucket + every one-bit flip: VectorIndex.multiProbeKeys' flip
    // rule minus its partition-dir prefix (this join is on the ad-hoc
    // key column, not the at-rest directory name)
    val qb = col("qb")
    val probeKeys = array((qb +: (1 to bits).map(j => concat(
      substring(qb, 1, j - 1),
      when(substring(qb, j, 1) === "1", "0").otherwise("1"),
      substring(qb, j + 1, bits - j)))): _*)
    val probes = panel.select(
      col("qe"), col("qn"), explode(probeKeys).as("pb"))
    // checkpointed because BOTH the full census and the audit subset
    // read it — without the pin the probe join would execute twice
    val flaggedIds = corp.join(broadcast(probes), col("bucket") === col("pb"))
      .filter(cosc >= 0.3)
      .select(col("vec_id"), col("label")).distinct()
      .localCheckpoint()
    val flagged = flaggedIds.groupBy("label").agg(count(lit(1)).as("nf"))
    // The exact audit is |corpus|·|panel| brute force, so only the
    // vec_id % 3 == 0 slice enters it (see the scaladoc).
    val audited = corp.filter(col("vec_id") % 3L === 0)
    val nAudited = audited.groupBy("label").agg(count(lit(1)).as("na"))
    val exact = audited.crossJoin(broadcast(panel.drop("qb")))
      .filter(cosc >= 0.3)
      .select(col("vec_id"), col("label")).distinct()
      .groupBy("label").agg(count(lit(1)).as("nx"))
    val flaggedAudit = flaggedIds.filter(col("vec_id") % 3L === 0)
      .groupBy("label").agg(count(lit(1)).as("nfa"))
    corp.groupBy("label").agg(count(lit(1)).as("n_corpus"))
      .join(flagged, Seq("label"), "left_outer")
      .join(nAudited, Seq("label"), "left_outer")
      .join(exact, Seq("label"), "left_outer")
      .join(flaggedAudit, Seq("label"), "left_outer")
      .select(
        col("label"), col("n_corpus"),
        coalesce(col("nf"), lit(0L)).as("n_flagged"),
        oround(coalesce(col("nf"), lit(0L)) / col("n_corpus"), 4)
          .as("contam_rate"),
        coalesce(col("na"), lit(0L)).as("n_audited"),
        coalesce(col("nx"), lit(0L)).as("n_exact_audit"),
        when(coalesce(col("nx"), lit(0L)) > 0,
          oround(coalesce(col("nfa"), lit(0L)) / col("nx"), 4))
          .as("block_recall"))
      .orderBy("label")
  }

  /** Oracle twin of [[d17]] — the [[cosineEdgeCtes]] bucket definition
    * (`ab`/`n`-style CTEs carrying `label`), blocked and exact flag
    * sets both DISTINCT on the corpus vector before counting. Lazy for
    * the od15/od16 declaration-order reason. */
  private lazy val od17 =
    s"""WITH ab AS (SELECT coalesce(min(k), 16) AS bits FROM generate_series(4,16) t(k)
      |      WHERE (SELECT count(*) FROM embeddings) <= 64 * (1::BIGINT << k)),
      |n AS (SELECT vec_id, label, list_transform(embedding, x->x::DOUBLE) e FROM embeddings),
      |b AS (SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x->x*x))) nrm,
      |  substr(array_to_string(list_transform(list_slice(e, 1, 16),
      |    x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), ''), 1, (SELECT bits FROM ab)) bucket FROM n),
      |q AS (SELECT e qe, nrm qn, bucket qb FROM b WHERE vec_id % 97 = 0
      |      ORDER BY (vec_id*40503+7)%104729, vec_id LIMIT $D17PanelBudget),
      |qp AS (SELECT qe, qn,
      |    CASE WHEN j = 0 THEN qb
      |         ELSE substr(qb, 1, j-1) ||
      |              (CASE WHEN substr(qb, j, 1) = '1' THEN '0' ELSE '1' END) ||
      |              substr(qb, j+1, (SELECT bits FROM ab) - j) END pb
      |  FROM q, (SELECT unnest(generate_series(0, (SELECT bits FROM ab))) AS j) t),
      |c AS (SELECT vec_id, label, e, nrm, bucket FROM b WHERE vec_id % 97 <> 0),
      |fl AS (SELECT DISTINCT c.vec_id, c.label FROM c JOIN qp ON c.bucket = qp.pb
      |  WHERE list_sum(list_transform(list_zip(c.e, qp.qe), x -> x[1]*x[2]))/(c.nrm*qp.qn) >= 0.3),
      |aud AS (SELECT * FROM c WHERE vec_id % 3 = 0),
      |ex AS (SELECT DISTINCT aud.vec_id, aud.label FROM aud, q
      |  WHERE list_sum(list_transform(list_zip(aud.e, q.qe), x -> x[1]*x[2]))/(aud.nrm*q.qn) >= 0.3),
      |base AS (SELECT label, count(*) n_corpus FROM c GROUP BY 1),
      |f AS (SELECT label, count(*) nf FROM fl GROUP BY 1),
      |na AS (SELECT label, count(*) na FROM aud GROUP BY 1),
      |x AS (SELECT label, count(*) nx FROM ex GROUP BY 1),
      |fa AS (SELECT label, count(*) nfa FROM fl WHERE vec_id % 3 = 0 GROUP BY 1)
      |SELECT base.label, n_corpus,
      |  COALESCE(nf, 0)::BIGINT AS n_flagged,
      |  ROUND(COALESCE(nf, 0) / n_corpus::DOUBLE, 4) AS contam_rate,
      |  COALESCE(na, 0)::BIGINT AS n_audited,
      |  COALESCE(nx, 0)::BIGINT AS n_exact_audit,
      |  CASE WHEN COALESCE(nx, 0) > 0
      |       THEN ROUND(COALESCE(nfa, 0) / nx::DOUBLE, 4) END AS block_recall
      |FROM base LEFT JOIN f USING (label) LEFT JOIN na USING (label)
      |  LEFT JOIN x USING (label) LEFT JOIN fa USING (label)
      |ORDER BY label""".stripMargin

  /** D18 — the LSH BANDING TUNING CURVE: d02's (bands × rows-per-band)
    * dial swept across the three factorizations of the shared 8-component
    * signature — (2,4), (4,2 — the d02 production setting), (8,1) — each
    * reporting its CANDIDATE mass (distinct bucket-cohabiting pairs, the
    * cost), its verified-pair count (exact Jaccard ≥ 0.8, the yield) and
    * its recall against the union of all three configs' verified sets
    * (the quality). The v23 nprobe-curve reading applied to MinHash:
    * P[candidate] = 1−(1−j^r)^b, so (8,1) is near-total recall at j=0.8
    * but drags in low-similarity mass (at j=0.3 it still fires 94% of
    * the time), while (2,4) is cheap and misses ~⅓ — the measured
    * S-curve a pipeline reads before committing a banding to 100 TB of
    * shingles.
    *
    * Every branch rides the SAME discipline as production d02: the ONE
    * checkpointed signature table feeds all three band explosions, each
    * capped at [[PairBlockCap]] with its own census observe (the curve
    * is measured INCLUDING the cap, because that is the plan that
    * ships; a capped-out hot bucket costs (8,1) recall exactly as it
    * would in production). Per-branch pair sets are checkpointed once
    * and read twice (own counts + the union reference). Cost note:
    * the query IS three d02-class pipelines plus a union (4.2 s at
    * sf0.1 vs d02's 1.4 s) — a sweep pays per swept config, same as
    * v23's per-branch probes. Corpus note: this synthetic corpus's
    * near-dups are all template copies far above j=0.8, so every
    * config verifies the same 25 pairs and recall_vs_union pins 1.0 —
    * the differentiating axis HERE is candidate mass (25 / 448 /
    * 22,825 at sf0.01: (2,4) buys the same yield at 1/900th of
    * (8,1)'s verification bill); on a corpus with marginal-similarity
    * pairs the recall column separates too. */
  private def d18(s: SparkSession, d: String): DataFrame = {
    val sig = sigWithSh(s, d).localCheckpoint()
    val configs = Seq((2, 4), (4, 2), (8, 1))
    val scored = configs.map { case (b, r) =>
      val keys = (0 until b).map(i =>
        concat_ws(":", (0 until r).map(j => col(s"mh${i * r + j}")): _*))
      val p = pairsScoredFromShBuckets(capBlocks(
        sig.select(col("doc_id"), col("sh"),
          posexplode(array(keys: _*)).as(Seq("band", "bh"))),
        Seq("band", "bh"), s"d18_census_${b}x$r"))
      (b, r, p.select(col("da"), col("db"), col("jac")).distinct()
        .localCheckpoint())
    }
    val union = scored.map(_._3.filter(col("jac") >= 0.8).select("da", "db"))
      .reduce(_ unionAll _).distinct()
      .agg(count(lit(1)).as("n_union"))
    scored.map { case (b, r, p) =>
      p.agg(
        count(lit(1)).as("n_candidates"),
        sum(when(col("jac") >= 0.8, 1L).otherwise(0L)).as("nv"))
        .select(
          lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("n_candidates"),
          coalesce(col("nv"), lit(0L)).as("n_verified"))
    }.reduce(_ unionAll _)
      .crossJoin(broadcast(union))
      .select(
        col("bands"), col("rows_per_band"),
        col("n_candidates"), col("n_verified"),
        when(col("n_union") > 0,
          oround(col("n_verified") / col("n_union"), 4)).as("recall_vs_union"))
      .orderBy("bands")
  }

  /** Oracle twin of [[d18]] — [[sigCtes]]' shared signature chain, one
    * CTE family per banding config (band keys spelled with the same
    * `::VARCHAR || ':'` formatting [[lshPairCtes]] established for
    * cross-engine parity), the same BETWEEN 2 AND cap bucket bound, the
    * same distinct-before-count. Lazy for declaration order. */
  private lazy val od18 = {
    def family(b: Int, r: Int): String = {
      val tag = s"${b}x$r"
      val keyCase = (1 to b).map { i =>
        val expr = (1 to r).map(j => s"mh[${(i - 1) * r + j}]::VARCHAR")
          .mkString(" || ':' || ")
        s"WHEN $i THEN $expr"
      }.mkString(" ")
      s"""bands$tag AS (SELECT doc_id, b, CASE b $keyCase END bh
        |  FROM sig, (SELECT unnest(generate_series(1,$b)) b)),
        |bsz$tag AS (SELECT b, bh FROM bands$tag GROUP BY b, bh
        |  HAVING count(*) BETWEEN 2 AND $PairBlockCap),
        |bk$tag AS (SELECT bands$tag.* FROM bands$tag JOIN bsz$tag USING (b, bh)),
        |cand$tag AS (SELECT DISTINCT a.doc_id da, b2.doc_id db FROM bk$tag a JOIN bk$tag b2
        |  ON a.b = b2.b AND a.bh = b2.bh AND a.doc_id < b2.doc_id),
        |j$tag AS (SELECT da, db,
        |    len(list_intersect(sa.sh, sb.sh))::DOUBLE
        |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) jac
        |  FROM cand$tag JOIN s sa ON cand$tag.da = sa.doc_id
        |  JOIN s sb ON cand$tag.db = sb.doc_id)""".stripMargin
    }
    val rows = Seq((2, 4), (4, 2), (8, 1)).map { case (b, r) =>
      val tag = s"${b}x$r"
      s"""SELECT $b AS bands, $r AS rows_per_band,
        |  (SELECT count(*) FROM j$tag) AS n_candidates,
        |  (SELECT count(*) FROM j$tag WHERE jac >= 0.8) AS n_verified""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $sigCtes,
      |${family(2, 4)},
      |${family(4, 2)},
      |${family(8, 1)},
      |uni AS (SELECT count(*) n_union FROM (
      |  SELECT DISTINCT da, db FROM (
      |    SELECT da, db FROM j2x4 WHERE jac >= 0.8
      |    UNION ALL SELECT da, db FROM j4x2 WHERE jac >= 0.8
      |    UNION ALL SELECT da, db FROM j8x1 WHERE jac >= 0.8))),
      |res AS ($rows)
      |SELECT bands, rows_per_band, n_candidates::BIGINT AS n_candidates,
      |  n_verified::BIGINT AS n_verified,
      |  CASE WHEN (SELECT n_union FROM uni) > 0
      |       THEN ROUND(n_verified::DOUBLE / (SELECT n_union FROM uni), 4) END
      |    AS recall_vs_union
      |FROM res ORDER BY bands""".stripMargin
  }
}
