package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives shared by the dedup / text-analysis
  * operators.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * higher-order array functions — per-row, narrow (no shuffle, no UDF).
  *
  * PERFORMANCE CONTRACT: the `*Of` variants take ALREADY-MATERIALIZED
  * array columns. Catalyst does no common-subexpression elimination across
  * lambda boundaries, so an expression like
  * `transform(seq, i => slice(split(text), i, k))` re-runs the full
  * `split` (or worse, an md5-transform) once per lambda iteration —
  * measured 92 s for a winnowing query at sf0.1 that runs in ~1 s staged.
  * Callers must stage `tokens` / `shingles` / hash arrays through a
  * projection (`.select(....as("toks"))`) and pass the attribute in;
  * CollapseProject keeps non-cheap multi-referenced projections
  * materialized, so the array is computed once per row.
  *
  * Hashes are md5-based because md5 is the one hash with identical output
  * in Spark and DuckDB (the correctness oracle) — xxhash64/hash are
  * engine-specific.
  */
object TextFns {

  /** Whitespace tokens. The corpus is single-space joined; `split` keeps
    * any trailing empty token, matching DuckDB `string_split`. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles from a materialized token array.
    * REQUIRES `size(toks) >= n` — callers filter first (every declared
    * caller already did; the reference's drop-short-rows discipline,
    * `/root/reference/src/bluetooth/scanner.rs:36-45`). The guard this
    * once carried as an internal `when(size >= n, …).otherwise(empty)`
    * measured ~2× on the whole shingle explode at sf0.1 (a CASE around
    * a higher-order function forces the lambda out of the Generate's fused
    * evaluation), which is why the contract moved to the caller. On a shorter
    * array the un-guarded `sequence(1, size-(n-1))` DESCENDS and produces
    * garbage shingles — use [[shingles]] when the input is unfiltered. */
  def shinglesOf(toks: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Distinct n-gram shingles as `xxhash64` LONGS — same caller
    * contract as [[shinglesOf]] (input must be pre-filtered to
    * `size(toks) >= n`), but the shingle identity is an 8-byte hash of
    * the token-array slice instead of a rebuilt string. The p04
    * packed-key discipline (AnalyticsQueries gramTokens): everything
    * downstream — exchanges, sorts, group keys — moves 8 bytes per
    * shingle instead of a ~25-byte string, and the hash skips the
    * concat_ws allocation entirely (the md5-string build measured at
    * 16× the xxhash64 one). Distinct n-grams map to distinct longs modulo
    * xxhash64 collisions — vanishing at any checked SF, and the same exposure
    * g04/p04 already accept. */
  def hashedShinglesOf(toks: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => xxhash64(slice(toks, i, lit(n)))))

  /** Convenience wrapper for cold paths and tests — guards short input
    * (unlike [[shinglesOf]]); do NOT use inside further lambdas (see
    * the performance contract above). */
  def shingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) >= n, shinglesOf(t, n))
      .otherwise(array().cast("array<string>"))
  }

  /** md5 of every word k-gram, in document order (the winnowing hash
    * stream). Input must be a materialized token array. */
  def kgramHashes(toks: Column, k: Int): Column =
    transform(
      sequence(lit(1), size(toks) - (k - 1)),
      i => md5(concat_ws(" ", slice(toks, i, lit(k))).cast("binary")))

  /** One MinHash signature component: min over shingles of
    * md5(seed ":" shingle). Lexicographic min over lowercase-hex md5 is a
    * uniform minimum — and, unlike integer-folded hashes, is directly
    * reproducible in the oracle (`min(md5('0:'||s))`).
    *
    * Prefer [[shingleHashes]] + [[minhashPerm]] when computing MANY
    * components: k md5 passes over the shingle set cost k× the hashing;
    * one md5 pass + k integer permutations computes the same signature
    * family at ~1/k the cost. */
  def minhashComponent(shingleArr: Column, seed: Int): Column =
    array_min(
      transform(shingleArr, s => md5(concat(lit(s"$seed:"), s).cast("binary"))))

  /** 28-bit integer hash per shingle (first 7 hex chars of md5) — the ONE
    * md5 pass a k-component permutation MinHash needs. Must be staged
    * through a projection before feeding multiple [[minhashPerm]] calls
    * (performance contract above). 28 bits keeps `a*h + b` under 2^63
    * for multipliers up to ~2^34 in both engines (DuckDB BIGINT overflow
    * THROWS, so the bound is load-bearing, not cosmetic). */
  def shingleHashes(shingleArr: Column): Column =
    transform(shingleArr, x =>
      conv(substring(md5(x.cast("binary")), 1, 7), 16, 10).cast("long"))

  /** MinHash component as a universal-hash permutation over materialized
    * 28-bit shingle hashes: min over `(a*h + b) mod p`. All-positive
    * operands, so Spark `pmod` ≡ DuckDB `%` exactly. */
  def minhashPerm(hs: Column, a: Long, b: Long, p: Long): Column =
    array_min(transform(hs, h => pmod(h * lit(a) + lit(b), lit(p))))

  /** 60-bit token hash: the first 15 hex chars of md5, as a long. 15 hex
    * digits = 60 bits keeps the value positive in a signed 64-bit long in
    * both engines (`conv` here, `('0x'||…)::BIGINT` in DuckDB). */
  def hash60(tok: Column): Column =
    conv(substring(md5(tok.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Winnowing-style document fingerprint from a materialized token
    * array: the minimum md5 over the document's word k-grams. Equal
    * fingerprints ⇒ the two documents share their lexicographically-
    * smallest k-gram hash — a cheap, fully distributive near-dup blocking
    * key. Short docs fall back to the whole-text hash. */
  def fingerprintOf(toks: Column, text: Column, k: Int): Column =
    when(size(toks) >= k, array_min(kgramHashes(toks, k)))
      .otherwise(md5(text.cast("binary")))

  /** Convenience wrapper for cold paths and tests (performance contract
    * above applies). */
  def fingerprint(text: Column, k: Int = 5): Column =
    fingerprintOf(tokens(text), text, k)

  /** t02's document quality score over a staged token-array column —
    * 0.4·length + 0.3·(1−stopword ratio) + 0.3·lexical diversity. THE
    * one definition every consumer (the standalone t02 query, the t11
    * classifier features, the p03/p06 funnels) scores with, so none of
    * them can drift from the others. Arithmetic is all-double with
    * left-assoc ordering, matching the DuckDB oracles bit for bit. */
  def qualityOf(toks: Column): Column = {
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks, w => w.isin("the", "a", "and", "of"))).cast("double")
    val nDistinct = size(array_distinct(toks)).cast("double")
    lit(0.4) * least(nTok / 60.0, lit(1.0)) +
      lit(0.3) * (lit(1.0) - nStop / nTok) +
      lit(0.3) * (nDistinct / nTok)
  }

  /** Jaccard similarity of two already-distinct string arrays. Union size
    * is |a|+|b|−|a∩b| (identical formula in the DuckDB oracle — avoids
    * relying on the two engines' union-dedup semantics agreeing). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** `bits`-wide SimHash from a materialized token-hash array (`hash60`
    * per token): bit j is the sign of Σ±1 over the tokens' bit j. The
    * 16-bit form backs d03's exact-signature clusters; d08's banded
    * Hamming search uses the full 60-bit width of `hash60` so its
    * 15-bit band VALUES are sparse (32768 keys per band index — bucket
    * membership is near-dup signal, not |corpus|/16 by construction).
    * `bits` ≤ 60 (the hash width) keeps the value positive in a signed
    * long in both engines. */
  def simhashW(hashes: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 60, s"simhash width must be 1..60, got $bits")
    aggregate(
      sequence(lit(0), lit(bits - 1)), lit(0L),
      (acc, j) =>
        acc + when(
          aggregate(hashes, lit(0), (a, h) =>
            a + when(call_function("shiftright", h, j).bitwiseAND(lit(1L)) === 1L, 1)
              .otherwise(-1)) >= 0,
          call_function("shiftleft", lit(1L), j)).otherwise(0L))
  }

  /** 16-bit SimHash — see [[simhashW]]. */
  def simhash16(hashes: Column): Column = simhashW(hashes, 16)
}
