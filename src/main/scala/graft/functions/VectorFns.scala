package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector primitives over `ArrayType(FloatType)` embedding
  * columns.
  *
  * All folds are sequential left-folds (`aggregate`) in `double`, so the
  * result is bit-identical to the DuckDB oracle's `list_sum(list_transform
  * (list_zip(...)))` — IEEE-754 double arithmetic in the same order on the
  * same operands. Everything stays inside WholeStageCodegen (no UDFs) and
  * is per-row narrow work: at 100 TB the cost is one pass over the data,
  * no shuffle.
  */
object VectorFns {

  /** float[] → double[] (element-exact widening). */
  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Dot product — the native codegen'd loop ([[graft.plans.VectorDot]],
    * registered by [[graft.plans.GraftExtensions]]). Same sequential left
    * fold as [[dotFold]], bit for bit, without the per-row products
    * array + interpreted lambda dispatch. */
  def dot(a: Column, b: Column): Column =
    // the native expression is strict ARRAY<DOUBLE> (no implicit numeric
    // coercion); the cast is a no-op for already-double inputs and keeps
    // this API as permissive as the old numeric-promoting fold
    call_function("vector_dot", a.cast("array<double>"), b.cast("array<double>"))

  /** Dot product as a composed-builtin sequential left fold over
    * zip_with products — the portable form (no session extensions
    * needed); [[graft.VectorDotSpec]] pins it bit-identical to [[dot]]. */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm: `sqrt(dot(v, v))` — the self-dot fold `acc + x*x` in the
    * same order as the previous composed form. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity of two double[] columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Sign-random-projection LSH bucket: the sign pattern of the first
    * `bits` coordinates, as a '0'/'1' string key. Deterministic (the
    * "hyperplanes" are the coordinate axes), trivially reproducible in the
    * oracle, and a proper ANN blocking key at scale: the self-join /
    * query-probe joins on this key touch only ~N/2^bits candidates per
    * bucket instead of the full corpus. */
  def srpBucket(v: Column, bits: Int): Column =
    concat((1 to bits).map(j =>
      // try_element_at: vectors shorter than `bits` read as sign-0 bits
      // instead of throwing (element_at errors out of bounds under ANSI)
      when(try_element_at(v, lit(j)) >= 0, lit("1")).otherwise(lit("0"))): _*)

  /** [[srpBucket]] over the `bits` coordinates STARTING AT `offset`
    * (0-based) — the per-table key of the multi-table SRP index: table t
    * reads its own disjoint coordinate block, so the L keys are
    * independent hashes of the vector and a neighbor missed by one
    * table's split is caught by another's. */
  def srpBucketFrom(v: Column, offset: Int, bits: Int): Column =
    concat((1 to bits).map(j =>
      when(try_element_at(v, lit(offset + j)) >= 0, lit("1")).otherwise(lit("0"))): _*)

  /** The ONE corpus-size → SRP-key-width rule: the smallest k ≥ 4 with
    * n ≤ target·2^k, i.e. just enough sign bits to hold the EXPECTED
    * bucket at ≤ `target` vectors. ANY constant target makes the
    * downstream work LINEAR in n (within-bucket pair work is
    * target·n/2; per-probe scan is `target` rows) — a FIXED width
    * re-measures at α → 2 on the embedding-count axis; the target only
    * sets the constant factor, so each consumer picks the target its
    * physical shape wants:
    *
    *  - d05/g02's ad-hoc blocking key uses target = 64 (tight pair
    *    constant; the key lives in a shuffle, so narrow buckets cost
    *    nothing);
    *  - the PERSISTED indexes ([[graft.sources.VectorIndex]]) use
    *    target = 4096: the bucket is a PARTITION DIRECTORY there, and
    *    64-row partitions shatter the artifact into confetti files
    *    whose listing dominates every probe (measured: ×30 estate at
    *    the 64-target = 1024 dirs, probes 0.3 s → 1.9 s, the L-table
    *    build 61 s; at the 4096-target both return to flat). At 100 TB
    *    the cap of 16 bits gives ~1.5 GB partitions — the healthy file
    *    size — and per-probe scan stays n/2^16.
    *
    * Integer-shift comparison, no floating log: every DuckDB oracle
    * that blocks on one of these keys computes the identical k via
    * `coalesce(min(k), 16) … WHERE n <= target * (1 << k)`, so both
    * engines widen on exactly the same count — INCLUDING the 16-bit
    * ceiling: past target·2^16 rows `min(k)` is empty and a bare
    * min would turn the oracle's bucket into substr(…, NULL) = NULL
    * everywhere (zero-edge oracle, spurious parity failure) while the
    * engine keeps blocking at 16; the coalesce is the getOrElse twin. Each added bit halves the bucket AND
    * costs sign-LSH recall; recall is bought back with multi-probe or
    * table replicas (v05/v22's dials), not wider buckets. */
  def adaptiveSrpBits(n: Long, target: Long = 64L): Int =
    (4 to 16).find(k => n <= (target << k)).getOrElse(16)
}
