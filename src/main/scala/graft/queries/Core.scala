package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.Num.oround

/** Core declared inventory Q1–Q20 (SURVEY §2.3).
  *
  * Q1–Q12 re-express every reference operator (OP-xx citations from
  * SURVEY §2.1, which cites `/root/reference` file:line) over the driver's
  * TPC-H-ish tables; Q13–Q20 are the general-engine extensions (joins,
  * top-k, set ops, JSON, rollup, vectors).
  *
  * Scale notes are inline per query — the recurring themes:
  *  - dimension sides of joins are `broadcast()` (config-sized in the
  *    reference — OP-03/OP-10 — and ≤25–150k rows here);
  *  - aggregations rely on Catalyst's partial (map-side) aggregation, so
  *    the shuffle carries one row per (partition × group), not per input
  *    row;
  *  - top-k is `orderBy().limit()` which plans as TakeOrderedAndProject —
  *    no global sort materialization.
  */
object Core {

  /** Q1 — scan + projection (OP-01/OP-06). Column pruning: the parquet
    * scan must read exactly 3 of 11 lineitem columns (ReadSchema). */
  private def q01(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
      .limit(100)

  /** Q2 — validation filter (OP-05): malformed rows dropped, never nulled
    * (`/root/reference/src/bluetooth/scanner.rs:36-45`). The predicate is
    * pushed to the parquet scan (PushedFilters). */
  private def q02(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_quantity").between(1, 50) && col("l_discount") >= 0)
      .agg(count(lit(1)).as("n"))

  /** Q3 — key-whitelist semi-join (OP-03,
    * `/root/reference/src/bluetooth/scanner.rs:175-178`). The whitelist
    * side is filtered + broadcast: a LEFT SEMI broadcast-hash join, no
    * shuffle of the fact side. */
  private def q03(s: SparkSession, d: String): DataFrame = {
    val building = customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    orders(s, d)
      .join(broadcast(building), col("o_custkey") === col("c_custkey"), "left_semi")
      .agg(count(lit(1)).as("n"))
  }

  /** Q4 — grouped average + fixed rounding (OP-07,
    * `/root/reference/src/utils.rs:49-59,75-80`). TPC-H Q1 shape.
    * Catalyst plans partial+final HashAggregate; with ~6 groups the
    * shuffle is a handful of rows regardless of input size. */
  private def q04(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        oround(avg("l_quantity"), 2).as("avg_qty"),
        oround(avg("l_extendedprice"), 2).as("avg_price"),
        oround(sum("l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Q5 — 30-minute tumbling window (OP-08,
    * `/root/reference/src/main.rs:54,69-122`). `window()` buckets are
    * epoch-aligned, matching the oracle's `floor(epoch/1800)*1800`.
    * Group count is bounded by (time range / 30 min) × event types, so the
    * aggregate output stays tiny even at 100 TB of input. */
  private def q05(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), oround(avg("value"), 2).as("avg_value"))
      .select(
        col("window.start").as("w_start"),
        col("event_type"), col("n"), col("avg_value"))
      .orderBy("w_start", "event_type")

  /** Q6 — wrap-aware counter delta (OP-07,
    * `/root/reference/src/utils.rs:64-71`): (last − first) mod 256 over
    * explicit (ts, event_id) order — never bare first()/last(), which are
    * order-nondeterministic in Spark (SURVEY §7 hard-point 2).
    * `min_by`/`max_by` on the (ts, event_id) struct = ONE partially
    * aggregated shuffle (the prior window+distinct shape was a full sort
    * plus a second full-width shuffle — a scale-killer on skewed keys). */
  private def q06(s: SparkSession, d: String): DataFrame = {
    val ord = struct(col("ts"), col("event_id"))
    events(s, d)
      .groupBy("user_id")
      .agg(
        min_by(col("value"), ord).as("f"),
        max_by(col("value"), ord).as("l"))
      .select(
        col("user_id"),
        pmod(
          oround(col("l"), 0).cast("int") - oround(col("f"), 0).cast("int"),
          lit(256)).as("delta"))
      .orderBy("user_id")
  }

  /** Q7 — enrichment left join + default (OP-10,
    * `/root/reference/src/utils.rs:83-87`): broadcast the dimension,
    * `coalesce(name, 'Unknown')` for misses. */
  private def q07(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"), "left")
      .select(col("c_custkey"), coalesce(col("n_name"), lit("Unknown")).as("name"))
      .orderBy("c_custkey")

  /** Q8 — last-write-wins dedup (OP-01/OP-02,
    * `/root/reference/src/bluetooth/scanner.rs:185`): latest event per
    * (user, type) via row_number over a deterministic order. One shuffle
    * on the partition keys; at scale prefer this over
    * `dropDuplicates` (which gives *some* row, not the latest). */
  private def q08(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id").as("last_event_id"))
      .orderBy("user_id", "event_type")
  }

  /** Q9a/Q9b — vertical dual-sink split (OP-12/OP-13,
    * `/root/reference/src/database/operations.rs:31-43,74-87`): two
    * projections of one aggregate. In production these are two writes of
    * a cached upstream; here each is declared as its own checkable query. */
  private def q09a(s: SparkSession, d: String): DataFrame =
    q04(s, d).select("l_returnflag", "l_linestatus", "avg_qty", "n")

  private def q09b(s: SparkSession, d: String): DataFrame =
    q04(s, d).select("l_returnflag", "l_linestatus", "avg_price", "sum_qty")

  /** Q10 — datetime scalar (OP-17, `/root/reference/src/utils.rs:12-16`):
    * the reference's "DD.MM.YYYY - HH:MM:SS" log format. */
  private def q10(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        col("event_id"),
        date_format(col("ts"), "dd.MM.yyyy - HH:mm:ss").as("fmt"))
      .orderBy("event_id")
      .limit(100)

  /** Q11 — config-string parse (OP-16,
    * `/root/reference/src/config.rs:36-53`): `"MAC=Name,…"` →
    * (mac, name) rows via str_to_map + explode. */
  private def q11(s: SparkSession, d: String): DataFrame = {
    val cfg = "AA:BB:CC:DD:EE:01=Kitchen,AA:BB:CC:DD:EE:02=Sauna,AA:BB:CC:DD:EE:03=Garage"
    s.range(1)
      .select(explode(str_to_map(lit(cfg), lit(","), lit("="))))
      .toDF("mac", "name")
      .orderBy("mac")
  }

  /** Q52 — OP-16's LEGACY config fallback
    * (`/root/reference/src/config.rs:57-69`): when the packed
    * `RUUVI_TAGS` form (q11) is absent, the daemon scans the WHOLE
    * environment for `RUUVI_TAG_<idx>_MAC` / `RUUVI_TAG_<idx>_NAME`
    * pairs and keeps a (mac → name) entry only when BOTH halves of an
    * index exist — a MAC without its NAME is dropped, not defaulted,
    * and the index is an arbitrary string, not necessarily numeric.
    * Re-expressed relationally: the environment is a (key, value)
    * table, the _MAC and _NAME rows are two regexp-derived projections
    * of it, and the reference's "look up the sibling variable" rule is
    * an inner equi-join on the extracted index. Config-sized literal
    * frame — broadcast-trivial at any scale; the fixture rows include
    * the cases the reference's loop silently skips (orphan MAC, orphan
    * NAME, non-matching keys, `RUUVI_TAGS_MAC` whose prefix almost
    * matches) plus a duplicate-mac index pair exercising
    * [[envFallback]]'s smallest-index-wins dedup. */
  private def q52(s: SparkSession, d: String): DataFrame =
    envFallback(s, Seq(
      "RUUVI_TAG_1_MAC" -> "AA:BB:CC:DD:EE:01",
      "RUUVI_TAG_1_NAME" -> "Kitchen",
      "RUUVI_TAG_2_MAC" -> "AA:BB:CC:DD:EE:02",
      "RUUVI_TAG_2_NAME" -> "Sauna",
      "RUUVI_TAG_porch_MAC" -> "AA:BB:CC:DD:EE:03", // non-numeric index
      "RUUVI_TAG_porch_NAME" -> "Garage",
      "RUUVI_TAG_7_MAC" -> "AA:BB:CC:DD:EE:02", // duplicate mac (idx 2 has
      "RUUVI_TAG_7_NAME" -> "Basement", // it too) → smallest index wins
      "RUUVI_TAG_9_MAC" -> "AA:BB:CC:DD:EE:09", // orphan MAC → dropped
      "RUUVI_TAG_10_NAME" -> "Attic", // orphan NAME → dropped
      "RUUVI_TAGS_MAC" -> "not-a-tag", // prefix almost matches → skipped
      "PATH" -> "/usr/bin"))

  /** The q52 dataflow over an arbitrary environment (split out so
    * Q52PropSpec can drive generated environments through the SAME
    * plan and compare against a direct model of the reference loop).
    *
    * Duplicate-MAC rule: the reference keeps ONE entry per mac (its
    * `tags` HashMap is keyed by the mac VALUE, `config.rs:66`) but
    * which index's name survives depends on `env::vars()` iteration
    * order — nondeterministic in Rust. A relational plan must pick a
    * DETERMINISTIC refinement of that, so the engine pins
    * smallest-index-wins (`min_by` over the idx string): every output
    * is one the reference could have produced under SOME env order,
    * and repeated runs agree. `min_by` is commutative/associative, so
    * the choice is partition-order-free at any scale (the a08
    * determinism discipline). Q52PropSpec generates duplicate-mac
    * environments and pins both properties. */
  private[graft] def envFallback(
      s: SparkSession, envPairs: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    val env = envPairs.toDF("key", "value")
    // startsWith/endsWith + substring, NOT an anchored regex: Java's $
    // matches before a trailing newline and .* stops at one, so regex
    // anchoring silently diverges from the reference's byte-literal
    // strip_prefix/strip_suffix on keys containing \n (Q52PropSpec
    // generates such keys). The suffix test runs on the REMAINDER
    // after the prefix — "RUUVI_TAG_MAC" must fall out, exactly as the
    // reference's Option-chained strips do.
    def half(suffix: String, out: String): DataFrame = env
      .filter(col("key").startsWith("RUUVI_TAG_") &&
        expr(s"endswith(substring(key, 11), '$suffix')"))
      .select(
        expr(s"substring(key, 11, length(key) - ${10 + suffix.length})").as("idx"),
        col("value").as(out))
    half("_MAC", "mac").join(half("_NAME", "name"), "idx")
      .groupBy("mac")
      .agg(min_by(col("name"), col("idx")).as("name"))
      .orderBy("mac")
  }

  /** Q12 — union of micro-batches (OP-09, `/root/reference/src/main.rs:96-102`):
    * unionByName then aggregate; Catalyst pushes the aggregate's partial
    * phase below the union, so the union itself never materializes. */
  private def q12(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val evens = e.filter(pmod(col("event_id"), lit(2)) === 0)
    val odds  = e.filter(pmod(col("event_id"), lit(2)) === 1)
    evens
      .unionByName(odds)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), oround(sum("value"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** Q13 — multi-way equi-join, TPC-H Q3 shape. customer is dimension-side
    * → broadcast; orders⋈lineitem is the fact⋈fact edge — at 100 TB that
    * is a shuffle (sort-merge) join on the order key, the natural
    * co-partitioning key for both tables (bucket both by orderkey at rest
    * to eliminate it entirely). */
  private def q13(s: SparkSession, d: String): DataFrame = {
    val cutoff = to_timestamp(lit("1998-06-01"))
    val building = customer(s, d).filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = orders(s, d).filter(col("o_orderdate") < cutoff)
    val l = lineitem(s, d).filter(col("l_shipdate") > cutoff)
    o.join(broadcast(building), col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(oround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate")
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(20)
  }

  /** Q14 — top-k: plans as TakeOrderedAndProject (per-partition heap +
    * driver merge of k rows), not a global sort. */
  private def q14(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** Q15 — distinct aggregate. Catalyst expands to a two-phase aggregate;
    * for approximate needs at scale swap in approx_count_distinct (HLL). */
  private def q15(s: SparkSession, d: String): DataFrame =
    orders(s, d).agg(countDistinct(col("o_custkey")).as("n"))

  /** Q15b — set operations (INTERSECT/EXCEPT = distinct set semantics in
    * both engines), tagged and unioned into one checkable result. */
  private def q15b(s: SparkSession, d: String): DataFrame = {
    val building = customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val ordering = orders(s, d).select(col("o_custkey").as("k"))
    val both     = building.intersect(ordering).select(lit("both").as("tag"), col("k"))
    val noOrders = building.except(ordering).select(lit("no_orders").as("tag"), col("k"))
    both.unionByName(noOrders).orderBy("tag", "k")
  }

  /** Q16 — JSON scalar on the multimodal props column (Q16 of SURVEY
    * §2.3). get_json_object is codegen'd; for repeated multi-key access
    * prefer from_json with an explicit schema (single parse). */
  private def q16(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")
      .limit(100)

  /** Q17 — tokenize + grouped counts. explode(split) is the only
    * row-multiplying op in the core set; the aggregate's partial phase
    * keeps the shuffle at |langs| rows per input partition. */
  private def q17(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"))
      .orderBy("lang")

  /** Q17b — top-20 tokens corpus-wide (vocabulary histogram). */
  private def q17b(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)

  /** Q18 — exact-duplicate clusters by content hash (SURVEY Q18; the
    * dedup family proper lives in [[DedupQueries]]). */
  private def q18(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
      .filter(col("n") > 1)
      .orderBy("h")

  /** Q19 — vector dot-product top-k against the vec_id=0 query vector.
    * No collect: the 1-row query side is broadcast and the product is a
    * zip_with/aggregate fold in doubles — sequential, so bit-identical to
    * the oracle's list-fold. Brute force is the exact baseline; the
    * approximate scale path is in [[VectorQueries]]. */
  private def q19(s: SparkSession, d: String): DataFrame = {
    val e  = embeddings(s, d)
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    e.crossJoin(broadcast(qv))
      .select(
        col("vec_id"),
        oround(
          aggregate(
            zip_with(col("embedding"), col("q"),
              (x, y) => x.cast("double") * y.cast("double")),
            lit(0.0),
            (acc, x) => acc + x),
          4).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
  }

  /** Q20 — ROLLUP grouping sets; NULLS FIRST ordering pinned on both
    * sides (Spark ASC default is nulls-first, DuckDB's is nulls-last). */
  private def q20(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .rollup("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .orderBy(
        col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  /** Q21 — duration→seconds scalar (OP-18,
    * `/root/reference/src/utils.rs:21-23`): per-user event-span in whole
    * seconds via unix_timestamp (floor-to-second on both engines). */
  private def q21(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("user_id")
      .agg(
        (unix_timestamp(max("ts")) - unix_timestamp(min("ts"))).as("span_sec"),
        count(lit(1)).as("n"))
      .orderBy("user_id")

  /** Q20b — CUBE grouping sets (all four combinations, vs ROLLUP's
    * hierarchy in Q20). Catalyst expands to a single Expand + aggregate —
    * one pass, one shuffle, not one scan per grouping set. */
  private def q20b(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .cube("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"), oround(sum("o_totalprice"), 2).as("total"))
      .orderBy(
        col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  /** Q22 — exact interpolated percentiles (ordered-set aggregate;
    * Spark `percentile` ≡ DuckDB `quantile_cont`). For 100 TB swap in
    * `approx_percentile` (t-digest sketch) — same query shape, bounded
    * memory, mergeable partial state. */
  private def q22(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(
        oround(percentile(col("value"), lit(0.5)), 2).as("p50"),
        oround(percentile(col("value"), lit(0.95)), 2).as("p95"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Q23 — AS-OF join ([[graft.ops.AsOfJoin]], planned as
    * [[graft.plans.AsOfJoinExec]]): every purchase joined to the user's
    * most recent view at or before it. One hash exchange per side, each
    * shipping only its own columns, then a forward merge — no range
    * join, no pair explosion, no window. DuckDB's native `ASOF LEFT
    * JOIN` is the oracle; j12 declares the same query under its own
    * name. */
  private def q23(s: SparkSession, d: String): DataFrame =
    lastViewBeforePurchase(s, d).orderBy("purchase_id")

  /** J11 — as-of join with a TOLERANCE bound (pandas `merge_asof
    * (tolerance=...)`, kdb's `wj` window join): the most recent view at
    * or before each purchase, but only if it's ≤ 10 min stale —
    * attribution windows, sensor-staleness cutoffs. Because the as-of
    * join already carries the MOST RECENT prior row, the tolerance is a
    * post-hoc null-out over its `r_ts` (if the latest prior is too old,
    * nothing within the window exists) — no second pass, no range join;
    * the bound costs one `when`. DuckDB has no ASOF tolerance either; the
    * oracle applies the identical CASE over its native ASOF join. */
  private def j11(s: SparkSession, d: String): DataFrame = {
    val fresh = col("gap_sec") <= 600
    lastViewBeforePurchase(s, d)
      .select(col("purchase_id"),
        when(fresh, col("view_id")).as("view_id"),
        when(fresh, col("gap_sec")).as("gap_sec"))
      .orderBy("purchase_id")
  }

  /** q23/j11's as-of join: (purchase_id, view_id, gap_sec) with the
    * latest view at or before each purchase (ties on `ts`: the greatest
    * view `event_id`), nulls when the user viewed nothing before. */
  private def lastViewBeforePurchase(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    def of(eventType: String) = e.filter(col("event_type") === eventType)
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.ops.AsOfJoin.lastPrior(of("purchase"), of("view"), "user_id", "ts")
      .select(
        col("event_id").as("purchase_id"),
        col("r_event_id").as("view_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("r_ts"))).as("gap_sec"))
  }

  private val oj11 =
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
      |a AS (SELECT p.event_id pid, v.event_id vid,
      |        (epoch_us(p.ts) // 1000000 - epoch_us(v.ts) // 1000000) gap
      |      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts)
      |SELECT pid AS purchase_id,
      |  CASE WHEN gap <= 600 THEN vid END AS view_id,
      |  (CASE WHEN gap <= 600 THEN gap END)::BIGINT AS gap_sec
      |FROM a ORDER BY purchase_id""".stripMargin

  /** Q24 — gap-based sessionization (30-min inactivity closes a
    * session): a lag + running-sum window assigns session ids in one
    * shuffle on user_id; per-user session stats out. The standard
    * conversation/e-commerce sessionizer for training-data pipelines. */
  private def q24(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
    events(s, d)
      .withColumn("new_sess",
        when(gapUs.isNull || gapUs > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("sess", sum("new_sess").over(run))
      .groupBy("user_id")
      .agg(
        countDistinct("sess").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .select(
        col("user_id"), col("n_sessions"), col("n_events"),
        oround(col("n_events").cast("double") / col("n_sessions"), 4)
          .as("avg_events_per_session"))
      .orderBy("user_id")
  }

  /** Q25 — deterministic hash-based sampling: keep rows whose md5-derived
    * 60-bit hash lands in the sample band. Unlike `sample()`/rand(),
    * this is reproducible across runs, engines and retries — the only
    * sampling admissible in an audited training-data pipeline. */
  private def q25(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(
        pmod(graft.functions.TextFns.hash60(
          concat(lit("s:"), col("doc_id").cast("string"))), lit(10L)) === 0L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy("lang")

  /** Q27 — the SQL frontend: the same catalog, planner and custom
    * functions serve `spark.sql` unchanged ([[graft.Catalog]] registers
    * the driver tables as views). The query is a CORRELATED scalar
    * subquery — orders more than 3× their customer's average — which
    * Catalyst decorrelates into an aggregate + join (no per-row
    * re-execution; `explain` shows one HashAggregate over orders joined
    * back to orders). The reference has no SQL surface at all; this is
    * the declared proof the engine's is real, not a DataFrame-only API. */
  private def q27(s: SparkSession, d: String): DataFrame = {
    graft.Catalog.registerAll(s, d)
    // ROUND here is engine-identical only because o_totalprice carries
    // exactly 2 decimals (TPC-H money), so ROUND(x,2) = x in both
    // engines. A COMPUTED double (avg, sum×rate) must go through the
    // oround/product-space parity rule instead — see Num.oround.
    s.sql(
      """SELECT o_orderkey, ROUND(o_totalprice, 2) AS price FROM orders o
        |WHERE o_totalprice > 3 * (SELECT AVG(o2.o_totalprice) FROM orders o2
        |                          WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Q28 — the q13 orders⋈lineitem edge with its AT-SCALE physical
    * shape, runtime-filtered. At 100 TB neither fact side broadcasts:
    * the join is a shuffle join, and the optimization that matters is
    * the Spark 4 runtime bloom filter — built from one side's
    * selective filter, applied to the other side BEFORE its shuffle,
    * so rows whose key can't join never leave the scan stage. Here the
    * rule injects two: lineitem's shipdate-filtered orderkeys prune
    * the orders scan, and the BUILDING customers prune o_custkey. The
    * conf overrides model scale on a local SF — the rule declines when
    * a fact side is broadcastable-by-size (none is at 100 TB) or the
    * probe scan is under the 10 GB floor (a 100 TB lineitem clears it
    * on its own; the defaults are the right production values).
    * Result ≡ q13: the bloom is pure physical pruning, same oracle. */
  private def q28(s0: SparkSession, d: String): DataFrame = {
    // cloned session: carries the demo threshold without leaking it
    // into sibling queries (SQLConf is read when THIS DF executes)
    val s = s0.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    // the rule only fires on a PROBABLY-SHUFFLE join: if either fact
    // side is broadcastable-by-size it declines. At 100 TB neither fact
    // clears the broadcast threshold on its own; model that here.
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val cutoff = to_timestamp(lit("1998-06-01"))
    val building = customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = orders(s, d).filter(col("o_orderdate") < cutoff)
    val l = lineitem(s, d).filter(col("l_shipdate") > cutoff)
    // o⋈l first: the bloom's creation side must be a selective
    // filter directly over a scan (a join-shaped creation side
    // disqualifies the rule); the dimension semi-join lands after
    o.join(l.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(building), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(oround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate")
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(20)
  }

  /** Q33 — STREAMING REPLAY parity: the same synthesized readings as
    * q26, driven through the Structured Streaming runtime instead of
    * batch — file micro-batch source (`maxFilesPerTrigger=1`), the
    * watermarked windowed aggregate, the `foreachBatch` dual sink with
    * per-batch dynamic-overwrite partitions — then the sensor sink is
    * read BACK and returned, so the DuckDB oracle pins what the
    * streaming sink actually persisted, not just what a test observed.
    *
    * Determinism: append mode emits each (window, mac) exactly once,
    * whenever the watermark passes it, so the UNION of all batch
    * partitions is batch-split-independent. A far-future sentinel
    * reading (null payload — dropped by decode, but event time still
    * advances the watermark) rides in a later source file, guaranteeing
    * every real window flushes before the query drains; the sentinel's
    * own window stays above the final watermark and never emits. Two
    * traps, both load-bearing (see [[readingsSrc]]):
    *
    *  - the sentinel carries a VALID payload on a NON-whitelisted MAC,
    *    not an invalid payload: Catalyst pushes the decode-validity
    *    Filter BELOW the EventTimeWatermark node (it doesn't reference
    *    the event-time column), so an invalid-payload row is discarded
    *    before its event time ever registers in the watermark stats.
    *    The whitelist is a semi-JOIN — joins are never pushed below
    *    the watermark — so the valid-payload sentinel registers first,
    *    then drops, holding no state;
    *  - TWO sentinel files, because emission in micro-batch N uses the
    *    watermark computed from batch N-1: the first advances the
    *    watermark past every real window, the second drives the one
    *    more micro-batch in which the last real window actually
    *    flushes.
    *
    * `batch_id` is dropped on read-back: WHICH batch
    * emitted a window depends on file ordering, the row set does not. */
  private def q33(s0: SparkSession, d: String): DataFrame = {
    val r = new Replay(s0, readingsSrc, "q33", d)
    graft.etl.Pipeline.streaming(
      r.stream, synthTags(r.session), r.outDir, r.ckpDir,
      trigger = Trigger.AvailableNow(), watermark = "1 minute")
      .awaitTermination()
    r.session.read.parquet(s"${r.outDir}/sensor_data")
      .drop("batch_id")
      .orderBy("mac", "time")
  }

  /** File-source replay harness shared by all 17 streaming queries —
    * ONE copy of the replay mechanics:
    *  - each replay source is declared ONCE, as a [[Replay.Source]];
    *    queries replaying the same files share that value, and so the
    *    one staged artifact;
    *  - frame i of a source is staged as `batch<i>.parquet` with mtime
    *    1e12 + 60000·i: distinct increasing mtimes pin the file-source
    *    processing order (real data first, watermark-flush sentinels
    *    last) via copy-then-FileTime;
    *  - a CLONED session with 1 shuffle partition and no trailing empty
    *    micro-batch (see [[session]]);
    *  - staging writes with repartition(1), NOT coalesce(1): coalesce
    *    folds the whole upstream synthesis into the single writer task,
    *    the shuffle keeps per-row work parallel and serializes only the
    *    write;
    *  - the source is STAGED ONCE, not once per JVM: the staged files are
    *    a pure function of (prefix, the tables the source reads), so they
    *    are an on-disk artifact ([[Replay.source]]) keyed on the prefix,
    *    [[Replay.SourceVersion]] and those tables' content stamp. The
    *    staging runs only when no JVM has published that key — a
    *    repeated run of the same replay skips the synthesis + write
    *    entirely, and the artifact store's atomic publish means no
    *    reader ever lists a half-staged source;
    *  - checkpoint and sink are per-JVM, keyed by (runKey, sfDir):
    *    a reconstruction of the same replay RESUMES the stream over the
    *    kept checkpoint — AvailableNow finds every staged file already
    *    committed, drains nothing, and the sink already holds the full
    *    result. That is a production stream's steady state: history is
    *    never re-ingested because the checkpoint, not the harness, owns
    *    progress. Bench's min-of-2 therefore measures cold replay once
    *    and incremental resume once;
    *  - [[stream]] reads the staged files one per trigger; the two sinks
    *    ([[toParquet]], [[foreachBatch]]) run a query under AvailableNow
    *    over the run's checkpoint and wait for it to drain;
    *  - every run root this JVM creates is registered for shutdown-hook
    *    removal, and run roots left by DEAD graft JVMs (crashed runs whose
    *    hook never fired) are swept at first use, so repeated
    *    bench/verify runs do not accumulate unbounded temp data. */
  private final class Replay(
      s0: SparkSession, src: Replay.Source, runKey: String, d: String) {
    val session: SparkSession = {
      val s = s0.newSession()
      // 1, not the session's 32: every stateful operator commits one
      // state-store delta PER PARTITION PER MICRO-BATCH (a stream-stream
      // join keeps four stores per partition), so partitions × batches
      // is the file-op count and the state itself is tiny — sensors ×
      // windows or one struct per active user. Measured on the replay
      // family: 32 → 8 partitions saved ~40%; 8 → 4 another ~15%; 4 → 1
      // another ~20%. On a real cluster this knob scales back up with
      // ACTIVE-KEY count, not data volume.
      s.conf.set("spark.sql.shuffle.partitions", "1")
      // The replays advance watermarks with EXPLICIT far-future sentinel
      // batches (watermark-in-batch-N is computed after batch N-1, so
      // each replay stages exactly the files whose successors flush its
      // windows/timeouts). The engine's extra empty batch after the last
      // file would re-derive a watermark nothing is left to consume —
      // pure per-batch floor (~0.7 s) per watermarked replay.
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      s
    }
    private val root = Replay.runRoot(runKey, d)
    val outDir: String = root.resolve("out").toString
    val ckpDir: String = root.resolve("ckp").toString

    /** The shared staged source, one file per micro-batch. */
    def stream: DataFrame = read(Replay.source(session, src, d))

    /** The source's first `n` frames staged into this run's OWN mutable
      * directory, one file per micro-batch — for q44, which grows its
      * source between two query incarnations. Re-staging is idempotent. */
    def localStream(n: Int): DataFrame = {
      val dir = java.nio.file.Files.createDirectories(root.resolve("src"))
      Replay.stageAll(src.batches(session, d).take(n), dir)
      read(dir.toString)
    }

    private def read(dir: String): DataFrame =
      session.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)

    /** Streams `ds` into the parquet sink at [[outDir]] (append mode)
      * until the staged files are drained; returns the sink read back. */
    def toParquet(ds: Dataset[_]): DataFrame = {
      run(ds.writeStream.format("parquet").option("path", outDir).outputMode("append"))
      session.read.parquet(outDir)
    }

    /** Streams `df` through `f`, once per micro-batch, until the staged
      * files are drained. */
    def foreachBatch(df: DataFrame)(f: (DataFrame, Long) => Unit): Unit =
      run(df.writeStream.foreachBatch(f))

    private def run(w: DataStreamWriter[_]): Unit =
      w.option("checkpointLocation", ckpDir).trigger(Trigger.AvailableNow())
        .start().awaitTermination()
  }

  private[graft] object Replay {
    import java.nio.file.{Files, Path, Paths}
    import graft.ops.Artifacts
    import graft.ops.Artifacts.rmTree

    /** One replay source: the staged artifact's `prefix`, the `tables`
      * of the sfDir that `batches` reads, the stream `schema` (DDL), and
      * the frames to stage, in file-source processing order. */
    final case class Source(
        prefix: String, tables: Seq[String], schema: String,
        batches: (SparkSession, String) => Seq[DataFrame])

    private val pidHex = java.lang.Long.toHexString(ProcessHandle.current().pid())
    private val tmpBase = Paths.get(System.getProperty("java.io.tmpdir"))
    /** Every run root this JVM creates — reclaimed by the shutdown hook. */
    private val owned = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
    locally {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        owned.forEach(p => try rmTree(p) catch { case _: Throwable => () }); ()
      }))
      sweepDeadJvmDirs()
    }

    /** Run roots named `graft_run_<pidHex>_…` whose owning JVM is dead
      * (a crashed run never fires its shutdown hook) are reclaimed here,
      * so repeated bench/verify runs keep java.io.tmpdir bounded. */
    private def sweepDeadJvmDirs(): Unit = {
      val listing = Files.list(tmpBase)
      try listing
        .filter(_.getFileName.toString.startsWith("graft_run_"))
        .forEach { p =>
          val dead = p.getFileName.toString.split("_").lift(2)
            .flatMap(h => scala.util.Try(java.lang.Long.parseLong(h, 16)).toOption)
            .exists(id => !ProcessHandle.of(id).map[Boolean](_.isAlive).orElse(false))
          if (dead) try rmTree(p) catch { case _: Throwable => () }
        }
      finally listing.close()
    }

    /** The tmpdir-safe identity of an sfDir — a readable sanitized path,
      * NOT a hashCode (two dirs can collide on hashCode and silently
      * share a staged source). */
    private[graft] def pathKey(d: String): String =
      d.replaceAll("[^A-Za-z0-9.]+", "-").replaceAll("^-|-$", "")

    /** Stages frame i as the single parquet file `batch<i>.parquet` with
      * mtime 1e12 + 60000·i — the file-source processing order, which
      * the publishing rename keeps. A file already staged is kept as-is
      * (q44's cached root re-stages the same batches on reconstruction). */
    private def stageAll(frames: Seq[DataFrame], dir: Path): Unit =
      frames.zipWithIndex.foreach { case (df, i) =>
        val dst = dir.resolve(s"batch$i.parquet")
        if (!Files.exists(dst)) {
          val tmp = dir.resolve(s"stage_batch$i")
          df.repartition(1).write.mode("overwrite").parquet(tmp.toString)
          val listing = Files.list(tmp)
          val part = try listing.filter(_.toString.endsWith(".parquet")).findFirst.get
          finally listing.close()
          Files.copy(part, dst)
          Files.setLastModifiedTime(
            dst, java.nio.file.attribute.FileTime.fromMillis(1000000000000L + 60000L * i))
          rmTree(tmp) // the copied data file is the only survivor
        }
      }

    /** Bump when a source's frames change: published sources are
      * otherwise served as they are. */
    private val SourceVersion = "2"

    /** The staged files of `src` over `d` — built once and published
      * through [[graft.ops.Artifacts.dir]], so every JVM shares them and
      * a restaged table gets a fresh copy. */
    private[graft] def source(s: SparkSession, src: Source, d: String): String =
      Artifacts.dir(s, s"replay_${src.prefix}", SourceVersion, d, src.tables) { p =>
        stageAll(src.batches(s, d), Files.createDirectories(Paths.get(p)))
      }

    /** The per-JVM checkpoint + sink root of one replay, keyed by
      * (runKey, sfDir): first construction streams cold, every later
      * construction RESUMES over it (see the class scaladoc). */
    private def runRoot(runKey: String, d: String): Path =
      runRoots.computeIfAbsent(s"${runKey}_${pathKey(d)}", _ => {
        val p = Files.createDirectories(
          tmpBase.resolve(s"graft_run_${pidHex}_${runKey}_${pathKey(d)}"))
        owned.add(p)
        p
      })
    private val runRoots = new java.util.concurrent.ConcurrentHashMap[String, Path]()
  }

  /** `df` in three id-ordered thirds of its max `id`. The one max()
    * action runs while a source is staged, once per published source. */
  private def idThirds(df: DataFrame, id: String): Seq[DataFrame] = {
    val mx = df.agg(max(id)).head().getLong(0)
    val (c1, c2) = (mx / 3, 2 * mx / 3)
    Seq(df.filter(col(id) < c1), df.filter(col(id) >= c1 && col(id) < c2),
      df.filter(col(id) >= c2))
  }

  /** The fixed date cuts of the time-ordered replays: every file's rows
    * lie ahead of the prior batch's watermark, so nothing drops as late. */
  private def tsCuts = (lit("2024-01-11").cast("timestamp"), lit("2024-01-21").cast("timestamp"))

  /** `ev` in three time-ordered batches split at [[tsCuts]]. */
  private def tsThirds(ev: DataFrame): Seq[DataFrame] = {
    val (c1, c2) = tsCuts
    Seq(ev.filter(col("ts") < c1), ev.filter(col("ts") >= c1 && col("ts") < c2),
      ev.filter(col("ts") >= c2))
  }

  /** q26's synthesized readings, then the two far-future flush
    * sentinels whose shape [[q33]] explains; replayed by q33, q44, q46. */
  private lazy val readingsSrc = Replay.Source(
    "graft_replay", Seq("events.parquet"), "mac STRING, ts TIMESTAMP, payload BINARY",
    (s, d) => synthReadings(s, d) +:
      Seq("2030-01-01 00:00:00", "2030-02-01 00:00:00").map(ts => s.range(1).select(
        lit("AA:BB:CC:DD:EE:99").as("mac"), // NOT in the whitelist
        to_timestamp(lit(ts)).as("ts"),
        unhex(graft.functions.Format5.encodeHex(
          lit(0L), lit(0L), lit(0L), lit(0L), lit(0L), lit(0L), lit(0L))).as("payload"))))

  /** The events as one batch, then two flush sentinels for a non-real
    * user (see [[sessionsRun]]); replayed by q36 and q43. */
  private lazy val sessionsSrc = Replay.Source(
    "graft_sessions", Seq("events.parquet"), "user_id LONG, ts TIMESTAMP, event_id LONG",
    (s, d) => {
      def sentinel(ts: String, id: Long) = s.range(1).select(
        lit(-1L).as("user_id"), to_timestamp(lit(ts)).as("ts"), lit(id).as("event_id"))
      Seq(events(s, d).select(col("user_id"), col("ts"), col("event_id")),
        sentinel("2030-01-01 00:00:00", -1L), sentinel("2030-02-01 00:00:00", -2L))
    })

  /** Q36 — STATEFUL streaming under the oracle: the real `events` table
    * replayed through [[graft.streaming.Sessionize]]
    * (`flatMapGroupsWithState`, event-time timeouts) into a parquet
    * sink, read back, and aggregated to exactly q24's batch shape —
    * the oracle IS q24's SQL, so the custom-state runtime is pinned to
    * the declarative window definition by an independent engine. q33
    * pins the WINDOWED streaming path; this pins the custom-state one.
    * q43 declares the same replay under its own run key. */
  private def q36(s0: SparkSession, d: String): DataFrame = sessionsRun(s0, d, "q36")

  /** q36/q43's dataflow over [[sessionsSrc]]. Two far-future sentinel
    * files for a non-real user: the first advances the watermark past
    * every real session's (last + gap) timeout, the second triggers the
    * batch whose START watermark reflects it (timeouts in batch N fire
    * on the watermark computed after batch N-1), so every real session
    * closes and emits before AvailableNow drains. The sentinel user is
    * filtered from the result. */
  private def sessionsRun(s0: SparkSession, d: String, runKey: String): DataFrame = {
    val r = new Replay(s0, sessionsSrc, runKey, d)
    import r.session.implicits._
    r.toParquet(graft.streaming.Sessionize.sessions(
        r.stream.withWatermark("ts", "1 minute").as[graft.streaming.Sessionize.Event]))
      .filter(col("user_id") >= 0) // drop the watermark-advancing sentinel
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .select(
        col("user_id"), col("n_sessions"), col("n_events"),
        oround(col("n_events").cast("double") / col("n_sessions"), 4)
          .as("avg_events_per_session"))
      .orderBy("user_id")
  }

  /** Q44 — streaming RESTART RECOVERY under the oracle: the q33
    * pipeline run as TWO SEPARATE QUERY INCARNATIONS over one
    * checkpoint. Incarnation 1 drains the real readings with
    * AvailableNow and STOPS — the tail windows (those the watermark
    * has not yet passed) exist only as state-store entries at that
    * point. The source then gains the two watermark-flush sentinel
    * files and incarnation 2 starts with the SAME checkpoint + sink:
    * recovered offsets skip the already-processed file, recovered
    * window state flushes through the idempotent batch_id-partitioned
    * sink, and the UNION of both incarnations' output must equal the
    * batch dataflow exactly (the oracle is q33's). This is the engine
    * twin of the reference's crash/retry story (OP-14,
    * `/root/reference/src/database/connection.rs:52-134`): durability
    * comes from checkpoint + state store + idempotent sink, not from a
    * hand-rolled reconnect loop — and this query proves the recovery
    * path END TO END against an independent engine, not just in a
    * unit test. Run-LOCAL staging of q33's frames (not the shared staged
    * artifact): mutating the source between incarnations is the point.
    * The run root is cached like every replay's, so a reconstruction
    * resumes both incarnations over the kept checkpoint. */
  private def q44(s0: SparkSession, d: String): DataFrame = {
    val r = new Replay(s0, readingsSrc, "q44", d)
    def incarnation(files: Int): Unit =
      graft.etl.Pipeline.streaming(
        r.localStream(files), synthTags(r.session), r.outDir, r.ckpDir,
        trigger = Trigger.AvailableNow(), watermark = "1 minute")
        .awaitTermination()
    incarnation(1) // run 1: ingest, stop with tail windows still in state
    incarnation(3) // run 2: + the sentinels, same checkpoint — recovered state must flush
    r.session.read.parquet(s"${r.outDir}/sensor_data")
      .drop("batch_id")
      .orderBy("mac", "time")
  }

  /** Q45 — streaming DEDUP under the oracle: OP-02's duplicate
    * suppression (`/root/reference/src/bluetooth/scanner.rs:126-135`
    * drops re-received advertisements in the scanner's HashMap) as
    * `dropDuplicatesWithinWatermark` with BOUNDED state — dedup keys
    * expire once the watermark passes their event time + delay, unlike
    * a global dropDuplicates whose state grows forever (the only
    * admissible form at 100 TB). The replay injects BOTH duplicate
    * shapes: batch0 carries every row TWICE (in-batch dups, caught by
    * the per-batch hash), and batch1 re-sends the last minute of
    * batch0's rows (cross-batch dups — these are ABOVE the watermark,
    * so only surviving dedup STATE can drop them; had state been lost
    * they would re-emit and the counts would double). Emission is not
    * watermark-gated (first arrival emits in its own batch), so no
    * flush sentinels are needed. Deduped rows land in a parquet sink,
    * are read back, and aggregate to per-type totals whose oracle is
    * the PLAIN events table — each event exactly once. */
  private def q45(s0: SparkSession, d: String): DataFrame = {
    val r = new Replay(s0, Replay.Source(
      "graft_dedup", Seq("events.parquet"),
      "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE",
      (s, d) => {
        val Seq(b0, b1, b2) = tsThirds(events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value")))
        Seq(b0.unionAll(b0),
          b1.unionAll(b0.filter(col("ts") >= tsCuts._1 - expr("interval 1 minute"))),
          b2)
      }), "q45", d)
    r.toParquet(r.stream
        .withWatermark("ts", "1 minute")
        .dropDuplicatesWithinWatermark("event_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), oround(sum("value"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  private val oq45 =
    """SELECT event_type, count(*) AS n, ROUND(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q57 — STREAMING hopping-window aggregates: a15's 30-min/10-min
    * sliding panes as a watermarked streaming aggregation, sharing
    * a15's EXACT batch oracle (the q24/q36 one-oracle discipline
    * applied to the third window family — tumbling has q05↔q33,
    * session has w06↔q36; this closes hopping). Three time-ordered
    * micro-batches replay the event stream; each event expands to its
    * 3 panes map-side (the same Expand as batch), the state store
    * keeps one row per OPEN (pane, type) — bounded by panes inside the
    * watermark horizon × |types|, never by event mass (measured: 10⁵
    * hot events → 2 state rows) — and append mode emits each pane exactly
    * once when the watermark passes its end. TWO far-future sentinel batches
    * flush the tail (a batch's watermark derives from the PREVIOUS batch's
    * max event time); the read-back drops the sentinel panes and applies
    * a15's exact projection, so the streamed answer must hash-equal the batch
    * text. */
  private def q57(s0: SparkSession, d: String): DataFrame = {
    val r = new Replay(s0, Replay.Source(
      "graft_hopwin", Seq("events.parquet"), "ts TIMESTAMP, event_type STRING, value DOUBLE",
      (s, d) => {
        def sentinel(t: String) = s.range(1)
          .select(lit(t).cast("timestamp").as("ts"),
            lit("zz_sentinel").as("event_type"), lit(0.0).as("value"))
        tsThirds(events(s, d)
            .filter(col("ts").isNotNull)
            .select(col("ts"), col("event_type"), col("value"))) ++
          Seq(sentinel("2030-01-01 00:00:00"), sentinel("2030-02-01 00:00:00"))
      }), "q57", d)
    r.toParquet(r.stream
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "30 minutes", "10 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("sv")))
      // Null-safe drop: `=!=` is NULL (row silently dropped) for a
      // NULL event_type, diverging from the shared batch oracle oa15
      // which keeps a NULL group. <=> keeps NULL-typed events. The
      // sentinel value itself is in-band by construction — the estate
      // domain is pinned by a14, and the 2030 timestamps put sentinel
      // panes a decade past any real event, so a collision would also
      // need an impossible ts.
      .filter(!(col("event_type") <=> lit("zz_sentinel")))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n"), oround(col("sv"), 3).as("sv"))
      .orderBy(col("n").desc, col("w_start"), col("event_type"))
      .limit(96)
  }

  /** Q54 — STREAMING near-duplicate detection: the continuous-crawl
    * dedup loop, TWO-TIERED the way a production pipeline layers it.
    * Documents arrive in doc_id-ordered micro-batches (three staged
    * file batches). Tier 1 — EXACT: each
    * doc's text hash probes the accumulated exact-class index; copies
    * of a known class inherit their representative's verdict without
    * touching the near tier (template mass is d01/q18's signal, and
    * the measured reason this tier exists: 2,000 copies of one
    * template took the single-tier band join from 7.5 s to 377 s at
    * sf0.1 — |copies|² pairs per band; two-tiered it is
    * template-mass-immune by construction). Tier 2 — NEAR: only
    * first-seen class REPRESENTATIVES are MinHash-signed and
    * LSH-banded through the ONE [[DedupQueries.keyedBandsOf]]
    * definition the at-rest index (d09) and the batch pipelines (d02)
    * share, joined on band keys against the accumulated signature
    * index plus themselves (in-batch pairs), Jaccard-verified ≥ 0.8,
    * min-partner per rep; the reps' bands and verdicts then append to
    * the two indexes. The collapse is EXACT, not approximate: for a
    * copy X with representative R, every near partner Z < R of X is
    * a partner of R with identical jaccard and identical bands (same
    * text), so min-partner(X) = min(m(R), R) with R's own jaccard —
    * the inherited verdict — and the streamed result still equals
    * the batch answer row for row. The external parquet indexes ARE
    * the streaming state — the `foreachBatch` pattern for state the
    * store can't hold (shingle sets grow with the corpus; a state
    * store would replay them through every checkpoint commit) — and
    * they are [[graft.streaming.BucketedIndex]] generations, NOT plain
    * appends: hash-bucket-partitioned on the probe key (band key /
    * text hash), so each batch's probe reads only the buckets its own
    * keys hash into (`bp` in PartitionFilters, plan-asserted), with
    * the per-batch append files folded into one re-bucketed generation
    * under [[graft.streaming.BucketedIndex.maybeCompact]]'s size-ratio
    * trigger at the width the accumulated row count calls for (each
    * row rewritten O(log) times over the stream's life, the LSM
    * amortization — a fixed every-N cadence would rewrite the whole
    * index every N batches) — per-batch probe cost
    * stays O(batch keys × bucket occupancy) as the stream ages instead
    * of growing with the whole history. Retry-idempotent WITHOUT
    * delete-first sinks: duplicate index rows cannot change a
    * min-aggregate and duplicate result rows collapse under the final
    * `distinct` — the q46 idempotence contract met by algebra instead
    * of bookkeeping (the same algebra makes compaction's
    * write-new-then-delete-old crash window safe). Because arrival
    * order is doc_id order, ONE oracle serves the streaming and batch
    * forms — the q24/q36 discipline applied to dedup. */
  private def q54(s0: SparkSession, d: String): DataFrame =
    nearDupRun(s0, d, "q54", 4096L, 16, forceCompact = false)

  /** Q54b — q54 UNDER THE PRODUCTION FOLD POLICY: the identical
    * two-tier dataflow with `forceCompact = true` (q60b's determinism
    * knob — production uses the byte-ratio trigger, whose firing
    * parquet file sizes decide, not SQL), so both accumulated indexes
    * FOLD after every batch and each epoch's bucket width
    * `P = max(minBuckets, ceil(rows / target))` is a pure function of
    * row counts. Unlike AnnStream's SRP width, P is pure LAYOUT for an
    * LSH band key — no row's `bk` changes — so the oracle is q54's
    * VERBATIM (no phase split needed); what the variant buys is the
    * LSM fold + adaptive re-widening path executing MID-STREAM under
    * the cross-engine oracle instead of only under specs.
    * target = 64 with minBuckets = 4, chosen so ceil(rows/64) moves
    * across every fold at all three SFs (at the 4096 production target
    * the test estates never leave the minBuckets floor and the
    * re-widening would go unexercised — the q60b straddle-a-boundary
    * discipline). Replays q54's source, own index/checkpoint. */
  private def q54b(s0: SparkSession, d: String): DataFrame =
    nearDupRun(s0, d, "q54b", 64L, 4, forceCompact = true)

  /** q54/q54b's dataflow over id-ordered thirds of the documents,
    * parameterized over runKey and the fold policy; the per-batch step
    * lives in [[graft.streaming.NearDup.processBatch]]. */
  private def nearDupRun(
      s0: SparkSession, d: String, runKey: String,
      targetRowsPerBucket: Long, minBuckets: Int, forceCompact: Boolean): DataFrame = {
    val r = new Replay(s0, Replay.Source(
      "graft_neardup", Seq("documents.parquet"), "doc_id LONG, text STRING",
      (s, d) => idThirds(documents(s, d).select(col("doc_id"), col("text")), "doc_id")),
      runKey, d)
    r.foreachBatch(r.stream) { (batch, batchId) =>
      graft.streaming.NearDup.processBatch(
        batch, batchId,
        resDir = r.outDir,
        bandRoot = r.outDir + "_index",
        exactRoot = r.outDir + "_exact",
        targetRowsPerBucket, minBuckets, forceCompact)
    }
    r.session.read.parquet(r.outDir).distinct().orderBy("doc_id")
  }

  /** One oracle for the streaming and batch forms: the uncapped
    * [[DedupQueries.lshPairCtes]] pair chain, folded to each doc's
    * earliest verified duplicate. */
  private lazy val oq54 =
    s"""WITH ${DedupQueries.lshPairCtes(None)}
      |SELECT db AS doc_id, min(da) AS dup_of,
      |  ROUND(arg_min(jac, da), 3) AS jaccard
      |FROM j WHERE jac >= 0.8 GROUP BY db ORDER BY doc_id""".stripMargin

  /** Q58 — STREAMING incremental dedup: batch d09's "dedup the delta
    * against the persisted history index" made CONTINUOUS, the index
    * backed by [[graft.streaming.BucketedIndex]] exactly as q54's (one
    * state-store format for every foreachBatch state consumer). The
    * indexing job seeds the history corpus's bands
    * (doc_id % 5 ≠ 4, d09's split) once; the delta (doc_id % 5 = 4)
    * then arrives as three id-ordered micro-batches, and each batch
    * probes the index PRUNED to its own band keys, Jaccard-verifies on
    * the joined row, appends its verdicts, and appends its own bands so
    * LATER deltas dedup against it — with size-ratio compaction folding
    * the per-batch files into the re-bucketed base as the stream ages.
    * Semantics, the partner rule, and the append-idempotence argument
    * live at [[graft.streaming.IncDedup]]; the oracle is od09's chain
    * plus the one earlier-delta clause
    * ([[DedupQueries.oIncDedupStream]]). Resume contract: a second
    * construction over the same checkpoint re-ingests nothing (index
    * seeding is existence-gated, AvailableNow finds every file
    * committed) and returns identical rows.
    *
    * The dataflow is parameterized over runKey + the fold policy so the
    * declared q58 (production size-ratio trigger) and q58b (forced
    * per-batch folds at a P-moving target — see [[q54b]]'s rationale;
    * the oracle is unchanged because the LSH band key is fixed and P is
    * layout-only) share one definition. */
  private def q58Run(
      s0: SparkSession, d: String, runKey: String,
      targetRowsPerBucket: Long, minBuckets: Int,
      forceCompact: Boolean): DataFrame = {
    val r = new Replay(s0, Replay.Source(
      "graft_incdedup", Seq("documents.parquet"), "doc_id LONG, text STRING",
      (s, d) => idThirds(documents(s, d).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 5 === 4), "doc_id")),
      runKey, d)
    val idxRoot = r.outDir + "_index"
    graft.streaming.IncDedup.seedHistory(
      r.session,
      DedupQueries.keyedBandsOf(
        documents(r.session, d).select(col("doc_id"), col("text"))
          .filter(col("doc_id") % 5 =!= 4)),
      idxRoot, targetRowsPerBucket, minBuckets)
    r.foreachBatch(r.stream) { (batch, batchId) =>
      graft.streaming.IncDedup.processBatch(
        batch, batchId, resDir = r.outDir, root = idxRoot,
        targetRowsPerBucket, minBuckets, forceCompact = forceCompact)
    }
    r.session.read.parquet(r.outDir).distinct().orderBy("new_id", "dup_of")
  }

  private def q58(s0: SparkSession, d: String): DataFrame =
    q58Run(s0, d, "q58", 4096L, 16, forceCompact = false)

  private def q58b(s0: SparkSession, d: String): DataFrame =
    q58Run(s0, d, "q58b", 64L, 4, forceCompact = true)

  /** Q60 — STREAMING ANN: continuous embedding ingest with
    * search-on-arrival, the THIRD foreachBatch state consumer on
    * [[graft.streaming.BucketedIndex]] (q54 near-dup, q58 dedup
    * signatures, now the v-family). Each arriving delta vector
    * (vec_id % 5 = 4, three id-ordered micro-batches) is answered with
    * its top-10 most-cosine-similar EARLIER vectors among its
    * SRP-bucket-mates — history (vec_id % 5 ≠ 4, seeded once into the
    * index) unconditionally, earlier-ingested delta by the q58
    * `pid < qid` rule — then added to the index so later arrivals can
    * match it. The SRP width is fixed by the HISTORY count through the
    * ONE [[graft.functions.VectorFns.adaptiveSrpBits]] rule (the
    * indexing job sizes the width; the oracle re-derives it from the
    * same count with the same integer-shift SQL). Semantics, partner
    * algebra and the rounded-rank discipline live at
    * [[graft.streaming.AnnStream]]. */
  private def q60(s0: SparkSession, d: String): DataFrame =
    annRun(s0, d, "q60", graft.sources.VectorIndex.IndexBucketTarget, reband = false)

  /** One oracle text for the streamed top-k: the ov02 SRP CTE family
    * with the width from the HISTORY count, the q58 partner clause,
    * and rank over the ROUNDED cosine. */
  private val oq60 =
    """WITH hb AS (SELECT coalesce(min(k), 16) AS bits FROM generate_series(4,16) t(k)
      |      WHERE (SELECT count(*) FROM embeddings WHERE vec_id % 5 <> 4) <= 4096 * (1::BIGINT << k)),
      |n AS (SELECT vec_id, list_transform(embedding, x->x::DOUBLE) e FROM embeddings),
      |b AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x->x*x))) nrm,
      |  substr(array_to_string(list_transform(list_slice(e, 1, 16),
      |    x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), ''), 1, (SELECT bits FROM hb)) bucket FROM n),
      |cand AS (SELECT q.vec_id qid, p.vec_id pid,
      |    list_sum(list_transform(list_zip(q.e, p.e), x -> x[1]*x[2]))/(q.nrm*p.nrm) cos
      |  FROM b q JOIN b p ON q.bucket = p.bucket
      |  WHERE q.vec_id % 5 = 4 AND (p.vec_id % 5 <> 4 OR p.vec_id < q.vec_id)),
      |r AS (SELECT qid, pid, ROUND(cos, 4) cs,
      |    row_number() OVER (PARTITION BY qid ORDER BY ROUND(cos, 4) DESC, pid) rn FROM cand)
      |SELECT qid AS vec_id, pid AS neighbor, cs AS cos_sim, rn AS nb_rank
      |FROM r WHERE rn <= 10 ORDER BY vec_id, nb_rank""".stripMargin

  /** Q60b — STREAMING ANN UNDER THE PRODUCTION RE-BAND POLICY: q60's
    * dataflow with `reband = true`, so each size fold recomputes the
    * SRP band width at the width the CURRENT row count calls for (the
    * capability AnnRebandSpec pins, measured at 21× candidate-mass
    * reduction — here under the CROSS-ENGINE oracle, which the
    * declared q60 cannot do: a mid-stream width flip is not one SQL
    * bucket CTE).
    *
    * The determinism knob that makes the oracle expressible:
    * `forceCompact` folds after EVERY batch (production uses the
    * amortized byte-ratio trigger, whose timing parquet file sizes —
    * not SQL — decide), so batch k's live width is a pure function of
    * ROW COUNTS: w_k = adaptiveSrpBits(|history| + |deltas before k|,
    * target 7 — chosen so the test estates' counts STRADDLE a width
    * boundary mid-stream (sf0.001/0.01: 400→466 crosses 7·2⁶ = 448;
    * sf0.1: 1600→1866 crosses 7·2⁸ = 1792), because the whole point
    * of the variant is an ORACLE-CHECKED width FLIP — at a target of
    * 64 the ~8%-per-batch growth never crosses a power-of-two and the
    * flip would go unexercised). The oracle is PHASE-SPLIT: one width
    * per batch epoch derived with the same integer-shift SQL, each
    * query joined to its phase's width, candidates bucket-matched on
    * `substr(sig, 1, w_phase)`. Partner rule, rounded-rank discipline,
    * and the result read are q60's verbatim; replays q60's source, own
    * index/checkpoint. */
  private def q60b(s0: SparkSession, d: String): DataFrame =
    annRun(s0, d, "q60b", 7L, reband = true)

  /** q60/q60b's dataflow: `bandTarget` is the SRP BAND occupancy target
    * (oracle-pinned); the index FILE layout follows the 4096 every other
    * consumer uses — see AnnStream.seedHistory's layout note. `reband`
    * re-derives the band width at a fold forced after every batch. */
  private def annRun(
      s0: SparkSession, d: String, runKey: String,
      bandTarget: Long, reband: Boolean): DataFrame = {
    val r = new Replay(s0, Replay.Source(
      "graft_annstream", Seq("embeddings.parquet"), "vec_id LONG, embedding ARRAY<FLOAT>",
      (s, d) => idThirds(embeddings(s, d).select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 5 === 4), "vec_id")),
      runKey, d)
    val hist = embeddings(r.session, d).select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % 5 =!= 4)
    val bits = graft.functions.VectorFns.adaptiveSrpBits(hist.count(), bandTarget)
    val idxRoot = r.outDir + "_index"
    graft.streaming.AnnStream.seedHistory(
      r.session, hist, idxRoot, bits, targetRowsPerBucket = bandTarget,
      layoutRowsPerBucket = 4096L)
    r.foreachBatch(r.stream) { (batch, batchId) =>
      graft.streaming.AnnStream.processBatch(
        batch, batchId, resDir = r.outDir, root = idxRoot, bits = bits,
        targetRowsPerBucket = bandTarget, reband = reband, forceCompact = reband,
        layoutRowsPerBucket = 4096L)
    }
    r.session.read.parquet(r.outDir).distinct()
      .orderBy("vec_id", "nb_rank")
  }

  /** q60b's phase-split oracle: one SRP width PER BATCH EPOCH, each
    * derived from the row count the fold before that epoch saw, with
    * q60's candidate algebra otherwise verbatim (earlier-batch deltas
    * satisfy `pid < qid` automatically — batches are id-ordered
    * thirds — so the partner clause needs no batch arithmetic; only
    * the bucket WIDTH is per-phase). */
  private val oq60b =
    """WITH mx AS (SELECT max(vec_id) AS m FROM embeddings WHERE vec_id % 5 = 4),
      |bat AS (SELECT vec_id,
      |    CASE WHEN vec_id < (SELECT m // 3 FROM mx) THEN 0
      |         WHEN vec_id < (SELECT 2 * m // 3 FROM mx) THEN 1 ELSE 2 END AS ph
      |  FROM embeddings WHERE vec_id % 5 = 4),
      |cnt AS (SELECT
      |    (SELECT count(*) FROM embeddings WHERE vec_id % 5 <> 4) AS h,
      |    (SELECT count(*) FROM bat WHERE ph = 0) AS d0,
      |    (SELECT count(*) FROM bat WHERE ph = 1) AS d1),
      |w AS (SELECT ph, coalesce(min(k), 16) AS bits
      |  FROM (SELECT 0 AS ph, h AS n FROM cnt
      |        UNION ALL SELECT 1, h + d0 FROM cnt
      |        UNION ALL SELECT 2, h + d0 + d1 FROM cnt) t(ph, n),
      |       generate_series(4, 16) g(k)
      |  WHERE n <= 7 * (1::BIGINT << k)
      |  GROUP BY ph),
      |n AS (SELECT vec_id, list_transform(embedding, x->x::DOUBLE) e FROM embeddings),
      |b AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x->x*x))) nrm,
      |  array_to_string(list_transform(list_slice(e, 1, 16),
      |    x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') sig FROM n),
      |cand AS (SELECT q.vec_id qid, p.vec_id pid,
      |    list_sum(list_transform(list_zip(q.e, p.e), x -> x[1]*x[2]))/(q.nrm*p.nrm) cos
      |  FROM bat JOIN w ON w.ph = bat.ph
      |  JOIN b q ON q.vec_id = bat.vec_id
      |  JOIN b p ON substr(q.sig, 1, w.bits) = substr(p.sig, 1, w.bits)
      |  WHERE (p.vec_id % 5 <> 4 OR p.vec_id < q.vec_id)),
      |r AS (SELECT qid, pid, ROUND(cos, 4) cs,
      |    row_number() OVER (PARTITION BY qid ORDER BY ROUND(cos, 4) DESC, pid) rn FROM cand)
      |SELECT qid AS vec_id, pid AS neighbor, cs AS cos_sim, rn AS nb_rank
      |FROM r WHERE rn <= 10 ORDER BY vec_id, nb_rank""".stripMargin

  /** Q61 — STREAMING DECONTAMINATION: batch p04's benchmark-overlap
    * check made continuous, the FOURTH foreachBatch consumer on
    * [[graft.streaming.BucketedIndex]] (q54 near-dup, q58 dedup, q60
    * ANN, now the curation family). The benchmark docs' distinct
    * 8-gram hashes are seeded ONCE into a persisted index (benchmarks
    * are fixed before the corpus arrives — the index is STATIC, so
    * per-batch cost is flat in stream age by construction); the train
    * side then arrives as three id-ordered micro-batches, each gramm-
    * ed, probed against the index PRUNED to its own bucket keys, and
    * its contaminated (doc_id, lang) verdicts appended. Semantics and
    * the append-idempotence argument live at
    * [[graft.streaming.Decontam]]. q61 streams p04's ENTIRE train
    * side, so the batch query's oracle text is this query's oracle
    * verbatim — the q24/q36 one-oracle discipline. */
  private def q61(s0: SparkSession, d: String): DataFrame = {
    val r = new Replay(s0, Replay.Source(
      "graft_decontam", Seq("documents.parquet"), "doc_id LONG, lang STRING, text STRING",
      (s, d) => idThirds(documents(s, d).select(col("doc_id"), col("lang"), col("text"))
        .filter(!AnalyticsQueries.isBenchDoc(col("doc_id"))), "doc_id")),
      "q61", d)
    val idxRoot = r.outDir + "_index"
    graft.streaming.Decontam.seedBench(
      r.session,
      documents(r.session, d).select(col("doc_id"), col("lang"), col("text"))
        .filter(AnalyticsQueries.isBenchDoc(col("doc_id"))),
      idxRoot)
    r.foreachBatch(r.stream) { (batch, batchId) =>
      graft.streaming.Decontam.processBatch(
        batch, batchId, resDir = r.outDir, root = idxRoot)
    }
    r.session.read.parquet(r.outDir).distinct()
      .groupBy("lang")
      .agg(count(lit(1)).as("n_contaminated"))
      .orderBy("lang")
  }

  /** Q46 — the streaming pipeline through the RELATIONAL sink, under
    * the oracle: q33's dataflow with `foreachBatch` loading each
    * micro-batch into embedded Derby via
    * [[graft.etl.Pipeline.writeJdbcMicroBatch]] (delete-then-insert
    * keyed by batch_id — the idempotent contract PipelineSpec unit-
    * tests, here proven END TO END: the query result is read back
    * from the DATABASE with `spark.read.jdbc` and must hash-match the
    * DuckDB oracle). This is the reference's actual load stage —
    * parameterized INSERTs into a SQL store
    * (`/root/reference/src/database/operations.rs:17-90`) — as a
    * streaming sink; re-running the query (Bench's min-of-2) replays
    * the same batch ids into the same in-memory database and the
    * delete-then-insert idempotence keeps the table identical, which
    * is itself the crash-replay property under test. Replays q33's
    * source. */
  private def q46(s0: SparkSession, d: String): DataFrame = {
    val r = new Replay(s0, readingsSrc, "q46", d)
    val url =
      s"jdbc:derby:memory:graftq46_${Replay.pathKey(d)};create=true"
    r.foreachBatch(graft.etl.Pipeline.batch(
        r.stream.withWatermark("ts", "1 minute"), synthTags(r.session))) {
      (batchDf, batchId) => graft.etl.Pipeline.writeJdbcMicroBatch(batchDf, batchId, url)
    }
    r.session.read.jdbc(url, "sensor_data", new java.util.Properties)
      .select("mac", "temperature", "humidity", "pressure", "time", "name", "samples")
      .orderBy("mac", "time")
  }

  /** Q39 — STREAM-STREAM interval join under the oracle: clicks joined
    * to same-user views from the preceding 12 hours, both sides
    * watermarked, replayed through three ts-ordered micro-batches so
    * matches genuinely cross batch boundaries (the view buffered in
    * join state until its click arrives two batches later — the state
    * path a single-batch replay would never exercise). The third
    * stateful streaming runtime pinned by an independent engine: q33 =
    * windowed aggregation, q36 = custom `flatMapGroupsWithState`, q39 =
    * symmetric join state.
    *
    * Both branches derive from ONE file source; the range predicate
    * `cts − 12 h ≤ vts ≤ cts` is what lets Spark derive a state
    * watermark per side (views evict once the click-side watermark
    * passes vts + 12 h) — without it, stream-stream join state grows
    * forever at 100 TB. Inner-join matches emit as they arrive, so no
    * watermark-flush sentinels are needed (emission is not
    * watermark-gated; only state EVICTION is). Batches split at
    * [[tsCuts]], so the replay equals the batch join exactly. */
  private def q39(s0: SparkSession, d: String): DataFrame =
    clickViewRun(s0, d, "q39", Replay.Source(
      "graft_ssjoin", Seq("events.parquet"), clickViewSchema,
      (s, d) => tsThirds(clickViewEvents(s, d))), outer = false)

  private val oq39 =
    """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
      |  epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON c.user_id = v.user_id
      | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 12 HOUR
      |ORDER BY click_id, view_id""".stripMargin

  /** Q40 — STREAM-STATIC enrichment join under the oracle, completing
    * the streaming-runtime quartet (q33 windowed aggregation, q36
    * custom state, q39 symmetric join state, q40 stateless dimension
    * join — the OP-10 enrichment as a stream). The static
    * customer⋈nation dimension is planned into every micro-batch
    * (auto-broadcast while it fits, shuffled join once it doesn't);
    * the join holds NO state store and is not watermark-gated, so rows
    * emit the batch they arrive and the three-batch replay is
    * batch-equal by construction. Batches split by event_id stripe —
    * deliberately NOT time-ordered, which a stateless join must not
    * care about (and a stateful one would). At 100 TB this is the
    * canonical streaming enrich: dimension refreshes swap the
    * broadcast between micro-batches without touching stream state. */
  private def q40(s0: SparkSession, d: String): DataFrame = {
    val r = new Replay(s0, Replay.Source(
      "graft_enrich", Seq("events.parquet"), "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE",
      (s, d) => {
        val ev = events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        (0 until 3).map(k => ev.filter(col("event_id") % 3 === k))
      }), "q40", d)
    val dim = customer(r.session, d)
      .join(nation(r.session, d), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("user_id"), col("n_name"))
    // No broadcast() hint: customer SCALES WITH THE CORPUS (the t06/t07
    // lesson — never force a broadcast of an unbounded table). Under the
    // autoBroadcastJoinThreshold the planner broadcasts it per batch
    // anyway; past it, the join degrades to a shuffled join instead of
    // an OOM'd driver.
    r.toParquet(r.stream.join(dim, Seq("user_id"))
        .select(col("event_id"), col("n_name"), col("value")))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_events"), oround(sum("value"), 2).as("sum_value"))
      .orderBy("n_name")
  }

  private val oq40 =
    """SELECT n.n_name, count(*) AS n_events, ROUND(sum(e.value), 2) AS sum_value
      |FROM events e
      |JOIN customer c ON c.c_custkey = e.user_id
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q42 — stream-stream LEFT OUTER interval join under the oracle:
    * q39's clicks⋈views join with the unmatched clicks KEPT. Outer
    * emission — unlike q39's inner matches — IS watermark-gated: a
    * click can only emit with a NULL view once the watermark proves no
    * matching view can still arrive (past cts, the range's upper
    * bound), so this pins the fourth and last piece of join-state
    * semantics: q39 = buffered-match emission + eviction, q42 =
    * null-completion on state EXPIRY. Without the far-future sentinel
    * batches the tail clicks would sit in state when AvailableNow
    * drains and the unmatched rows would silently vanish — two
    * sentinel files (evictions in batch N fire on the watermark
    * computed after batch N−1) advance the watermark past every real
    * click and flush them; the sentinel user is filtered from the
    * result. At 100 TB the state bound is identical to q39's
    * (per-side watermark from the range predicate); the only extra
    * cost of LEFT OUTER is that left rows live to watermark expiry
    * instead of leaving at first match. */
  private def q42(s0: SparkSession, d: String): DataFrame =
    clickViewRun(s0, d, "q42", Replay.Source(
      "graft_ssouter", Seq("events.parquet"), clickViewSchema,
      (s, d) => {
        // BOTH event types per sentinel file: each branch's watermark only
        // sees rows surviving its own filter, and the GLOBAL watermark is
        // the min across branches — a view-only sentinel would leave the
        // click-side watermark at the last real click and strand it in state.
        def sentinel(ts: String, id: Long) = s.range(1).select(
          explode(array(
            struct(lit(id).as("event_id"), to_timestamp(lit(ts)).as("ts"),
              lit(-1L).as("user_id"), lit("click").as("event_type")),
            struct(lit(id - 1).as("event_id"), to_timestamp(lit(ts)).as("ts"),
              lit(-1L).as("user_id"), lit("view").as("event_type")))).as("e"))
          .select(col("e.*"))
        tsThirds(clickViewEvents(s, d)) ++
          Seq(sentinel("2030-01-01 00:00:00", -1L), sentinel("2030-02-01 00:00:00", -3L))
      }), outer = true)

  private val clickViewSchema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING"

  private def clickViewEvents(s: SparkSession, d: String): DataFrame =
    events(s, d).select(col("event_id"), col("ts"), col("user_id"), col("event_type"))

  /** q39/q42's clicks⋈views interval join over `src`: inner (q39), or
    * left outer (q42), whose source ends in flush sentinels that the
    * read-back drops. Each keeps its own output column order. */
  private def clickViewRun(
      s0: SparkSession, d: String, runKey: String, src: Replay.Source,
      outer: Boolean): DataFrame = {
    val r = new Replay(s0, src, runKey, d)
    val stream = r.stream
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("cts"), col("user_id"))
      .withWatermark("cts", "1 minute")
    val views = stream.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("ts").as("vts"),
        col("user_id").as("v_user_id"))
      .withWatermark("vts", "1 minute")
    val cols =
      if (outer) Seq("click_id", "user_id", "view_id") else Seq("click_id", "view_id", "user_id")
    val out = r.toParquet(clicks
      .join(views,
        col("user_id") === col("v_user_id") &&
          col("vts") <= col("cts") &&
          col("vts") >= col("cts") - expr("interval 12 hours"),
        if (outer) "leftOuter" else "inner")
      .select(cols.map(col) :+
        (unix_micros(col("cts")) - unix_micros(col("vts"))).as("gap_us"): _*))
    (if (outer) out.filter(col("user_id") >= 0) else out) // drop the sentinels
      .orderBy("click_id", "view_id")
  }

  private val oq42 =
    """SELECT c.event_id AS click_id, c.user_id, v.event_id AS view_id,
      |  epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON c.user_id = v.user_id
      | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 12 HOUR
      |ORDER BY click_id, view_id""".stripMargin

  /** Q26 — the COMPOSED reference-parity pipeline, oracle-checked end to
    * end: synthesize format-5 readings from events (5 sensors, 3
    * whitelisted), then run [[graft.etl.Pipeline.batch]] — whitelist
    * semi-join → validate/decode (sign extension, clamp, offset,
    * decode rounding) → 30-min window → two-stage-rounded averages +
    * wrap-aware movement delta → name enrichment. The golden tests pin
    * hand-computed cases; this pins the whole dataflow against an
    * independent engine at 10k-event scale. */
  /** The synthetic tag dimension shared by q26 (batch parity) and q33
    * (streaming replay parity). */
  private def synthTags(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("AA:BB:CC:DD:EE:01", "Kitchen"),
      ("AA:BB:CC:DD:EE:02", "Sauna"),
      ("AA:BB:CC:DD:EE:03", "Garage")).toDF("mac", "name")
  }

  /** Deterministic format-5 readings synthesized from `events` (5
    * sensors, 3 whitelisted) — the shared input of q26 and q33, so the
    * batch and streaming runtimes are checked against the SAME oracle
    * dataflow. */
  private def synthReadings(s: SparkSession, d: String): DataFrame = {
    val payloadHex = graft.functions.Format5.encodeHex(
      tempRaw = oround(col("value") * 200, 0).cast("long"),
      humRaw = get_json_object(col("props"), "$.k").cast("long") * 400,
      pressRaw = col("user_id") * 100,
      axRaw = (col("event_id") % 2001) - 1000,
      ayRaw = (col("event_id") % 1999) - 999,
      azRaw = (col("event_id") % 997) - 498,
      movementRaw = col("event_id"))
    events(s, d)
      .filter(get_json_object(col("props"), "$.k").isNotNull)
      .select(
        concat(lit("aa:bb:cc:dd:ee:0"), ((col("user_id") % 5) + 1).cast("string")).as("mac"),
        col("ts"),
        unhex(payloadHex).as("payload"))
  }

  private def q26(s: SparkSession, d: String): DataFrame = {
    val tags = synthTags(s)
    val readings = synthReadings(s, d)
    graft.etl.Pipeline.batch(readings, tags)
      .select(
        col("time"), col("mac"), col("temperature"), col("humidity"),
        col("pressure"), col("acceleration_x"), col("acceleration_y"),
        col("acceleration_z"), col("movement_counter"), col("samples"), col("name"))
      .orderBy("mac", "time")
  }

  // -------------------------------------------------------------------
  // DuckDB oracle texts
  // -------------------------------------------------------------------

  private val oq01 =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin

  private val oq02 =
    """SELECT count(*) AS n FROM lineitem
      |WHERE l_quantity BETWEEN 1 AND 50 AND l_discount >= 0""".stripMargin

  private val oq03 =
    """SELECT count(*) AS n FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin

  private val oq04 =
    """SELECT l_returnflag, l_linestatus,
      |  ROUND(AVG(l_quantity), 2) AS avg_qty,
      |  ROUND(AVG(l_extendedprice), 2) AS avg_price,
      |  ROUND(SUM(l_quantity), 2) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  private val oq05 =
    """SELECT to_timestamp((floor(epoch(ts))::BIGINT // 1800) * 1800)::TIMESTAMP AS w_start,
      |  event_type, COUNT(*) AS n, ROUND(AVG(value), 2) AS avg_value
      |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  private val oq06 =
    """SELECT user_id,
      |  ((CAST(ROUND(l, 0) AS INT) - CAST(ROUND(f, 0) AS INT)) % 256 + 256) % 256 AS delta
      |FROM (
      |  SELECT DISTINCT user_id,
      |    first_value(value) OVER w AS f,
      |    last_value(value) OVER w AS l
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |) ORDER BY user_id""".stripMargin

  private val oq07 =
    """SELECT c_custkey, COALESCE(n_name, 'Unknown') AS name
      |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY c_custkey""".stripMargin

  private val oq08 =
    """SELECT user_id, event_type, event_id AS last_event_id FROM (
      |  SELECT user_id, event_type, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  private val oq04Inner =
    """SELECT l_returnflag, l_linestatus,
      |    ROUND(AVG(l_quantity), 2) AS avg_qty,
      |    ROUND(AVG(l_extendedprice), 2) AS avg_price,
      |    ROUND(SUM(l_quantity), 2) AS sum_qty,
      |    COUNT(*) AS n
      |  FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  private val oq09a =
    s"""SELECT l_returnflag, l_linestatus, avg_qty, n FROM (
       |  $oq04Inner
       |) ORDER BY l_returnflag, l_linestatus""".stripMargin

  private val oq09b =
    s"""SELECT l_returnflag, l_linestatus, avg_price, sum_qty FROM (
       |  $oq04Inner
       |) ORDER BY l_returnflag, l_linestatus""".stripMargin

  private val oq10 =
    """SELECT event_id, strftime(ts, '%d.%m.%Y - %H:%M:%S') AS fmt
      |FROM events ORDER BY event_id LIMIT 100""".stripMargin

  private val oq11 =
    """SELECT split_part(kv, '=', 1) AS mac, split_part(kv, '=', 2) AS name
      |FROM (SELECT unnest(string_split(
      |  'AA:BB:CC:DD:EE:01=Kitchen,AA:BB:CC:DD:EE:02=Sauna,AA:BB:CC:DD:EE:03=Garage',
      |  ',')) AS kv) ORDER BY mac""".stripMargin

  private val oq52 =
    """WITH env(key, value) AS (VALUES
      |  ('RUUVI_TAG_1_MAC','AA:BB:CC:DD:EE:01'),
      |  ('RUUVI_TAG_1_NAME','Kitchen'),
      |  ('RUUVI_TAG_2_MAC','AA:BB:CC:DD:EE:02'),
      |  ('RUUVI_TAG_2_NAME','Sauna'),
      |  ('RUUVI_TAG_porch_MAC','AA:BB:CC:DD:EE:03'),
      |  ('RUUVI_TAG_porch_NAME','Garage'),
      |  ('RUUVI_TAG_7_MAC','AA:BB:CC:DD:EE:02'),
      |  ('RUUVI_TAG_7_NAME','Basement'),
      |  ('RUUVI_TAG_9_MAC','AA:BB:CC:DD:EE:09'),
      |  ('RUUVI_TAG_10_NAME','Attic'),
      |  ('RUUVI_TAGS_MAC','not-a-tag'),
      |  ('PATH','/usr/bin')),
      |m AS (SELECT substr(key, 11, length(key) - 14) AS idx, value AS mac
      |      FROM env WHERE starts_with(key, 'RUUVI_TAG_')
      |        AND ends_with(substr(key, 11), '_MAC')),
      |n AS (SELECT substr(key, 11, length(key) - 15) AS idx, value AS name
      |      FROM env WHERE starts_with(key, 'RUUVI_TAG_')
      |        AND ends_with(substr(key, 11), '_NAME'))
      |SELECT mac, min_by(name, idx) AS name FROM m JOIN n USING (idx)
      |GROUP BY mac ORDER BY mac""".stripMargin

  private val oq12 =
    """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value FROM (
      |  SELECT * FROM events WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT * FROM events WHERE event_id % 2 = 1
      |) GROUP BY event_type ORDER BY event_type""".stripMargin

  private val oq13 =
    """SELECT l_orderkey,
      |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  o_orderdate
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-06-01'
      |  AND l_shipdate  > TIMESTAMP '1998-06-01'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin

  private val oq14 =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  private val oq15 =
    "SELECT COUNT(DISTINCT o_custkey) AS n FROM orders"

  private val oq15b =
    """SELECT 'both' AS tag, k FROM (
      |  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |  INTERSECT SELECT o_custkey FROM orders)
      |UNION ALL
      |SELECT 'no_orders' AS tag, k FROM (
      |  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT SELECT o_custkey FROM orders)
      |ORDER BY tag, k""".stripMargin

  private val oq16 =
    """SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k
      |FROM events ORDER BY event_id LIMIT 100""".stripMargin

  private val oq17 =
    """SELECT lang, COUNT(*) AS n_tokens FROM (
      |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
      |) GROUP BY lang ORDER BY lang""".stripMargin

  private val oq17b =
    """SELECT tok, COUNT(*) AS n FROM (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |) GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin

  private val oq18 =
    """SELECT md5(text) AS h, COUNT(*) AS n, MIN(doc_id) AS keeper
      |FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1 ORDER BY h""".stripMargin

  private val oq19 =
    """SELECT vec_id,
      |  ROUND(list_sum(list_transform(
      |    list_zip(embedding::DOUBLE[],
      |             (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]),
      |    x -> x[1] * x[2])), 4) AS score
      |FROM embeddings ORDER BY score DESC, vec_id LIMIT 10""".stripMargin

  private val oq20 =
    """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n FROM orders
      |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  private val oq21 =
    """SELECT user_id,
      |  (epoch_us(max(ts)) // 1000000 - epoch_us(min(ts)) // 1000000)::BIGINT AS span_sec,
      |  count(*) AS n
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  private val oq20b =
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
      |  ROUND(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  private val oq22 =
    """SELECT event_type,
      |  ROUND(quantile_cont(value, 0.5), 2) AS p50,
      |  ROUND(quantile_cont(value, 0.95), 2) AS p95,
      |  count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  private val oq23 =
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view')
      |SELECT p.event_id AS purchase_id, v.event_id AS view_id,
      |  (epoch_us(p.ts) // 1000000 - epoch_us(v.ts) // 1000000)::BIGINT AS gap_sec
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
      |ORDER BY purchase_id""".stripMargin

  private val oq24 =
    """WITH o AS (SELECT user_id, ts, event_id,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |           OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id, event_id,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM o)
      |SELECT user_id, count(DISTINCT sess)::BIGINT AS n_sessions, count(*) AS n_events,
      |  ROUND(count(*)::DOUBLE / count(DISTINCT sess), 4) AS avg_events_per_session
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin

  private val oq25 =
    """SELECT lang, count(*) AS n_sampled FROM documents
      |WHERE ('0x'||substr(md5('s:'||doc_id::VARCHAR),1,15))::BIGINT % 10 = 0
      |GROUP BY lang ORDER BY lang""".stripMargin

  // identical ANSI text runs on both engines — that is the point of q27
  private val oq27 =
    """SELECT o_orderkey, ROUND(o_totalprice, 2) AS price FROM orders o
      |WHERE o_totalprice > 3 * (SELECT AVG(o2.o_totalprice) FROM orders o2
      |                          WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** oq33 = oq26's pipeline reduced to the SENSOR sink projection (the
    * streaming dual sink's atmospheric vertical, OP-12). */
  private val oq33 =
    """WITH raw AS (
      |  SELECT upper('aa:bb:cc:dd:ee:0' || ((user_id % 5) + 1)::VARCHAR) AS mac, ts,
      |    ((round(value*200)::BIGINT % 65536) + 65536) % 65536 AS traw,
      |    (json_extract(props,'$.k')::BIGINT * 400) % 65536 AS hraw,
      |    (user_id * 100) % 65536 AS praw
      |  FROM events WHERE json_extract(props,'$.k') IS NOT NULL
      |    AND value IS NOT NULL AND user_id IS NOT NULL),
      |dec AS (
      |  SELECT mac, ts,
      |    ROUND((CASE WHEN traw >= 32768 THEN traw-65536 ELSE traw END) * (0.005::DOUBLE), 2) AS t,
      |    ROUND(LEAST(hraw * (0.0025::DOUBLE), 100.0::DOUBLE), 2) AS h,
      |    ROUND((praw + 50000) / (100.0::DOUBLE), 2) AS p
      |  FROM raw
      |  WHERE mac IN ('AA:BB:CC:DD:EE:01','AA:BB:CC:DD:EE:02','AA:BB:CC:DD:EE:03')),
      |w AS (SELECT *, epoch_us(ts) // 1800000000 AS wb FROM dec),
      |agg AS (SELECT mac, wb,
      |    ROUND((SUM(CAST(round(t*100, 0) AS BIGINT))::DOUBLE / count(*)) / 100, 2) AS temperature,
      |    ROUND((SUM(CAST(round(h*100, 0) AS BIGINT))::DOUBLE / count(*)) / 100, 2) AS humidity,
      |    ROUND((SUM(CAST(round(p*100, 0) AS BIGINT))::DOUBLE / count(*)) / 100, 2) AS pressure, count(*)::INT AS samples
      |  FROM w GROUP BY mac, wb)
      |SELECT mac, temperature, humidity, pressure,
      |  to_timestamp((wb + 1) * 1800)::TIMESTAMP AS time,
      |  CASE mac WHEN 'AA:BB:CC:DD:EE:01' THEN 'Kitchen'
      |           WHEN 'AA:BB:CC:DD:EE:02' THEN 'Sauna'
      |           ELSE 'Garage' END AS name, samples
      |FROM agg ORDER BY mac, time""".stripMargin

  private val oq26 =
    """WITH raw AS (
      |  SELECT upper('aa:bb:cc:dd:ee:0' || ((user_id % 5) + 1)::VARCHAR) AS mac, ts,
      |    ((round(value*200)::BIGINT % 65536) + 65536) % 65536 AS traw,
      |    (json_extract(props,'$.k')::BIGINT * 400) % 65536 AS hraw,
      |    (user_id * 100) % 65536 AS praw,
      |    (((event_id % 2001) - 1000) + 65536) % 65536 AS axraw,
      |    (((event_id % 1999) - 999) + 65536) % 65536 AS ayraw,
      |    (((event_id % 997) - 498) + 65536) % 65536 AS azraw,
      |    event_id % 256 AS mraw
      |  FROM events WHERE json_extract(props,'$.k') IS NOT NULL
      |    AND value IS NOT NULL AND user_id IS NOT NULL),
      |dec AS (
      |  SELECT mac, ts,
      |    ROUND((CASE WHEN traw >= 32768 THEN traw-65536 ELSE traw END) * (0.005::DOUBLE), 2) AS t,
      |    ROUND(LEAST(hraw * (0.0025::DOUBLE), 100.0::DOUBLE), 2) AS h,
      |    ROUND((praw + 50000) / (100.0::DOUBLE), 2) AS p,
      |    ROUND((CASE WHEN axraw >= 32768 THEN axraw-65536 ELSE axraw END) * (0.001::DOUBLE), 3) AS ax,
      |    ROUND((CASE WHEN ayraw >= 32768 THEN ayraw-65536 ELSE ayraw END) * (0.001::DOUBLE), 3) AS ay,
      |    ROUND((CASE WHEN azraw >= 32768 THEN azraw-65536 ELSE azraw END) * (0.001::DOUBLE), 3) AS az,
      |    mraw
      |  FROM raw
      |  WHERE mac IN ('AA:BB:CC:DD:EE:01','AA:BB:CC:DD:EE:02','AA:BB:CC:DD:EE:03')),
      |w AS (SELECT *, epoch_us(ts) // 1800000000 AS wb FROM dec),
      |mv AS (SELECT DISTINCT mac, wb,
      |    first_value(mraw) OVER win AS f, last_value(mraw) OVER win AS l
      |  FROM w WINDOW win AS (PARTITION BY mac, wb ORDER BY ts, mraw
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
      |agg AS (SELECT mac, wb,
      |    ROUND((SUM(CAST(round(t*100, 0) AS BIGINT))::DOUBLE / count(*)) / 100, 2) AS temperature,
      |    ROUND((SUM(CAST(round(h*100, 0) AS BIGINT))::DOUBLE / count(*)) / 100, 2) AS humidity,
      |    ROUND((SUM(CAST(round(p*100, 0) AS BIGINT))::DOUBLE / count(*)) / 100, 2) AS pressure,
      |    ROUND((SUM(CAST(round(ax*1000, 0) AS BIGINT))::DOUBLE / count(*)) / 1000, 3) AS acceleration_x,
      |    ROUND((SUM(CAST(round(ay*1000, 0) AS BIGINT))::DOUBLE / count(*)) / 1000, 3) AS acceleration_y,
      |    ROUND((SUM(CAST(round(az*1000, 0) AS BIGINT))::DOUBLE / count(*)) / 1000, 3) AS acceleration_z,
      |    count(*)::INT AS samples
      |  FROM w GROUP BY mac, wb)
      |SELECT to_timestamp((agg.wb + 1) * 1800)::TIMESTAMP AS time, agg.mac,
      |  temperature, humidity, pressure, acceleration_x, acceleration_y, acceleration_z,
      |  (((mv.l - mv.f) % 256 + 256) % 256)::INT AS movement_counter, samples,
      |  CASE agg.mac WHEN 'AA:BB:CC:DD:EE:01' THEN 'Kitchen'
      |               WHEN 'AA:BB:CC:DD:EE:02' THEN 'Sauna'
      |               ELSE 'Garage' END AS name
      |FROM agg JOIN mv ON agg.mac = mv.mac AND agg.wb = mv.wb
      |ORDER BY agg.mac, time""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q01_scan_project", q01, Some(oq01)),
    QueryDef("q02_filter_count", q02, Some(oq02)),
    QueryDef("q03_semi_join", q03, Some(oq03)),
    QueryDef("q04_group_avg", q04, Some(oq04)),
    QueryDef("q05_tumbling_window", q05, Some(oq05)),
    QueryDef("q06_wrap_delta", q06, Some(oq06)),
    QueryDef("q07_enrich_left_join", q07, Some(oq07)),
    QueryDef("q08_dedup_last_wins", q08, Some(oq08)),
    QueryDef("q09a_sink_atmospheric", q09a, Some(oq09a)),
    QueryDef("q09b_sink_movement", q09b, Some(oq09b)),
    QueryDef("q10_datetime_format", q10, Some(oq10)),
    QueryDef("q11_config_parse", q11, Some(oq11)),
    QueryDef("q52_config_env_fallback", q52, Some(oq52)),
    QueryDef("q12_union_batches", q12, Some(oq12)),
    QueryDef("q13_join_tpch_q3", q13, Some(oq13)),
    QueryDef("q14_topk", q14, Some(oq14)),
    QueryDef("q15_count_distinct", q15, Some(oq15)),
    QueryDef("q15b_set_ops", q15b, Some(oq15b)),
    QueryDef("q16_json_extract", q16, Some(oq16)),
    QueryDef("q17_token_counts", q17, Some(oq17)),
    QueryDef("q17b_top_tokens", q17b, Some(oq17b)),
    QueryDef("q18_exact_dup_clusters", q18, Some(oq18)),
    QueryDef("q19_vector_topk", q19, Some(oq19)),
    QueryDef("q20_rollup", q20, Some(oq20)),
    QueryDef("q20b_cube", q20b, Some(oq20b)),
    QueryDef("q21_duration_seconds", q21, Some(oq21)),
    QueryDef("q22_percentiles", q22, Some(oq22)),
    QueryDef("q23_asof_join", q23, Some(oq23)),
    QueryDef("j11_asof_tolerance", j11, Some(oj11)),
    QueryDef("j12_asof_native", q23, Some(oq23)),
    QueryDef("q24_sessionize", q24, Some(oq24)),
    QueryDef("q25_hash_sample", q25, Some(oq25)),
    QueryDef("q26_pipeline_parity", q26, Some(oq26)),
    QueryDef("q27_sql_correlated", q27, Some(oq27)),
    QueryDef("q28_runtime_bloom", q28, Some(oq13)),
    QueryDef("q33_stream_replay", q33, Some(oq33)),
    // same oracle as q24: the custom-state streaming sessionizer must be
    // indistinguishable from the declarative batch definition
    QueryDef("q36_stream_sessions", q36, Some(oq24)),
    QueryDef("q43_stream_tws", sessionsRun(_, _, "q43"), Some(oq24)),
    // q33's oracle again: output across a stop + restart must equal the
    // single-incarnation run, which must equal batch
    QueryDef("q44_stream_restart", q44, Some(oq33)),
    QueryDef("q45_stream_dedup", q45, Some(oq45)),
    QueryDef("q54_stream_neardup", q54, Some(oq54)),
    // q54's oracle verbatim: the forced per-batch fold (production LSM
    // policy, P re-derived every epoch) must be result-invisible
    QueryDef("q54b_stream_neardup_fold", q54b, Some(oq54)),
    QueryDef("q57_stream_hopping", q57, Some(AnalyticsQueries.oa15)),
    QueryDef("q58_stream_incdedup", q58, Some(DedupQueries.oIncDedupStream)),
    // q58's oracle verbatim, same argument as q54b
    QueryDef("q58b_stream_incdedup_fold", q58b,
      Some(DedupQueries.oIncDedupStream)),
    QueryDef("q60_stream_ann", q60, Some(oq60)),
    QueryDef("q60b_stream_ann_reband", q60b, Some(oq60b)),
    QueryDef("q61_stream_decontam", q61, Some(AnalyticsQueries.op04)),
    // q33's oracle a third time: the JDBC-sink path must persist exactly
    // what the parquet sink persists
    QueryDef("q46_stream_jdbc", q46, Some(oq33)),
    QueryDef("q39_stream_join", q39, Some(oq39)),
    QueryDef("q40_stream_static", q40, Some(oq40)),
    QueryDef("q42_stream_outer_join", q42, Some(oq42)))
}
