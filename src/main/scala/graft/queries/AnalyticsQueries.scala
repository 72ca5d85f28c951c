package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.Num.oround

/** Analytic extensions beyond the reference surface — the operator
  * families a warehouse user reaches for next once the reference's fixed
  * dataflow (SURVEY §2.1) is covered:
  *
  *  - w01–w05: window ANALYTIC functions (lag, moving average, cumulative
  *    frames, ranking tiles, RANGE frames) — the reference has window
  *    *aggregation* only (OP-08); these are the per-row-with-context
  *    operators it lacks by design.
  *  - a01–a02: sketch audits — approx_count_distinct (HLL++) and
  *    approx_percentile checked against their exact counterparts inside
  *    the same query. The sketches are the 100 TB path (fixed-size state,
  *    one pass, mergeable partials); the audit shape proves the error
  *    budget holds while remaining a deterministic, oracle-checkable
  *    result (Spark's sketches are deterministic for a given input set).
  *  - j01–j05: the join zoo — anti join, banded range self-join,
  *    full-outer aggregate reconciliation, per-group top-N
  *    (WindowGroupLimit), pivot.
  *  - s01: two-phase salted aggregation ([[graft.ops.Skew]]) proven
  *    hash-identical to the plain aggregation it replaces.
  *  - p01–p02: training-data prep — deterministic hash train/val/test
  *    split and a length histogram.
  *
  * Every window carries a TOTAL order (unique tiebreak column) so ranking
  * and frame contents are deterministic across engines and runs.
  */
object AnalyticsQueries {

  /** Per-user event order: ts then event_id — the unique tiebreak makes
    * every frame/rank deterministic. */
  private val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))

  /** W1 — lag delta: value change since the user's previous event. The
    * first event's delta is NULL in both engines (no default argument —
    * null-lag semantics are part of the check). */
  private def w01(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_id"), oround(col("value") - lag("value", 1).over(byUser), 2).as("delta"))
      .orderBy("event_id")
      .limit(200)

  /** W2 — moving average over a 4-row sliding frame (3 preceding +
    * current). One shuffle on user_id + per-partition sort; the frame is
    * O(1) incremental state per row. */
  private def w02(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        col("event_id"),
        oround(avg("value").over(byUser.rowsBetween(-3, Window.currentRow)), 2).as("mavg"))
      .orderBy("event_id")
      .limit(200)

  /** W3 — cumulative sum + row_number over the same window spec: Spark
    * evaluates both in ONE window operator (same partition/order), not
    * two passes. */
  private def w03(s: SparkSession, d: String): DataFrame = {
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(
        col("event_id"),
        oround(sum("value").over(cum), 2).as("cum_value"),
        row_number().over(byUser).cast("long").as("rn"))
      .orderBy("event_id")
      .limit(200)
  }

  /** W4 — ranking family: rank, dense_rank, ntile(4) per event_type by
    * descending value (event_id tiebreak ⇒ deterministic tiles). */
  private def w04(s: SparkSession, d: String): DataFrame = {
    val byValue = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id"))
    events(s, d)
      .select(
        col("event_id"),
        rank().over(byValue).cast("long").as("rnk"),
        dense_rank().over(byValue).cast("long").as("drnk"),
        ntile(4).over(byValue).cast("long").as("tile"))
      .orderBy("event_id")
      .limit(200)
  }

  /** W5 — RANGE frame over event-time seconds: per event, the sum of
    * same-type values in the trailing 10 minutes. RANGE frames are
    * tie-inclusive (all rows at the same second join the frame), so the
    * result is deterministic even where timestamps collide. */
  private def w05(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(unix_timestamp(col("ts")))
      .rangeBetween(-600, Window.currentRow)
    events(s, d)
      .select(col("event_id"), oround(sum("value").over(w), 2).as("sum_10min"))
      .orderBy("event_id")
      .limit(200)
  }

  /** W6 — Spark's NATIVE `session_window` (gap-merge grouping, the
    * batch twin of the streaming sessionizers q24/q36 but expressed as
    * one built-in grouping expression, zero custom code): events whose
    * 30-minute-gap windows overlap merge into one session; the window
    * end is last-event + gap, so `sess_end − sess_start` is the padded
    * session span. One shuffle on (user_id, merged window) with partial
    * aggregation — the operator Spark ships precisely so sessionization
    * never needs a per-user sort + scan. The oracle re-derives sessions
    * as gaps-and-islands; Spark merges while next.ts < prev.ts + gap
    * (STRICT), so the oracle splits on gap >= 1800 s. */
  private def w06(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("n_events"))
      .orderBy("user_id", "sess_start")

  /** W7 — regular-grid RESAMPLE with linear interpolation (the sensor
    * gap-fill: the reference's irregular BLE readings re-gridded to an
    * hourly series per sensor; reference src/main.rs sleeps a fixed
    * interval but readings still arrive irregularly). The union-tag +
    * two-direction window trick is [[graft.ops.AsOfJoin]] extended to
    * BOTH neighbors: observations (side 0) and generated grid points
    * (side 1, null value) share one total order per user, `last(…,
    * ignoreNulls)` over the ascending running frame finds
    * (prev_ts, prev_v), the same frame shape over the REVERSED order
    * finds the next —
    * so interpolation needs ZERO joins and no range explosion. All four
    * window expressions partition on user_id →
    * ONE exchange (two sorts, one per direction); the bounds aggregate is a
    * map-side-combined |users|-row shuffle; grid size is
    * users × hours, linear in time span, never |events|². A grid point
    * that coincides with an observation reproduces it exactly (the
    * obs sorts before the grid row, so pt = ts and the ratio is 0).
    *
    * Frame discipline — BOTH neighbors come from O(n) RUNNING frames.
    * The previous observation is `last(…, ignoreNulls)` over the
    * ascending `unboundedPreceding→currentRow` frame, which Spark
    * evaluates incrementally (one state update per row). The NEXT
    * observation is the same running-frame shape over the REVERSED
    * total order (`ts desc, side desc, event_id desc` — desc puts
    * nulls last, the exact mirror of asc nulls-first): the rows at or
    * before `currentRow` in reversed order are exactly the rows at or
    * after it in ascending order, so `last(…, ignoreNulls)` there IS
    * the first following non-null. The naive alternative —
    * `first(…).over(rowsBetween(currentRow, unboundedFollowing))` —
    * plans as a SHRINKING frame that Spark re-scans to the partition
    * end for every row: O(n²) per user partition, quadratic in the
    * time span at fixed rate (measured 7.8 s vs 0.6 s at sf0.1).
    * Cost of the reversal: ONE extra local sort on the same user_id
    * exchange — two Window nodes, two sorts, still exactly one
    * shuffle for the whole neighbor lookup. */
  private def w07(s: SparkSession, d: String): DataFrame = {
    val obs = events(s, d).select(col("user_id"), col("ts"), col("value"), col("event_id"))
    val grid = obs.groupBy("user_id")
      .agg(date_trunc("hour", min("ts")).as("t0"), date_trunc("hour", max("ts")).as("t1"))
      .select(col("user_id"),
        explode(sequence(col("t0"), col("t1"), expr("interval 1 hour"))).as("ts"))
    val unioned = obs
      .select(col("user_id"), col("ts"), lit(0).as("side"), col("value"), col("event_id"))
      .unionByName(grid.select(col("user_id"), col("ts"), lit(1).as("side"),
        lit(null).cast("double").as("value"), lit(null).cast("long").as("event_id")))
    val ord = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("side"), col("event_id")) // asc = nulls first, both engines pinned
    val rev = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("side").desc, col("event_id").desc)
    val wp = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = rev.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val obsTs = when(col("value").isNotNull, col("ts"))
    // (nv−pv) * Δt THEN / span — the same association and long→double
    // promotions as the oracle text, for bit-identical doubles
    val interp = col("pv") + (col("nv") - col("pv")) *
      (unix_micros(col("ts")) - unix_micros(col("pt"))) /
      (unix_micros(col("nt")) - unix_micros(col("pt")))
    unioned
      .select(col("user_id"), col("ts"), col("side"),
        last(col("value"), ignoreNulls = true).over(wp).as("pv"),
        last(obsTs, ignoreNulls = true).over(wp).as("pt"),
        last(col("value"), ignoreNulls = true).over(wn).as("nv"),
        last(obsTs, ignoreNulls = true).over(wn).as("nt"))
      .filter(col("side") === 1 && col("pv").isNotNull && col("nv").isNotNull)
      .select(col("user_id"), col("ts").as("grid_ts"),
        oround(when(col("nt") === col("pt"), col("pv")).otherwise(interp), 4)
          .as("ivalue"))
      .orderBy("user_id", "grid_ts")
  }

  /** W8 — EWMA smoothing over a BOUNDED 20-row frame (α=0.2): the
    * exponential moving average is the one classic smoother a plain
    * window aggregate cannot express (y_k = αx_k + (1−α)y_{k−1} is
    * recursive), and the unbounded closed form Σx_i(1−α)^{−i} overflows
    * doubles once partitions grow past ~3500 rows — (1/0.8)^3500 is
    * infinity. The scale-safe form: truncate the kernel at 20 taps
    * (weight 0.8^20 ≈ 1.2%, renormalized), collect the frame ONCE via
    * `collect_list` over the running ROWS frame, and fold weights with
    * an indexed `transform` + `aggregate` — O(20) per row, one
    * exchange + one sort, no recursion, no magnitude growth anywhere.
    * The frame list is staged through a projection before the two
    * folds reference it (TextFns contract — no CSE across lambdas). */
  private def w08(s: SparkSession, d: String): DataFrame = {
    val frame = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-19, Window.currentRow)
    val decay = lit(0.8)
    def weighted(value: Column => Column): Column =
      aggregate(
        transform(col("lst"), (x, i) => value(x) * pow(decay, size(col("lst")) - 1 - i)),
        lit(0.0), (acc, v) => acc + v)
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("lst", collect_list("value").over(frame))
      .select(
        col("user_id"), col("event_id"),
        oround(weighted(identity) / weighted(_ => lit(1.0)), 4).as("ewma"))
      .orderBy("event_id")
      .limit(200)
  }

  private val ow08 =
    """WITH o AS (SELECT user_id, ts, event_id, value,
      |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS lst
      |  FROM events)
      |SELECT user_id, event_id, ROUND(
      |    list_sum(list_transform(lst, (x, i) -> x * pow(0.8, len(lst) - i))) /
      |    list_sum(list_transform(lst, (x, i) -> pow(0.8, len(lst) - i))), 4) AS ewma
      |FROM o ORDER BY event_id LIMIT 200""".stripMargin

  /** A1 — HLL++ audit: approx_count_distinct (default 5% rsd) next to the
    * exact distinct count; `within_10pct` asserts the sketch honors 2×
    * its error budget. At 100 TB the sketch is the ONLY viable per-key
    * distinct (fixed bytes per group, mergeable across partials) — this
    * query is the harness that licenses it. */
  private def a01(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id")).as("n_approx"))
      .select(
        col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")).cast("double") / col("n_exact") <= 0.1)
          .as("within_10pct"))
      .orderBy("event_type")

  /** A2 — quantile-sketch audit: approx_percentile (accuracy 1000 ⇒ rank
    * error ≤ n/1000) vs exact interpolated percentile, asserted within an
    * absolute tolerance of 10 on a 0–490 value range. */
  private def a02(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(
        percentile(col("value"), lit(0.5)).as("p50x"),
        approx_percentile(col("value"), lit(0.5), lit(1000)).as("p50a"))
      .select(
        col("event_type"),
        oround(col("p50x"), 2).as("p50_exact"),
        (abs(col("p50a") - col("p50x")) <= 10.0).as("within_tol"))
      .orderBy("event_type")

  /** A3 — daily quantile-DRIFT monitor, the data-quality alarm a
    * production feed runs every ingest cycle: per-day exact median of
    * the metric, day-over-day delta, alert when |delta| exceeds the
    * band. One partially-aggregated shuffle on day builds the
    * |days|-row series; the lag window then runs single-partition over
    * that bounded aggregate (the t10 discipline — global windows only
    * ever over already-aggregated small tables). At 100 TB the exact
    * percentile swaps for approx_percentile (a02 licenses the error)
    * with the identical downstream drift logic. */
  private def a03(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy("day")
    events(s, d)
      .filter(col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        oround(percentile(col("value"), lit(0.5)), 4).as("p50"),
        count(lit(1)).as("n"))
      .select(
        col("day").cast("timestamp").as("day"), col("p50"), col("n"),
        oround(col("p50") - lag("p50", 1).over(w), 4).as("drift"),
        coalesce(abs(col("p50") - lag("p50", 1).over(w)) > 3.0, lit(false))
          .as("alert"))
      .orderBy("day")
  }

  /** J1 — anti join: customers with no URGENT order, counted per market
    * segment. LeftAnti short-circuits on first match and ships only the
    * (filtered) order keys — never materializes the non-matches. */
  private def j01(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(
        orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_childless"))
      .orderBy("c_mktsegment")

  /** J2 — banded range self-join: ordered pairs of same-user events ≤300 s
    * apart, counted per user. A naive `|ta−tb| ≤ 300` condition plans as a
    * nested-loop pair explosion; banding joins on (user, 300-s bucket)
    * with the EARLIER event replicated to its own and the next bucket —
    * every qualifying pair lands in exactly one (probe, bucket) match, so
    * no post-dedup. Shuffle volume: 2× the events, joined hash-partitioned
    * on (user, bucket) — survives 100× data with bounded bucket fan-in. */
  private def j02(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(
      col("user_id"), col("event_id"), col("ts"),
      unix_timestamp(col("ts")).as("sec"))
    // earlier side: probe its own bucket and the next (a later row ≤300 s
    // ahead sits in one of the two)
    val a = e.toDF("ua", "ida", "tsa", "seca")
      .withColumn("pb", explode(array(floor(col("seca") / 300), floor(col("seca") / 300) + 1)))
    val b = e.toDF("ub", "idb", "tsb", "secb")
      .withColumn("bb", floor(col("secb") / 300))
    a.join(b,
        col("ua") === col("ub") && col("pb") === col("bb") &&
          (col("tsb") > col("tsa") ||
            (col("tsb") === col("tsa") && col("idb") > col("ida"))) &&
          col("secb") - col("seca") <= 300)
      .groupBy(col("ua").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** J3 — full-outer reconciliation: customer counts vs supplier counts
    * per nation, either side may be absent (COALESCE to 0). The two
    * aggregates shuffle once each on nationkey; the join reuses that
    * partitioning. */
  private def j03(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).groupBy(col("c_nationkey").as("ck"))
      .agg(count(lit(1)).as("n_cust"))
    val p = supplier(s, d).groupBy(col("s_nationkey").as("sk"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(p, col("ck") === col("sk"), "full_outer")
      .select(
        coalesce(col("ck"), col("sk")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  /** J4 — per-group top-N: the 3 priciest orders per priority. The
    * `rank <= 3` filter under a window triggers Spark's WindowGroupLimit:
    * each partition keeps only its top rows BEFORE the shuffle, so the
    * full sort never happens. */
  private def j04(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .select(
        col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).cast("long").as("rnk"))
      .filter(col("rnk") <= 3)
      .select(
        col("o_orderpriority"), col("rnk"), col("o_orderkey"),
        oround(col("o_totalprice"), 2).as("price"))
      .orderBy("o_orderpriority", "rnk")
  }

  /** J5 — pivot: order counts per priority × status. Explicit pivot
    * values keep the plan a single pass (no values-discovery job) and fix
    * the output schema; absent combinations coalesce to 0 like the
    * oracle's FILTERed counts. */
  private def j05(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(
        col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"),
        coalesce(col("P"), lit(0L)).as("P"))
      .orderBy("o_orderpriority")

  /** J7 — UNPIVOT (melt), the inverse reshape of j05's pivot, applied to
    * j05's own output so the two queries share one definition: the wide
    * (priority × status-count) matrix back to long (priority, status, n)
    * — the shape metric stores and plotting layers consume. Physically an
    * `Expand` (3 output rows per input row) over the already-aggregated
    * |priorities|-row table: zero additional shuffle, and the zeros the
    * pivot materialized for absent combinations survive the roundtrip
    * (the oracle re-derives them with a priorities × statuses spine). */
  private def j07(s: SparkSession, d: String): DataFrame =
    j05(s, d)
      .unpivot(
        Array(col("o_orderpriority")),
        Array(col("F"), col("O"), col("P")),
        "o_orderstatus", "n_orders")
      .orderBy("o_orderpriority", "o_orderstatus")

  /** J6 — the bucketed fact⋈fact join AS A RESULT SET (LayoutSpec pins
    * the exchange-free plan shape; this puts the same at-rest layout
    * under the DuckDB oracle): per-customer revenue across
    * orders⋈lineitem, both sides read from the orderkey-bucketed tables
    * ([[graft.sources.Layout.ensureBucketedFacts]]). Both scans arrive
    * hash-distributed by the join key, so the dominant 100 TB shuffle —
    * repartitioning two fact tables for one join — never happens; the
    * only exchange left is the |customers|-sized aggregate. The oracle
    * is the PLAIN join on the raw parquet: bucketing must be a pure
    * physical property, invisible in the result. */
  private def j06(s: SparkSession, d: String): DataFrame = {
    val (o, l) = graft.sources.Layout.ensureBucketedFacts(s, d)
    s.table(l)
      .join(s.table(o), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        // price carries 2 decimals and discount 2 — summed EXACTLY in
        // integer (cent × basis-point) space, so the result is
        // order-independent: a double sum over the join's nondeterministic
        // row order lands on .xx5 midpoints for ~1/1000 customers and
        // flips the rounded cent vs the oracle
        (sum(
          round(col("l_extendedprice") * 100, 0).cast("long") *
            (lit(100L) - round(col("l_discount") * 100, 0).cast("long")))
          / 10000.0).as("revenue"))
      .orderBy("o_custkey")
  }

  /** S1 — salted two-phase aggregation ([[graft.ops.Skew.twoPhaseAgg]])
    * over a 5-key distribution (≈2000 rows/key — exactly the hot-key
    * shape): phase 1 spreads each key over 16 salt buckets, phase 2
    * merges. The oracle is the PLAIN aggregation — proving the salted
    * plan is a pure physical rewrite. */
  private def s01(s: SparkSession, d: String): DataFrame =
    graft.ops.Skew.twoPhaseAgg(
        events(s, d), Seq("event_type"), col("event_id"), 16,
        Seq("value" -> "sum", "value" -> "count", "value" -> "min", "value" -> "max"))
      .select(
        col("event_type"),
        oround(col("sum_value"), 2).as("sum_value"),
        col("count_value").as("n"),
        oround(col("min_value"), 2).as("min_value"),
        oround(col("max_value"), 2).as("max_value"))
      .orderBy("event_type")

  /** S2 — salted skewed join ([[graft.ops.Skew.saltedJoin]]): the fact
    * side (events, hot user keys) is salted over 8 buckets and the
    * dimension replicated 8×, so one hot key spreads across 8 reducers —
    * the hand tool for a dimension too big to broadcast joining a fact
    * with hot keys, where AQE's skew split cannot reach (it splits
    * shuffle PARTITIONS, not a single key's build side). The oracle is
    * the PLAIN join: salting must be a pure physical rewrite. */
  private def s02(s: SparkSession, d: String): DataFrame =
    graft.ops.Skew.saltedJoin(
        events(s, d),
        customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        "user_id", "c_custkey", col("event_id"), 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), oround(sum("value"), 2).as("sum_value"))
      .orderBy("c_mktsegment")

  /** The ONE split-assignment definition (shared by p01 and the p03
    * funnel so the composed pipeline can never assign differently from
    * the standalone split query): md5("split:" + doc_id) mod 100 →
    * train < 80 ≤ val < 90 ≤ test. */
  private def splitOf(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = pmod(
      conv(substring(md5(concat(lit("split:"), docId.cast("string")).cast("binary")), 1, 15),
        16, 10).cast("long"),
      lit(100L))
    when(h < 80, "train").when(h < 90, "val").otherwise("test")
  }

  /** P1 — deterministic train/val/test split (80/10/10) by md5 of a
    * salted doc_id: reproducible on any engine, stable under reshuffles,
    * no RNG state — the split a 100 TB corpus actually uses. */
  private def p01(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .select(col("lang"), splitOf(col("doc_id")).as("split"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "split")
  }

  /** t02's quality formula over a materialized token array — the ONE
    * definition the composed pipelines (p03, p06) score with (t02's
    * stopword list, t02's weights), so the funnels can never drift from
    * the standalone quality query. */
  private def qualityOf(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.TextFns.qualityOf(toks)

  /** P3 — the preprocessing funnel a training corpus actually runs,
    * composed end to end: quality score (t02's formula) → threshold
    * filter (drops ~40% of this corpus) → exact-dedup keeping the first
    * doc per content hash → deterministic split assignment (p01's hash)
    * → per-(lang, split) count + mean quality. Everything is one narrow
    * pass until the dedup's single hash-partitioned shuffle; the final
    * aggregate is bounded by |langs| × 3. */
  private def p03(s: SparkSession, d: String): DataFrame = {
    val firstPerContent = Window
      .partitionBy(md5(col("text").cast("binary")))
      .orderBy("doc_id")
    documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        graft.functions.TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), col("text"),
        qualityOf(col("toks")).as("quality"))
      .filter(col("quality") >= 0.73)
      .withColumn("rn", row_number().over(firstPerContent))
      .filter(col("rn") === 1)
      .select(col("lang"), splitOf(col("doc_id")).as("split"), col("quality"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"), oround(avg("quality"), 3).as("avg_quality"))
      .orderBy("lang", "split")
  }

  /** P4 — decontamination: training docs sharing any 8-token n-gram with
    * the benchmark set (stand-in: every 50th doc), counted per language —
    * the overlap check every serious training corpus runs against its
    * eval benchmarks before training. Benchmark sets are small by nature,
    * so the hash side BROADCASTS: the corpus is scanned once, narrow,
    * and never shuffled — the 100 TB shape. */
  /** The decontamination constants — ONE definition for p04 and p06 (the
    * same no-drift rule as [[qualityOf]]/[[splitOf]]): the benchmark
    * stand-in slice, the n-gram width, and the per-doc distinct 8-gram
    * stream (empty for docs too short to have one — the when() guard
    * also keeps `sequence` from seeing a negative bound). */
  private[graft] def isBenchDoc(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(docId, lit(50)) === 0

  /** The gram TOKEN is `xxhash64` over the token-array slice, not the
    * md5-hex string [[graft.functions.TextFns.kgramHashes]] emits: the
    * hash never reaches output (both engines count overlapping DOCS and
    * the DuckDB oracle grams independently), so any injective-enough
    * token with the same equality relation is admissible — and the
    * md5-string build measured at 16× the xxhash64 one at sf1 (36.8 vs
    * 2.2 s: one codegen'd 64-bit hash per gram with no concat, and LONG
    * tokens through array_distinct / explode / the broadcast semi-join
    * set instead of 32-hex-char strings).
    * Equality relation is identical — token arrays are equal iff their
    * space-joins are (tokens are split on spaces so contain none) —
    * modulo 64-bit collisions, which only matter when they pair a
    * train gram with a bench gram: P ≈ n_train·n_bench/2⁶⁴ ≈ 1e-3 at
    * sf100's ~1e9 grams, ~1e-8 at the sf0.01 oracle gate. The md5
    * spelling stays in d19/p16/t20, whose oracles argmin over the
    * hex ORDERING; p04/p06/q61 never order by the gram. */
  private[graft] def g8OfToks(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(size(toks) >= 8,
      array_distinct(transform(
        sequence(lit(1), size(toks) - 7),
        i => xxhash64(slice(toks, i, lit(8))))))
      .otherwise(array().cast("array<bigint>"))

  private def p04(s: SparkSession, d: String): DataFrame = {
    def g8Of(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), g8OfToks(col("toks")).as("g8"))
      .filter(size(col("g8")) > 0)
    // the two sides come from SEPARATE pre-filtered scans: the bench
    // slice is 1/50th and needs neither rebalance nor a second pass
    // over the full corpus; only the train side pays the (rebalanced —
    // single-file corpora arrive as one partition) full hashing pass
    val benchHashes = g8Of(documents(s, d).filter(isBenchDoc(col("doc_id"))))
      .select(explode(col("g8")).as("h"))
      .distinct()
    g8Of(graft.Tables.rebalance(s,
        documents(s, d).filter(!isBenchDoc(col("doc_id")))))
      .select(col("doc_id"), col("lang"), explode(col("g8")).as("h"))
      .join(broadcast(benchHashes), Seq("h"), "left_semi")
      .select(col("doc_id"), col("lang"))
      .distinct()
      .groupBy("lang")
      .agg(count(lit(1)).as("n_contaminated"))
      .orderBy("lang")
  }

  /** P6 — the corpus BUILD, composed end to end in one declarative
    * dataflow: quality filter (t02's formula via [[qualityOf]]) →
    * benchmark decontamination (p04's 8-gram check) → exact-dedup
    * (first doc per content hash) → deterministic split ([[splitOf]])
    * → per-split doc/token/quality stats. This is the whole pipeline a
    * pretraining corpus runs, as ONE oracle-checked query.
    *
    * SCALE SHAPE (rewritten by the round-13 sf10 sweep, α=1.30): the
    * original build collapsed the bench 8-grams to a 1-row
    * `collect_set` broadcast and tested contamination with per-row
    * `arrays_overlap(g8, bh)` — elegant, and QUADRATIC: `ArraysOverlap`
    * hash-sets the SMALLER array and linearly SCANS the larger per
    * row, and the synthetic bench slice (1/50 of doc_ids) grows with
    * the corpus, so every corpus row paid an O(|bench grams|) scan —
    * corpus × bench, the v24 panel bug wearing an expression costume
    * (measured: the fix alone took sf10 from 155 s to 23 s). Now the
    * decontamination is p04's explode + BROADCAST SEMI-JOIN shape
    * (per-gram O(1) lookups against the ONE shared hash table the
    * broadcast join builds), then a doc-level anti-join of flagged ids
    * — linear in corpus + bench mass. The narrow profile (doc_id,
    * content hash, quality, nt, g8) is checkpointed once and feeds
    * both the contamination probe and the surviving-doc path
    * (tokenizing is the dominant CPU; two consumers must not rescan),
    * and the dedup window shuffles only scalar columns — text and
    * token arrays never reach an exchange (p16's discipline).
    * Decontamination commutes with exact dedup — byte-equal text has
    * an identical 8-gram set, so every member of a content class
    * shares one verdict; the oracle is unchanged. */
  private def p06(s: SparkSession, d: String): DataFrame = {
    val firstPerContent = Window.partitionBy(col("h")).orderBy("doc_id")
    val benchHashes = documents(s, d).filter(isBenchDoc(col("doc_id")))
      .select(graft.functions.TextFns.tokens(col("text")).as("toks"))
      .select(explode(g8OfToks(col("toks"))).as("gh"))
      .distinct()
    val prof = graft.Tables.rebalance(s,
        documents(s, d).filter(!isBenchDoc(col("doc_id"))))
      .select(col("doc_id"), col("text"),
        graft.functions.TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"), col("toks"),
        qualityOf(col("toks")).as("quality"))
      .filter(col("quality") >= 0.73)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"),
        col("quality"), size(col("toks")).cast("long").as("nt"),
        g8OfToks(col("toks")).as("g8"))
      .localCheckpoint()
    val contaminated = prof
      .select(col("doc_id"), explode(col("g8")).as("gh"))
      .join(broadcast(benchHashes), Seq("gh"), "left_semi")
      .select("doc_id").distinct()
    prof.select(col("doc_id"), col("h"), col("quality"), col("nt"))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("rn", row_number().over(firstPerContent))
      .filter(col("rn") === 1)
      .select(splitOf(col("doc_id")).as("split"), col("nt"), col("quality"))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("nt").as("n_tokens"),
        oround(avg("quality"), 3).as("avg_quality"))
      .orderBy("split")
  }

  /** P16 — corpus build v3: the round-11 operators composed into ONE
    * oracle-checked curation dataflow with the per-stage token-yield
    * accounting a real curation run ships. Stages: (1) d19's substring
    * scrub ([[DedupQueries.scrubStarts]] — the IDENTICAL count+argmin
    * redundant-start definition, never pair enumeration) rewrites every
    * doc with its non-canonical 8-gram spans removed; (2) t22's chosen
    * operating point (τ = 0.5, the middle of its threshold curve)
    * filters on the quality score RE-SCORED OVER THE CLEANED tokens —
    * order matters: boilerplate inflates length and repetition features,
    * so scoring before scrubbing grades the wrong text; (3) exact dedup
    * on the cleaned text hash (scrubbing makes near-identical docs
    * byte-identical — dedup AFTER scrub collapses what dedup before
    * scrub would miss); (4) c04's chosen context length (L = 1024, its
    * curve's knee) packs survivors per-lang first-fit and reports bins
    * + fill. Scale shape: wide ops are d19's gram aggregate + its
    * doc_id join-back, the dedup window, and the per-lang packing
    * prefix sum — everything between is per-row scalar arithmetic on a
    * checkpointed narrow profile (doc_id, lang, nt, hash, score; token
    * arrays never survive past the profile projection). p06 remains
    * the v2 build (filter→dedup→decontam→split on raw text); this one
    * exists to prove the round-11 operators COMPOSE — each stage's
    * doc/token deltas are the published result. */
  private def p16(s: SparkSession, d: String): DataFrame = {
    val k = 8
    def toksOf = graft.Tables.rebalance(s, documents(s, d))
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFns.tokens(col("text")).as("toks"))
    // d19's staging discipline verbatim: filter(size ≥ k) not a CASE
    // guard (the measured 10× Generate-fusion cliff), checkpoint the
    // exploded grams (two consumers via scrubStarts' stats join)
    val g = toksOf.filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(
          graft.functions.TextFns.kgramHashes(col("toks"), k))
          .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
      .localCheckpoint()
    val rstarts = DedupQueries.scrubStarts(g)
    val n = size(col("toks"))
    val cov = array_sort(array_distinct(flatten(
      transform(col("rst"), i => sequence(i, least(i + (k - 1), n))))))
    val profile = toksOf
      .join(rstarts, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"), col("toks"),
        coalesce(col("rst"), array().cast("array<int>")).as("rst"))
      .select(col("doc_id"), col("lang"), col("toks"), cov.as("cov"))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).cast("long").as("nt_raw"),
        transform(
          array_except(sequence(lit(1), size(col("toks"))), col("cov")),
          p => element_at(col("toks"), p)).as("ctoks"))
      .select(col("doc_id"), col("lang"), col("nt_raw"),
        size(col("ctoks")).cast("long").as("nt"),
        md5(array_join(col("ctoks"), " ").cast("binary")).as("ch"),
        // guarded: a FULLY-scrubbed doc has 0 tokens and quality's
        // ratios would divide by zero under ANSI; NULL here → NULL
        // score → dropped by the filter, same as the oracle's NULLs
        when(size(col("ctoks")) >= 1,
          graft.functions.TextFns.qualityOf(col("ctoks"))).as("quality"))
      .select(col("doc_id"), col("lang"), col("nt_raw"), col("nt"),
        col("ch"), TextQueries.qscore.as("score"))
      .localCheckpoint() // four consumers: two stage stats + the chain
    // nt ≥ 1 explicitly: a FULLY-scrubbed doc (an exact duplicate's
    // every gram is redundant) has an empty token list whose quality
    // ratios are 0/0 — dropping on the explicit predicate keeps both
    // engines off NaN-comparison semantics
    val filtered = profile.filter(col("nt") >= 1 && col("score") >= 0.5)
    val deduped = filtered
      .withColumn("rn",
        row_number().over(Window.partitionBy("ch").orderBy("doc_id")))
      .filter(col("rn") === 1)
      .localCheckpoint() // two consumers: stage stats + packing
    val packed = deduped
      .select(col("lang"), col("nt"),
        (sum("nt").over(Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("nt")).as("prior"))
      .select(col("nt"),
        concat_ws(":", col("lang"), floor(col("prior") / 1024)).as("bin_key"))
    def stage(name: String, df: DataFrame, nt: String) = df
      .agg(count(lit(1)).as("n_docs"), sum(nt).cast("long").as("n_tokens"))
      .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"),
        lit(null).cast("long").as("n_bins"),
        lit(null).cast("double").as("fill_frac"))
    stage("0_raw", profile, "nt_raw")
      .unionByName(stage("1_scrubbed", profile, "nt"))
      .unionByName(stage("2_filtered", filtered, "nt"))
      .unionByName(stage("3_deduped", deduped, "nt"))
      .unionByName(packed
        .agg(count(lit(1)).as("n_docs"), sum("nt").cast("long").as("n_tokens"),
          countDistinct("bin_key").as("n_bins"))
        .select(lit("4_packed").as("stage"), col("n_docs"), col("n_tokens"),
          col("n_bins"),
          oround(col("n_tokens").cast("double") / (col("n_bins") * 1024), 4)
            .as("fill_frac")))
      .orderBy("stage")
  }

  /** Oracle twin of [[p16]] — od19's gram/coverage windows, ot22's
    * feature spelling over the CLEANED token list, the dedup
    * row_number, c04's prefix-sum packing at L = 1024, unioned stage
    * aggregates. Every reused CTE is MATERIALIZED (the ot24 lesson —
    * DuckDB's default inlining expands reused chains exponentially). */
  // lazy: declared below the defs list that captures it (the d15 lesson)
  private lazy val op16 =
    """WITH t AS MATERIALIZED (SELECT doc_id, lang, string_split(text, ' ') toks FROM documents),
      |g AS (SELECT doc_id, i AS pos,
      |    md5(toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '
      |      ||toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7]) h
      |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) i)
      |  WHERE len(toks) >= 8),
      |rd AS MATERIALIZED (SELECT doc_id, pos FROM (
      |  SELECT doc_id, pos,
      |      count(*) OVER (PARTITION BY h) >= 2
      |        AND row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) > 1 red
      |    FROM g) WHERE red),
      |tok AS (SELECT doc_id, lang, i AS pos, toks[i] w
      |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks))) i)),
      |cv AS MATERIALIZED (SELECT tok.doc_id, tok.lang, tok.pos, tok.w,
      |    max(CASE WHEN rd.pos IS NOT NULL THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY tok.doc_id ORDER BY tok.pos
      |            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) covered
      |  FROM tok LEFT JOIN rd ON tok.doc_id = rd.doc_id AND tok.pos = rd.pos),
      |prof AS MATERIALIZED (SELECT doc_id, min(lang) lang,
      |    count(*)::BIGINT nt_raw,
      |    coalesce(count(*) FILTER (covered = 0), 0)::BIGINT nt,
      |    md5(coalesce(string_agg(w, ' ' ORDER BY pos) FILTER (covered = 0), '')) ch,
      |    list(w ORDER BY pos) FILTER (covered = 0) cl
      |  FROM cv GROUP BY doc_id),
      |q AS (SELECT doc_id, lang, nt_raw, nt, ch,
      |    0.4*least(len(cl)::DOUBLE/60.0, 1.0)
      |      + 0.3*(1.0 - len(list_filter(cl, w -> w IN ('the','a','and','of')))::DOUBLE/len(cl)::DOUBLE)
      |      + 0.3*(len(list_distinct(cl))::DOUBLE/len(cl)::DOUBLE) AS quality
      |  FROM prof),
      |f AS MATERIALIZED (SELECT doc_id, lang, nt_raw, nt, ch
      |  FROM (SELECT *, 1.0/(1.0+exp(-(8.0*quality - 4.8))) score FROM q)
      |  WHERE nt >= 1 AND score >= 0.5),
      |dd AS MATERIALIZED (SELECT doc_id, lang, nt FROM (
      |  SELECT *, row_number() OVER (PARTITION BY ch ORDER BY doc_id) rn FROM f)
      |  WHERE rn = 1),
      |pk AS (SELECT nt, lang || ':' ||
      |    ((sum(nt) OVER (PARTITION BY lang ORDER BY doc_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt) // 1024)::VARCHAR bin_key
      |  FROM dd)
      |SELECT * FROM (
      |  SELECT '0_raw' stage, count(*) n_docs, sum(nt_raw)::BIGINT n_tokens,
      |    NULL::BIGINT n_bins, NULL::DOUBLE fill_frac FROM prof
      |  UNION ALL SELECT '1_scrubbed', count(*), sum(nt)::BIGINT, NULL, NULL FROM prof
      |  UNION ALL SELECT '2_filtered', count(*), sum(nt)::BIGINT, NULL, NULL FROM f
      |  UNION ALL SELECT '3_deduped', count(*), sum(nt)::BIGINT, NULL, NULL FROM dd
      |  UNION ALL SELECT '4_packed', count(*), sum(nt)::BIGINT,
      |    count(DISTINCT bin_key),
      |    ROUND(sum(nt)::DOUBLE/(count(DISTINCT bin_key)*1024), 4) FROM pk
      |) ORDER BY stage""".stripMargin

  /** U1 — incremental aggregate maintenance (the materialized-view
    * pattern): yesterday's aggregate is never recomputed — its ALGEBRAIC
    * partials (sum, count) merge with the delta's partials, and avg
    * derives from the merged pair (avg itself does not merge). The
    * oracle is the single-pass aggregate over everything, proving
    * merge(partial(history), partial(delta)) ≡ agg(history ∪ delta).
    * At 100 TB this is how a daily rollup absorbs a day of data:
    * O(|delta| + |groups|) work instead of O(|history|) — the partials
    * table IS the stored view. */
  private def u01(s: SparkSession, d: String): DataFrame = {
    val cutoff = to_timestamp(lit("2024-01-15"))
    def partial(df: DataFrame) = df.groupBy("event_type")
      .agg(sum("value").as("s"), count("value").as("c"))
    // the partition must be EXHAUSTIVE or merge ≢ recompute: a NULL ts
    // fails both `< cutoff` and `>= cutoff`, so the delta side takes
    // the complement (incl. NULLs), not the symmetric predicate
    partial(events(s, d).filter(col("ts") < cutoff))
      .unionByName(partial(events(s, d).filter(!(col("ts") < cutoff) || col("ts").isNull)))
      .groupBy("event_type")
      .agg(sum("s").as("s"), sum("c").as("c"))
      .select(
        col("event_type"), col("c").as("n"),
        oround(col("s"), 2).as("sum_value"),
        oround(col("s") / col("c"), 2).as("avg_value"))
      .orderBy("event_type")
  }

  /** U2 — MERGEABLE-SKETCH maintenance, u01's pattern for the aggregate
    * no partial sum can carry: distinct users per event type. Per-day
    * DataSketches HLL partials (`hll_sketch_agg` — the binary buffers a
    * materialized view persists per partition) are re-merged with
    * `hll_union_agg` and estimated, so refreshing the view after a new
    * day lands touches ONE day of raw data plus |days| tiny sketches —
    * never the full history. The oracle sees the exact distinct count
    * plus the audit verdict (estimate within a01's flat 10% bound —
    * generous vs the default-lgK sketch's ~1.6% RSE, chosen so the
    * audit never flakes), the a01 discipline: approximation internals
    * stay engine-side, the CONTRACT is checked. */
  private def u02(s: SparkSession, d: String): DataFrame = {
    val partials = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = partials
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
      .join(merged, Seq("event_type"))
      .select(
        col("event_type"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <= col("n_exact") * lit(0.1))
          .as("sketch_ok"))
      .orderBy("event_type")
  }

  /** U3 — SCD TYPE-2 versioning: the change log of a mutable attribute
    * (each user's event_type, standing in for any dimension attribute)
    * collapsed into validity intervals — consecutive same-value runs
    * become one version row with [valid_from, valid_to) and an
    * is_current flag, the shape every warehouse dimension keeps history
    * in. Run boundaries are value CHANGES (gaps-and-islands on
    * inequality — q24's time-gap twin): lag detects the change, a
    * running sum numbers the run, one aggregate per run, lead closes
    * the interval. Everything shuffles ONCE on user_id (all four window
    * passes and the aggregate share the partition key); the total order
    * (ts, event_id) makes every boundary deterministic. */
  private def u03(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // run breaks the tie when two runs of one user START at the same
    // timestamp (same-ts events of different values) — same class of
    // latent nondeterminism as w06's oracle tie-break
    val byStart = Window.partitionBy("user_id").orderBy("valid_from", "run")
    events(s, d)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .withColumn("chg",
        when(!(lag("event_type", 1).over(w) <=> col("event_type")), 1).otherwise(0))
      .withColumn("run",
        sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run", "event_type")
      .agg(min("ts").as("valid_from"), count(lit(1)).as("n_events"))
      .select(
        col("user_id"), col("run"), col("event_type"), col("valid_from"),
        lead("valid_from", 1).over(byStart).as("valid_to"),
        col("n_events"))
      .select(
        col("user_id"), col("event_type"), col("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"), col("n_events"))
      .orderBy("user_id", "valid_from")
  }

  private val ou03 =
    """WITH e AS (SELECT user_id, ts, event_type, event_id FROM events WHERE ts IS NOT NULL),
      |c AS (SELECT user_id, ts, event_type, event_id,
      |   CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type THEN 1 ELSE 0 END chg
      |   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |r AS (SELECT user_id, ts, event_type, event_id,
      |   sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) run
      |   FROM c),
      |v AS (SELECT user_id, run, event_type, min(ts) valid_from, count(*) n_events FROM r GROUP BY 1,2,3),
      |f AS (SELECT user_id, event_type, valid_from, n_events,
      |   lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run) valid_to
      |   FROM v)
      |SELECT user_id, event_type, valid_from::TIMESTAMP AS valid_from,
      |  valid_to::TIMESTAMP AS valid_to, (valid_to IS NULL) AS is_current, n_events
      |FROM f ORDER BY user_id, valid_from""".stripMargin

  /** J8 — interval-OVERLAP join, incident-investigation shape: the 10
    * longest daily activity spans are "incidents"; find every OTHER
    * user's span that overlaps one. The non-equi overlap predicate
    * (`s.start ≤ i.end AND s.end ≥ i.start`) rides a
    * BroadcastNestedLoopJoin over the 10-row incident side — which is
    * the RIGHT plan here and the deliberate contrast to j02: a
    * bounded probe side makes broadcast+predicate a corpus-scan with
    * 10 comparisons per row and zero shuffle, while j02's
    * unbounded-both-sides case must band into an equi-join. The two
    * queries together document when each interval-join strategy
    * applies. */
  private def j08(s: SparkSession, d: String): DataFrame = {
    val spans = events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min("ts").as("s_start"), max("ts").as("s_end"))
    val incidents = spans
      .select(col("user_id").as("i_user"), col("day").as("i_day"),
        col("s_start").as("i_start"), col("s_end").as("i_end"),
        (unix_micros(col("s_end")) - unix_micros(col("s_start"))).as("dur"))
      .orderBy(col("dur").desc, col("i_user"), col("i_day"))
      .limit(10)
    spans
      .join(broadcast(incidents),
        col("s_start") <= col("i_end") && col("s_end") >= col("i_start") &&
          col("user_id") =!= col("i_user"))
      .groupBy(col("i_user"), col("i_day").cast("timestamp").as("i_day"))
      .agg(count(lit(1)).as("n_overlapping"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("i_user", "i_day")
  }

  private val oj08 =
    """WITH spans AS (SELECT user_id, ts::DATE AS day,
      |    min(ts) AS s_start, max(ts) AS s_end
      |  FROM events GROUP BY 1, 2),
      |inc AS (SELECT user_id AS i_user, day AS i_day, s_start AS i_start, s_end AS i_end
      |  FROM spans
      |  ORDER BY epoch_us(s_end) - epoch_us(s_start) DESC, user_id, day LIMIT 10)
      |SELECT i_user, i_day::TIMESTAMP AS i_day, count(*) AS n_overlapping,
      |  count(DISTINCT s.user_id) AS n_users
      |FROM spans s JOIN inc
      |  ON s.s_start <= inc.i_end AND s.s_end >= inc.i_start AND s.user_id <> inc.i_user
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** A4 — per-segment z-score OUTLIER monitor: the distribution-drift
    * twin of a03 at row granularity. Two passes by design: pass one is
    * a bounded |event_type|-row stats aggregate (map-side combined);
    * pass two re-scans the stream and compares each row against the
    * BROADCAST stats — never a window over the whole partition (a
    * per-type window would shuffle 100 TB into |types| partitions; the
    * broadcast join shuffles nothing). */
  private def a04(s: SparkSession, d: String): DataFrame = {
    val st = events(s, d).groupBy("event_type")
      .agg(avg("value").as("mu"), stddev_samp("value").as("sd"))
    events(s, d)
      .join(broadcast(st), "event_type")
      .select(col("event_type"), abs((col("value") - col("mu")) / col("sd")).as("az"))
      .groupBy("event_type")
      .agg(
        sum(when(col("az") > 2.0, 1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n"),
        oround(max(col("az")), 4).as("max_abs_z"))
      .orderBy("event_type")
  }

  private val oa04 =
    """WITH st AS (SELECT event_type, avg(value) mu, stddev_samp(value) sd
      |  FROM events GROUP BY 1)
      |SELECT e.event_type,
      |  sum(CASE WHEN abs((e.value - st.mu)/st.sd) > 2.0 THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
      |  count(*) AS n,
      |  ROUND(max(abs((e.value - st.mu)/st.sd)), 4) AS max_abs_z
      |FROM events e JOIN st ON e.event_type = st.event_type
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** A5 — metric-TREND monitor: per-type Pearson correlation and
    * sample covariance between the metric and event time — "is this
    * feed drifting upward?" as one number per stream. corr/covar are
    * algebraic aggregates (five mergeable sums), so this is a single
    * map-side-combined shuffle with O(|types|) state — the same
    * monitor costs the same at 100 TB. Time enters as epoch DAYS
    * (µs-scale x would put x² sums at 1e36 and eat every significand
    * bit of the covariance). */
  private def a05(s: SparkSession, d: String): DataFrame = {
    val days = (unix_micros(col("ts")).cast("double") / lit(86400e6)).as("t_days")
    events(s, d)
      .select(col("event_type"), col("value"), days)
      .groupBy("event_type")
      .agg(
        oround(corr(col("t_days"), col("value")), 4).as("trend_corr"),
        oround(covar_samp(col("t_days"), col("value")), 4).as("trend_covar"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  private val oa05 =
    """SELECT event_type,
      |  ROUND(corr(epoch_us(ts)::DOUBLE / 86400e6, value), 4) AS trend_corr,
      |  ROUND(covar_samp(epoch_us(ts)::DOUBLE / 86400e6, value), 4) AS trend_covar,
      |  count(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** A6 — per-column data-quality PROFILE (the Deequ shape): null
    * fraction, distinct count with an HLL++ estimate audited beside it
    * (the a01 discipline), and min/max per column, one result row per
    * column. ONE wide aggregate row is computed over the table, then
    * melted with a literal struct array + `inline` — the j07 reshape
    * over an already-aggregated single row, so the melt adds zero
    * shuffles and the only exchange is the 1-row aggregation itself.
    *
    * Scale note: the EXACT `countDistinct` columns force Catalyst's
    * multi-distinct rewrite (an `Expand` that replays each input row
    * once per distinct group — 6× here). They exist to audit the
    * sketches; the 100 TB profile drops them and keeps
    * `approx_count_distinct`, collapsing the plan to one Expand-free
    * pass with fixed sketch state per column — the swap is licensed
    * in-query by `within_10pct`. Values render as strings so every
    * column fits one schema: ts via epoch-µs (the engine/oracle parity
    * instant), value rounded BEFORE min/max on both sides so the two
    * engines round the same number. */
  private def a06(s: SparkSession, d: String): DataFrame = {
    // (name, profiled expression) — ts profiles as epoch-µs, value at 2dp.
    val cols: Seq[(String, Column)] = Seq(
      "event_id" -> col("event_id"),
      "event_type" -> col("event_type"),
      "props" -> col("props"),
      "ts" -> unix_micros(col("ts")),
      "user_id" -> col("user_id"),
      "value" -> round(col("value"), 2))
    // One narrow aggregate PER COLUMN, unioned: a single wide aggregate
    // with 6 exact countDistincts forces Catalyst's multi-distinct
    // Expand (each input row replayed 7x through a 31-expression hash
    // agg — measured 4.9 s at sf0.1, one task on the single-file scan;
    // still 3.9 s rebalanced). Per column the lone countDistinct plans
    // as the Expand-free two-level distinct aggregate and the scan
    // prunes to that one column. No rebalance: per-row work is trivial
    // (unlike m07's heavy decode), so a forced shuffle costs more than
    // the single-task partial it would spread — measured 2.2 s with it,
    // 1.7 s without. Six independent partial-aggregated stages — the
    // shape that holds at 100 TB, where the Expand would 7x the shuffle
    // volume of the widest table scan while each narrow agg ships only
    // its own column's partial distinct sets.
    val perCol = cols.map { case (n, c) =>
      events(s, d).select(c.as("c"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("c")).as("nn"),
          countDistinct(col("c")).as("nd"),
          approx_count_distinct(col("c")).as("nda"),
          min(col("c")).cast("string").as("mn"),
          max(col("c")).cast("string").as("mx"))
        .select(
          lit(n).as("column_name"),
          oround(lit(1.0) - col("nn").cast("double") / col("n_rows"), 4).as("null_frac"),
          col("nd").as("n_distinct"),
          (abs(col("nda") - col("nd")).cast("double") / col("nd") <= 0.1).as("within_10pct"),
          col("mn").as("min_s"),
          col("mx").as("max_s"))
    }
    perCol.reduce(_ unionByName _).orderBy("column_name")
  }

  private val oa06 = {
    def row(n: String, c: String) =
      s"""SELECT '$n' AS column_name,
         |  ROUND(1.0 - count($c)::DOUBLE / count(*), 4) AS null_frac,
         |  count(DISTINCT $c) AS n_distinct, TRUE AS within_10pct,
         |  min($c)::VARCHAR AS min_s, max($c)::VARCHAR AS max_s FROM events""".stripMargin
    Seq(
      row("event_id", "event_id"),
      row("event_type", "event_type"),
      row("props", "props"),
      row("ts", "epoch_us(ts)"),
      row("user_id", "user_id"),
      row("value", "ROUND(value, 2)"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** J9 — NEAREST-event join, both directions: each purchase matched to
    * the closest same-user view by |Δt|, before OR after (q23 is the
    * backward-only as-of; recommendation attribution wants the nearest
    * neighbor regardless of side). The [[graft.ops.AsOfJoin]] union
    * trick extended the w07 way: both streams share one user_id
    * exchange, the backward neighbor is a running ignore-nulls frame
    * over (ts, side) ascending — views sort before purchases at equal
    * ts, making both directions INCLUSIVE — and the forward neighbor
    * is the same frame shape over the ts-reversed order (side still
    * ascending, preserving inclusivity). ZERO joins, O(n) frames, one
    * exchange + two sorts. Output carries direction + gap only (never
    * the view id): among equal-|Δt| ties the GAP is unique even when
    * the row choice is not, which is what keeps both engines
    * deterministic; equal back/fwd gaps resolve 'back'. */
  private def j09(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("side"))
    val wb = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("side"), col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val viewTs = when(col("side") === 0, col("ts"))
    val gapB = unix_micros(col("ts")) - unix_micros(col("bts"))
    val gapF = unix_micros(col("fts")) - unix_micros(col("ts"))
    ev
      .select(col("user_id"), col("ts"), col("event_id"), col("side"),
        last(viewTs, ignoreNulls = true).over(wb).as("bts"),
        last(viewTs, ignoreNulls = true).over(wf).as("fts"))
      .filter(col("side") === 1)
      .select(
        col("event_id").as("purchase_id"),
        when(col("bts").isNotNull && (col("fts").isNull || gapB <= gapF), "back")
          .when(col("fts").isNotNull, "fwd")
          .otherwise("none").as("direction"),
        when(col("bts").isNotNull && (col("fts").isNull || gapB <= gapF), gapB)
          .when(col("fts").isNotNull, gapF).as("gap_us"))
      .orderBy("purchase_id")
  }

  private val oj09 =
    """WITH p AS (SELECT event_id pid, user_id, ts FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
      |back AS (SELECT p.pid, p.ts AS pts, v.ts AS bts
      |  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts),
      |fwd AS (SELECT p.pid, v.ts AS fts
      |  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts)
      |SELECT b.pid AS purchase_id,
      |  CASE WHEN b.bts IS NOT NULL AND (f.fts IS NULL
      |            OR epoch_us(b.pts) - epoch_us(b.bts) <= epoch_us(f.fts) - epoch_us(b.pts))
      |       THEN 'back'
      |       WHEN f.fts IS NOT NULL THEN 'fwd' ELSE 'none' END AS direction,
      |  CASE WHEN b.bts IS NOT NULL AND (f.fts IS NULL
      |            OR epoch_us(b.pts) - epoch_us(b.bts) <= epoch_us(f.fts) - epoch_us(b.pts))
      |       THEN epoch_us(b.pts) - epoch_us(b.bts)
      |       WHEN f.fts IS NOT NULL THEN epoch_us(f.fts) - epoch_us(b.pts) END AS gap_us
      |FROM back b JOIN fwd f ON b.pid = f.pid
      |ORDER BY purchase_id""".stripMargin

  /** A7 — ROBUST outlier detection via MAD (median absolute deviation),
    * the resistant twin of a04's z-score: one extreme value inflates a
    * mean/stddev enough to hide its siblings (masking), while the
    * median±MAD band moves by at most one rank. Three bounded passes,
    * all |event_type|-row aggregates with map-side combine, each flag
    * comparison against BROADCAST stats (the a04 rule — never a
    * per-type window over the raw stream): (1) per-type median, (2)
    * median of |x − med| with the medians broadcast back, (3) flag
    * |x − med| > 3·1.4826·MAD (1.4826 = consistency constant making
    * MAD estimate σ under normality). The exact medians are the audit
    * cost; the 100 TB profile swaps both passes to approx_percentile
    * with the same plan shape. */
  private def a07(s: SparkSession, d: String): DataFrame = {
    val med = events(s, d).groupBy("event_type")
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    val stats = events(s, d)
      .join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(
        min("med").as("med"), // constant per group
        percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"))
    events(s, d)
      .join(broadcast(stats), "event_type")
      .groupBy("event_type")
      .agg(
        sum(when(abs(col("value") - col("med")) > lit(3) * lit(1.4826) * col("mad"),
          1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n"),
        oround(min("mad"), 4).as("mad"))
      .orderBy("event_type")
  }

  private val oa07 =
    """WITH med AS (SELECT event_type, median(value) med FROM events GROUP BY 1),
      |stats AS (SELECT e.event_type, min(m.med) med,
      |    median(abs(e.value - m.med)) mad
      |  FROM events e JOIN med m USING (event_type) GROUP BY e.event_type)
      |SELECT e.event_type,
      |  sum(CASE WHEN abs(e.value - s.med) > 3 * 1.4826 * s.mad
      |      THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
      |  count(*) AS n, ROUND(min(s.mad), 4) AS mad
      |FROM events e JOIN stats s USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** A8 — distribution DRIFT monitor via PSI (population stability
    * index): per event type, the value distribution of the baseline
    * window (first ten days) against the rest, over 10 fixed-width
    * bins, PSI = Σ (p−q)·ln(p/q) with ε-smoothing. The alarm every
    * production feature pipeline runs between training snapshot and
    * serving traffic; PSI > 0.2 is the conventional "retrain" line.
    * One partially-aggregated shuffle on (type, bin); the per-type
    * totals come from a window over the tiny binned aggregate, never
    * the raw stream (the a04/a07 rule).
    *
    * Determinism discipline: a float Σ over hash-aggregated groups
    * sums in nondeterministic order, so each bin's term is fixed to
    * 6 dp and summed as INTEGER micro-units (associative — order
    * cannot change the result in either engine), then scaled back. */
  private def a08(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type")
    events(s, d)
      .select(
        col("event_type"),
        (col("ts") < lit("2024-01-11").cast("timestamp")).as("base"),
        greatest(least(floor(col("value") / 50), lit(9)), lit(0)).cast("int").as("bin"))
      .groupBy("event_type", "bin")
      .agg(
        sum(when(col("base"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("base"), 1L).otherwise(0L)).as("nq"))
      .select(
        col("event_type"),
        (col("np").cast("double") / sum("np").over(w) + 1e-6).as("p"),
        (col("nq").cast("double") / sum("nq").over(w) + 1e-6).as("q"))
      .select(
        col("event_type"),
        oround((col("p") - col("q")) * log(col("p") / col("q")) * 1e6, 0)
          .cast("long").as("tu"))
      .groupBy("event_type")
      .agg(oround(sum("tu").cast("double") / 1e6, 4).as("psi"))
      .select(col("event_type"), col("psi"), (col("psi") > 0.2).as("drifted"))
      .orderBy("event_type")
  }

  private val oa08 =
    """WITH b AS (SELECT event_type,
      |    ts < TIMESTAMP '2024-01-11' AS base,
      |    CAST(greatest(least(floor(value / 50), 9), 0) AS INT) AS bin
      |  FROM events),
      |c AS (SELECT event_type, bin,
      |    sum(CASE WHEN base THEN 1 ELSE 0 END) AS np,
      |    sum(CASE WHEN NOT base THEN 1 ELSE 0 END) AS nq
      |  FROM b GROUP BY 1, 2),
      |t AS (SELECT event_type,
      |    np::DOUBLE / sum(np) OVER (PARTITION BY event_type) + 1e-6 AS p,
      |    nq::DOUBLE / sum(nq) OVER (PARTITION BY event_type) + 1e-6 AS q
      |  FROM c),
      |u AS (SELECT event_type,
      |    CAST(ROUND((p - q) * ln(p / q) * 1000000, 0) AS BIGINT) AS tu FROM t)
      |SELECT event_type, ROUND(sum(tu) / 1000000.0, 4) AS psi,
      |  ROUND(sum(tu) / 1000000.0, 4) > 0.2 AS drifted
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin

  /** U4 — changelog MERGE into a snapshot: every event is an upsert of
    * (user_id → value) and `error` is the DELETE tombstone; the
    * snapshot keeps each key's most recent surviving state (the CDC
    * log-compaction shape — u03 keeps the full version history, u04
    * collapses to head state). ONE shuffle on the key serves both the
    * recency ranking and the version count (two window functions, one
    * partitioning); a key whose LAST entry is a tombstone vanishes
    * from the snapshot entirely. */
  private def u04(s: SparkSession, d: String): DataFrame = {
    val byRecency = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    events(s, d)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      .withColumn("rn", row_number().over(byRecency))
      .withColumn("n_versions", count(lit(1)).over(Window.partitionBy("user_id")))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), oround(col("value"), 2).as("last_value"),
        col("ts").as("last_ts"), col("n_versions"))
      .orderBy("user_id")
  }

  private val ou04 =
    """WITH c AS (SELECT user_id, ts, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn,
      |    count(*) OVER (PARTITION BY user_id) n_versions
      |  FROM events WHERE ts IS NOT NULL)
      |SELECT user_id, ROUND(value, 2) AS last_value, ts AS last_ts, n_versions
      |FROM c WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin

  /** P7 — deterministic stratified interleave: the data-MIXING order a
    * training run reads the corpus in — round-robin across language
    * strata (one from each lang, repeat), pinned by per-stratum rank +
    * stratum name. Total order (rn, lang) is range-partitionable, so
    * at 100 TB the interleaved stream writes as range-clustered shards
    * with no single ordering point; the probe here is the first 30
    * rows via TakeOrderedAndProject. Composes with p05 (sampling) and
    * p01 (split) through the same determinism discipline: no RNG,
    * reshuffle-stable, identical on any engine. */
  private def p07(s: SparkSession, d: String): DataFrame = {
    val perLang = Window.partitionBy("lang").orderBy("doc_id")
    documents(s, d)
      .select(col("lang"), col("doc_id"),
        row_number().over(perLang).cast("long").as("pos"))
      .select(col("pos"), col("lang"), col("doc_id"))
      .orderBy("pos", "lang")
      .limit(30)
  }

  private val op07 =
    """WITH r AS (SELECT lang, doc_id,
      |  row_number() OVER (PARTITION BY lang ORDER BY doc_id) rn FROM documents)
      |SELECT rn AS pos, lang, doc_id FROM r ORDER BY pos, lang LIMIT 30""".stripMargin

  /** P8 — temperature-based language mixing (α = 0.5): the sampling
    * weights a multilingual training run uses to up-weight low-resource
    * languages — p_l ∝ n_l^α, renormalized, with the expected post-mix
    * document count per language. The corpus is touched ONCE (one
    * partially-aggregated count per lang); the window normalization runs
    * over the |langs|-row aggregate, the same legitimately-bounded
    * single-partition pattern as t10. */
  private def p08(s: SparkSession, d: String): DataFrame = {
    val g = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).cast("double").as("n"))
      .withColumn("w", pow(col("n"), 0.5))
      .select(
        col("lang"),
        col("n").cast("long").as("n_docs"),
        oround(col("w") / sum("w").over(g), 6).as("p_sample"),
        oround(col("w") / sum("w").over(g) * sum("n").over(g), 1).as("expected_n"))
      .orderBy("lang")
  }

  /** P9 — per-SOURCE curation rollup, the crawl-source reputation table
    * a corpus pipeline maintains: per source, document count, exact-dup
    * count/rate (content-hash distinct), mean quality and the count
    * clearing p03's 0.73 keep threshold — the numbers that decide which
    * sources get up-weighted, capped, or dropped. ONE corpus scan into
    * one map-side-combined aggregate on source (countDistinct adds its
    * partial phase); every definition is shared — [[qualityOf]] and the
    * p03 threshold — so this report can never disagree with the funnel
    * it summarizes. */
  private def p09(s: SparkSession, d: String): DataFrame =
    graft.Tables.rebalance(s, documents(s, d))
      .select(col("source"), col("text"),
        graft.functions.TextFns.tokens(col("text")).as("toks"))
      .select(
        col("source"),
        md5(col("text").cast("binary")).as("h"),
        qualityOf(col("toks")).as("quality"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_dups"),
        oround(
          (count(lit(1)) - countDistinct(col("h"))).cast("double") / count(lit(1)), 4)
          .as("dup_rate"),
        oround(avg("quality"), 4).as("avg_quality"),
        count(when(col("quality") >= 0.73, 1)).as("n_quality_kept"))
      .orderBy("source")

  private val op09 =
    """WITH t AS (SELECT doc_id, source, text, string_split(text,' ') toks FROM documents),
      |q AS (SELECT doc_id, source, md5(text) h,
      |    0.4*least(len(toks)::DOUBLE/60.0, 1.0)
      |      + 0.3*(1.0 - len(list_filter(toks, w -> w IN ('the','a','and','of')))::DOUBLE/len(toks))
      |      + 0.3*(len(list_distinct(toks))::DOUBLE/len(toks)) AS quality
      |  FROM t)
      |SELECT source, count(*) AS n_docs,
      |  (count(*) - count(DISTINCT h)) AS n_dups,
      |  ROUND((count(*) - count(DISTINCT h))::DOUBLE / count(*), 4) AS dup_rate,
      |  ROUND(avg(quality), 4) AS avg_quality,
      |  count(*) FILTER (quality >= 0.73) AS n_quality_kept
      |FROM q GROUP BY source ORDER BY source""".stripMargin

  private val oa03 =
    """WITH d AS (SELECT ts::DATE AS day, value FROM events WHERE ts IS NOT NULL),
      |m AS (SELECT day, ROUND(quantile_cont(value, 0.5), 4) AS p50, count(*) AS n
      |      FROM d GROUP BY day)
      |SELECT day::TIMESTAMP AS day, p50, n,
      |  ROUND(p50 - lag(p50) OVER (ORDER BY day), 4) AS drift,
      |  COALESCE(abs(p50 - lag(p50) OVER (ORDER BY day)) > 3.0, FALSE) AS alert
      |FROM m ORDER BY day""".stripMargin

  /** P10 — the temperature mix EXECUTED: p08 computes the α=0.5
    * sampling weights; this query drives p05's deterministic-hash
    * sampler with them, materializing a half-corpus mix where
    * low-resource languages are up-weighted. Per-lang keep rates (in
    * basis points, integer-compared against a 10000-bucket md5 hash)
    * derive from the weight table — at scale that |langs|-row table is
    * a maintained artifact; here it computes in-query and broadcasts
    * into the one narrow sampling pass. Same determinism discipline as
    * p01/p05: no RNG, reshuffle-stable, identical on any engine; the
    * realized n_sampled converges on target_n as n_l grows (hash
    * uniformity), which the result exhibits rather than asserts. */
  private def p10(s: SparkSession, d: String): DataFrame = {
    val g = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = documents(s, d)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("w", pow(col("n").cast("double"), 0.5))
      .withColumn("target",
        floor(floor(sum("n").over(g) / 2) * (col("w") / sum("w").over(g)))
          .cast("long"))
      .withColumn("r_bp",
        least(floor(col("target") * lit(10000.0) / col("n")).cast("long"), lit(10000L)))
      .select(col("lang"), col("n").as("n_total"), col("target"), col("r_bp"))
    val h = pmod(
      conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string")).cast("binary")), 1, 15),
        16, 10).cast("long"),
      lit(10000L))
    documents(s, d)
      .select(col("lang"), h.as("h"))
      .join(broadcast(rates), Seq("lang"))
      .groupBy("lang")
      .agg(
        max("n_total").as("n_total"),
        max("target").as("target_n"),
        sum(when(col("h") < col("r_bp"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy("lang")
  }

  private val op10 =
    """WITH c AS (SELECT lang, count(*)::BIGINT n FROM documents GROUP BY lang),
      |t AS (SELECT lang, n, pow(n::DOUBLE, 0.5) w FROM c),
      |r AS (SELECT lang, n,
      |   floor(floor(sum(n) OVER () / 2) * (w / sum(w) OVER ()))::BIGINT AS target
      | FROM t),
      |rr AS (SELECT lang, n, target, least(floor(target * 10000.0 / n)::BIGINT, 10000) r_bp FROM r),
      |h AS (SELECT lang, ('0x'||substr(md5('mix:'||doc_id::VARCHAR),1,15))::BIGINT % 10000 AS h FROM documents)
      |SELECT h.lang, max(n) AS n_total, max(target) AS target_n,
      |  sum(CASE WHEN h.h < r_bp THEN 1 ELSE 0 END)::BIGINT AS n_sampled
      |FROM h JOIN rr ON h.lang = rr.lang GROUP BY h.lang ORDER BY h.lang""".stripMargin

  private val oj06 =
    """SELECT o_custkey, count(DISTINCT o_orderkey) AS n_orders,
      |  sum(ROUND(l_extendedprice * 100)::BIGINT
      |      * (100 - ROUND(l_discount * 100)::BIGINT))::BIGINT::DOUBLE / 10000 AS revenue
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  private val op08 =
    """WITH c AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY lang),
      |t AS (SELECT lang, n, pow(n, 0.5) AS w FROM c)
      |SELECT lang, n::BIGINT AS n_docs, ROUND(w / sum(w) OVER (), 6) AS p_sample,
      |  ROUND((w / sum(w) OVER ()) * sum(n) OVER (), 1) AS expected_n
      |FROM t ORDER BY lang""".stripMargin

  private val ou02 =
    """SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS sketch_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  private val ou01 =
    """SELECT event_type, count(value) AS n, ROUND(sum(value), 2) AS sum_value,
      |  ROUND(sum(value) / count(value), 2) AS avg_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** P2 — document-length histogram: 50-char buckets, top bucket open
    * (≥550 clamps to 11). Fixed bucket count ⇒ the aggregate state is
    * bounded regardless of corpus size. */
  private def p02(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(least(floor(length(col("text")) / 50), lit(11L)).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  // ------------------------------------------------------------------
  // DuckDB oracles
  // ------------------------------------------------------------------

  private val ow01 =
    """SELECT event_id, ROUND(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS delta
      |FROM events ORDER BY event_id LIMIT 200""".stripMargin

  private val ow02 =
    """SELECT event_id, ROUND(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 2) AS mavg
      |FROM events ORDER BY event_id LIMIT 200""".stripMargin

  private val ow03 =
    """SELECT event_id, ROUND(sum(value) OVER w, 2) AS cum_value, row_number() OVER w AS rn
      |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY event_id LIMIT 200""".stripMargin

  private val ow04 =
    """SELECT event_id, rank() OVER w AS rnk, dense_rank() OVER w AS drnk, ntile(4) OVER w AS tile
      |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
      |ORDER BY event_id LIMIT 200""".stripMargin

  private val ow05 =
    """SELECT event_id, ROUND(sum(value) OVER (PARTITION BY event_type
      |  ORDER BY epoch_us(ts) // 1000000
      |  RANGE BETWEEN 600 PRECEDING AND CURRENT ROW), 2) AS sum_10min
      |FROM events ORDER BY event_id LIMIT 200""".stripMargin

  private val ow06 =
    """WITH o AS (SELECT user_id, ts, event_id,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
      |           OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id, ts,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM o)
      |SELECT user_id, min(ts)::TIMESTAMP AS sess_start,
      |  (max(ts) + INTERVAL 30 MINUTE)::TIMESTAMP AS sess_end, count(*) AS n_events
      |FROM s GROUP BY user_id, sess ORDER BY user_id, sess_start""".stripMargin

  private val ow07 =
    """WITH bounds AS (
      |  SELECT user_id, date_trunc('hour', min(ts)) t0, date_trunc('hour', max(ts)) t1
      |  FROM events GROUP BY user_id),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) g FROM bounds),
      |u AS (
      |  SELECT user_id, ts, 0 AS side, value, event_id FROM events
      |  UNION ALL
      |  SELECT user_id, g, 1, NULL, NULL FROM grid),
      |w AS (
      |  SELECT user_id, ts, side,
      |    last_value(value IGNORE NULLS) OVER wp AS pv,
      |    last_value(CASE WHEN value IS NOT NULL THEN ts END IGNORE NULLS) OVER wp AS pt,
      |    first_value(value IGNORE NULLS) OVER wf AS nv,
      |    first_value(CASE WHEN value IS NOT NULL THEN ts END IGNORE NULLS) OVER wf AS nt
      |  FROM u
      |  WINDOW
      |    wp AS (PARTITION BY user_id ORDER BY ts ASC, side ASC, event_id ASC NULLS FIRST
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wf AS (PARTITION BY user_id ORDER BY ts ASC, side ASC, event_id ASC NULLS FIRST
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, ts AS grid_ts,
      |  ROUND(CASE WHEN nt = pt THEN pv
      |        ELSE pv + (nv - pv) * (epoch_us(ts) - epoch_us(pt)) / (epoch_us(nt) - epoch_us(pt))
      |        END, 4) AS ivalue
      |FROM w
      |WHERE side = 1 AND pv IS NOT NULL AND nv IS NOT NULL
      |ORDER BY user_id, grid_ts""".stripMargin

  private val oa01 =
    """SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS within_10pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  private val oa02 =
    """SELECT event_type, ROUND(quantile_cont(value, 0.5), 2) AS p50_exact, TRUE AS within_tol
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  private val oj01 =
    """SELECT c_mktsegment, count(*) AS n_childless FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  private val oj02 =
    """SELECT a.user_id, count(*) AS n_pairs
      |FROM events a JOIN events b ON a.user_id = b.user_id
      |  AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
      |  AND epoch_us(b.ts) // 1000000 - epoch_us(a.ts) // 1000000 <= 300
      |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin

  private val oj03 =
    """WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
      |s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
      |SELECT COALESCE(c.nk, s.nk) AS nationkey,
      |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
      |FROM c FULL OUTER JOIN s ON c.nk = s.nk ORDER BY nationkey""".stripMargin

  private val oj04 =
    """SELECT o_orderpriority, rnk, o_orderkey, ROUND(o_totalprice, 2) AS price FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      |  FROM orders) WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin

  private val oj05 =
    """SELECT o_orderpriority,
      |  count(*) FILTER (o_orderstatus = 'F') AS F,
      |  count(*) FILTER (o_orderstatus = 'O') AS O,
      |  count(*) FILTER (o_orderstatus = 'P') AS P
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  private val oj07 =
    """WITH g AS (SELECT o_orderpriority, o_orderstatus, count(*) n
      |           FROM orders GROUP BY 1, 2),
      |p AS (SELECT DISTINCT o_orderpriority FROM orders),
      |st AS (SELECT unnest(['F','O','P']) AS o_orderstatus)
      |SELECT p.o_orderpriority, st.o_orderstatus, coalesce(n, 0) AS n_orders
      |FROM p CROSS JOIN st
      |LEFT JOIN g ON g.o_orderpriority = p.o_orderpriority
      |           AND g.o_orderstatus = st.o_orderstatus
      |ORDER BY 1, 2""".stripMargin

  private val os01 =
    """SELECT event_type, ROUND(sum(value), 2) AS sum_value, count(value) AS n,
      |  ROUND(min(value), 2) AS min_value, ROUND(max(value), 2) AS max_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** P5 — stratified (per-language) sampling: the corpus-rebalancing op
    * an LLM data pipeline runs to downweight a dominant language —
    * per-stratum rates (en 5 %, others 20 %) applied via the same
    * salted-md5 determinism as the train split: reproducible on any
    * engine, stable under reshuffles, no RNG state, and composable with
    * p01 (different salts ⇒ independent selections). One narrow pass +
    * one bounded aggregate; at 100 TB the sample SELECTION is the
    * filter `h < rate` pushed wherever the rows flow next — the audit
    * here reports achieved-vs-target per stratum. */
  private def p05(s: SparkSession, d: String): DataFrame = {
    val h = pmod(
      conv(substring(md5(concat(lit("sample:"), col("doc_id").cast("string")).cast("binary")), 1, 15),
        16, 10).cast("long"),
      lit(100L))
    val rate = when(col("lang") === "en", lit(5L)).otherwise(lit(20L))
    documents(s, d)
      .select(col("lang"), h.as("h"), rate.as("r"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("h") < col("r"), 1L).otherwise(0L)).as("n_sampled"),
        max("r").as("target_pct"))
      .select(
        col("lang"), col("n_total"), col("n_sampled"), col("target_pct"),
        oround(col("n_sampled").cast("double") * 100 / col("n_total"), 2).as("achieved_pct"))
      .orderBy("lang")
  }

  private val os02 =
    """SELECT c_mktsegment, count(*) AS n, ROUND(sum(value), 2) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  private val op01 =
    """SELECT lang,
      |  CASE WHEN ('0x'||substr(md5('split:'||doc_id::VARCHAR),1,15))::BIGINT % 100 < 80 THEN 'train'
      |       WHEN ('0x'||substr(md5('split:'||doc_id::VARCHAR),1,15))::BIGINT % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split,
      |  count(*) AS n
      |FROM documents GROUP BY lang, split ORDER BY lang, split""".stripMargin

  private val op02 =
    """SELECT LEAST(length(text) // 50, 11)::BIGINT AS bucket, count(*) AS n
      |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin

  private val op03 =
    """WITH q AS (SELECT doc_id, lang, text,
      |  len(string_split(text,' '))::DOUBLE n_tok,
      |  len(list_filter(string_split(text,' '), w -> w IN ('the','a','and','of')))::DOUBLE n_stop,
      |  len(list_distinct(string_split(text,' ')))::DOUBLE n_distinct
      |  FROM documents),
      |s AS (SELECT doc_id, lang, text,
      |  0.4 * LEAST(n_tok / 60.0, 1.0) + 0.3 * (1.0 - n_stop / n_tok)
      |    + 0.3 * (n_distinct / n_tok) AS quality
      |  FROM q),
      |f AS (SELECT * FROM s WHERE quality >= 0.73),
      |d AS (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) rn FROM f),
      |k AS (SELECT doc_id, lang, quality FROM d WHERE rn = 1),
      |sp AS (SELECT lang, quality,
      |  CASE WHEN ('0x'||substr(md5('split:'||doc_id::VARCHAR),1,15))::BIGINT % 100 < 80 THEN 'train'
      |       WHEN ('0x'||substr(md5('split:'||doc_id::VARCHAR),1,15))::BIGINT % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |  FROM k)
      |SELECT lang, split, count(*) AS n, ROUND(avg(quality), 3) AS avg_quality
      |FROM sp GROUP BY lang, split ORDER BY lang, split""".stripMargin

  private val op05Sql =
    """WITH t AS (SELECT lang,
      |  ('0x'||substr(md5('sample:'||doc_id::VARCHAR),1,15))::BIGINT % 100 AS h,
      |  CASE WHEN lang = 'en' THEN 5 ELSE 20 END AS r
      |  FROM documents)
      |SELECT lang, count(*)::BIGINT AS n_total,
      |  sum(CASE WHEN h < r THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
      |  max(r)::BIGINT AS target_pct,
      |  ROUND(sum(CASE WHEN h < r THEN 1 ELSE 0 END)::DOUBLE * 100 / count(*), 2) AS achieved_pct
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  private[graft] val op04 =
    """WITH t AS (SELECT doc_id, lang, string_split(text,' ') toks FROM documents),
      |sh AS (SELECT doc_id, lang,
      |    list_distinct(list_transform(generate_series(1, len(toks)-7),
      |      i -> md5(toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7]))) g8
      |  FROM t WHERE len(toks) >= 8),
      |bench AS (SELECT DISTINCT h FROM (SELECT unnest(g8) h FROM sh WHERE doc_id % 50 = 0)),
      |train AS (SELECT doc_id, lang, unnest(g8) h FROM sh WHERE doc_id % 50 != 0),
      |hits AS (SELECT DISTINCT train.doc_id, train.lang FROM train JOIN bench ON train.h = bench.h)
      |SELECT lang, count(*) AS n_contaminated FROM hits GROUP BY lang ORDER BY lang""".stripMargin

  private val op06 =
    """WITH q AS (SELECT doc_id, lang, text,
      |  len(string_split(text,' ')) n_tok_i,
      |  len(string_split(text,' '))::DOUBLE n_tok,
      |  len(list_filter(string_split(text,' '), w -> w IN ('the','a','and','of')))::DOUBLE n_stop,
      |  len(list_distinct(string_split(text,' ')))::DOUBLE n_distinct
      |  FROM documents WHERE doc_id % 50 != 0),
      |s AS (SELECT doc_id, lang, text, n_tok_i,
      |  0.4 * LEAST(n_tok / 60.0, 1.0) + 0.3 * (1.0 - n_stop / n_tok) + 0.3 * (n_distinct / n_tok) AS quality
      |  FROM q),
      |f AS (SELECT * FROM s WHERE quality >= 0.73),
      |dd AS (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) rn FROM f),
      |k AS (SELECT doc_id, lang, text, n_tok_i, quality FROM dd WHERE rn = 1),
      |tg AS (SELECT doc_id, string_split(text,' ') toks FROM documents WHERE doc_id % 50 = 0),
      |bg AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-7),
      |    i -> md5(toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7]))) g8
      |  FROM tg WHERE len(toks) >= 8),
      |bench AS (SELECT DISTINCT h FROM (SELECT unnest(g8) h FROM bg)),
      |kt AS (SELECT doc_id, string_split(text,' ') toks FROM k),
      |kgl AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-7),
      |    i -> md5(toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7]))) g8
      |  FROM kt WHERE len(toks) >= 8),
      |kg AS (SELECT doc_id, unnest(g8) h FROM kgl),
      |contam AS (SELECT DISTINCT kg.doc_id FROM kg JOIN bench ON kg.h = bench.h),
      |clean AS (SELECT * FROM k WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      |sp AS (SELECT n_tok_i, quality,
      |  CASE WHEN ('0x'||substr(md5('split:'||doc_id::VARCHAR),1,15))::BIGINT % 100 < 80 THEN 'train'
      |       WHEN ('0x'||substr(md5('split:'||doc_id::VARCHAR),1,15))::BIGINT % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |  FROM clean)
      |SELECT split, count(*) AS n_docs, sum(n_tok_i)::BIGINT AS n_tokens,
      |  ROUND(avg(quality), 3) AS avg_quality
      |FROM sp GROUP BY split ORDER BY split""".stripMargin

  /** A9 — freshness audit: per event type, staleness of the newest row
    * versus the global high-water mark plus the median inter-arrival gap.
    * The feed-health monitor a 100 TB ingest estate runs per cycle: a
    * stalled upstream shows up as staleness ≫ its own p50 gap. One
    * partially-aggregated shuffle on event_type; the global max is a
    * 1-row broadcast, never a driver-side collect. The gap window sorts
    * within event_type — at production key cardinality that's the same
    * exchange the aggregate already needs; with very few hot types,
    * pre-bucket by (type, day) and take per-bucket medians instead. */
  private def a09(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_type"), col("ts"), col("event_id"))
    val gmax = e.agg(max("ts").as("gmx"))
    val gapW = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
    e.withColumn(
        "gap_sec",
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(gapW))) / 1e6)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        max(col("ts")).as("tmx"),
        oround(percentile(col("gap_sec"), lit(0.5)), 2).as("p50_gap_sec"))
      .crossJoin(broadcast(gmax))
      .select(
        col("event_type"), col("n_events"),
        oround((unix_micros(col("gmx")) - unix_micros(col("tmx"))) / 1e6, 2)
          .as("staleness_sec"),
        col("p50_gap_sec"))
      .orderBy("event_type")
  }

  private val oa09 =
    """WITH g AS (SELECT max(ts) AS gmx FROM events),
      |t AS (SELECT event_type, ts,
      |    (epoch_us(ts) - epoch_us(lag(ts) OVER (
      |       PARTITION BY event_type ORDER BY ts, event_id))) / 1e6 AS gap_sec
      |  FROM events)
      |SELECT t.event_type, count(*) AS n_events,
      |  ROUND((epoch_us(g.gmx) - epoch_us(max(t.ts))) / 1e6, 2) AS staleness_sec,
      |  ROUND(quantile_cont(t.gap_sec, 0.5), 2) AS p50_gap_sec
      |FROM t, g GROUP BY t.event_type, g.gmx ORDER BY t.event_type""".stripMargin

  /** W9 — seasonal-baseline residuals: hourly averages scored against
    * their own hour-of-day baseline (mean ± sd over all same-hour
    * buckets), top-10 |z|. The de-seasonalized anomaly pass that plain
    * z-scores (a04) get wrong on daily-cyclic metrics. Aggregation
    * discipline: the raw scan collapses to |types|×|hours| rows in ONE
    * partially-aggregated shuffle; both window passes run over that
    * bounded aggregate (the a03/t10 rule — global windows only over
    * already-aggregated small tables), so 100× the events changes only
    * the first exchange.
    *
    * Determinism fix (round 10, observed at sf0.001): the hour-of-day
    * BASELINE is an average of averages, and averages of averages land
    * on constructed `.xx5` midpoints — where the last-ulp noise of
    * double summation ORDER decides the ROUND. DuckDB's own parallel
    * aggregation produced two different `hod_baseline` values across
    * 30 runs of the ORACLE on identical input (53.64 vs 53.63), so
    * this was a latent gate flake on both sides. The j06 discipline,
    * two levels deep: quantize each bucket average into exact
    * 10^-4-integer space (`q`, a LONG — the first-level noise is
    * ~1e-13 relative, nowhere near the quantization step), then the
    * baseline is Σq/m/10^4 — an integer sum (order-free) and two
    * deterministic double divisions, identical in both engines. */
  private def w09(s: SparkSession, d: String): DataFrame = {
    val hodW = Window.partitionBy("event_type", "hod")
    // sd from the SAME integer q-space as the baseline (round-10
    // advisory): stddev_samp(bucket_avg) is an order-dependent double
    // reduction — the residual .xx5 exposure the baseline fix left
    // open. Σq and Σq² are LONG window sums (order-free; q ≤ ~5·10⁶
    // for this value domain, so Σq² ≤ ~2.5·10¹³ per row × group size —
    // far inside BIGINT, and DuckDB's overflow-throwing BIGINT runs the
    // identical sums), then variance = (Σq² − (Σq)²/m)/(m−1) in doubles
    // spelled identically in the oracle: every double op is a
    // deterministic function of exact integers, so z is bit-stable
    // across partitionings AND engines. greatest(…, 0) guards the
    // cancellation-driven tiny-negative before sqrt.
    events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(avg("value").as("bucket_avg0"))
      .withColumn("q", round(col("bucket_avg0") * 10000, 0).cast("long"))
      .withColumn("bucket_avg", col("q") / lit(10000.0))
      .withColumn("hod", hour(col("bucket")))
      .withColumn("sq", sum("q").over(hodW))
      .withColumn("sq2", sum(col("q") * col("q")).over(hodW))
      .withColumn("m", count(lit(1)).over(hodW))
      .withColumn("baseline", col("sq") / col("m") / lit(10000.0))
      // m = 1 would divide by zero (Spark yields NaN, which its NaN
      // ordering treats as > 1e-9) — a singleton hour bucket has no
      // spread to score against; drop it before the sd math.
      .filter(col("m") > 1)
      .withColumn("sd",
        sqrt(greatest(
          (col("sq2").cast("double") -
            col("sq").cast("double") * col("sq").cast("double") / col("m")) /
            (col("m") - 1), lit(0.0))) / lit(10000.0))
      .filter(col("sd") > 1e-9)
      .select(
        col("event_type"), col("bucket"),
        oround(col("bucket_avg"), 2).as("hour_avg"),
        oround(col("baseline"), 2).as("hod_baseline"),
        oround((col("bucket_avg") - col("baseline")) / col("sd"), 2).as("z"))
      .orderBy(abs(col("z")).desc, col("event_type"), col("bucket"))
      .limit(10)
  }

  private val ow09 =
    """WITH h0 AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket, avg(value) AS bucket_avg0
      |  FROM events GROUP BY 1, 2),
      |h AS (
      |  SELECT event_type, bucket,
      |    ROUND(bucket_avg0 * 10000, 0)::BIGINT AS q,
      |    ROUND(bucket_avg0 * 10000, 0)::BIGINT / 10000.0 AS bucket_avg
      |  FROM h0),
      |w0 AS (
      |  SELECT event_type, bucket, bucket_avg,
      |    sum(q) OVER (PARTITION BY event_type, hour(bucket)) AS sq,
      |    sum(q*q) OVER (PARTITION BY event_type, hour(bucket)) AS sq2,
      |    count(*) OVER (PARTITION BY event_type, hour(bucket)) AS m
      |  FROM h),
      |w AS (
      |  SELECT event_type, bucket, bucket_avg,
      |    sq / m / 10000.0 AS baseline,
      |    sqrt(greatest((sq2::DOUBLE - sq::DOUBLE * sq::DOUBLE / m) / (m - 1), 0.0))
      |      / 10000.0 AS sd
      |  FROM w0 WHERE m > 1)
      |SELECT event_type, bucket, ROUND(bucket_avg, 2) AS hour_avg,
      |  ROUND(baseline, 2) AS hod_baseline,
      |  ROUND((bucket_avg - baseline) / sd, 2) AS z
      |FROM w WHERE sd > 1e-9
      |ORDER BY abs(z) DESC, event_type, bucket LIMIT 10""".stripMargin

  /** P11 — curriculum binning: per-source difficulty quintiles for
    * curriculum-ordered training. Difficulty is pure column arithmetic
    * (mean word length + a length term — no UDF, stays in codegen);
    * ntile(5) is PARTITIONED by source, so each source sorts
    * independently inside the exchange Spark already makes for the
    * window — no global sort. At 100 TB with few giant sources, swap
    * ntile for approx_percentile cutoffs (a02 licenses the error) and
    * assign bins by comparison — same downstream contract. */
  private def p11(s: SparkSession, d: String): DataFrame = {
    val binW = Window.partitionBy("source").orderBy(col("score"), col("doc_id"))
    documents(s, d)
      .select(
        col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("double").as("n_tok"),
        length(col("text")).cast("double").as("len_chars"))
      .withColumn(
        "score",
        (col("len_chars") - col("n_tok") + 1) / col("n_tok") + col("n_tok") * 0.01)
      .withColumn("bin", ntile(5).over(binW).cast("long"))
      .groupBy("source", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        oround(min("score"), 4).as("min_score"),
        oround(max("score"), 4).as("max_score"),
        oround(avg("n_tok"), 2).as("avg_tok"))
      .orderBy("source", "bin")
  }

  private val op11 =
    """WITH f AS (
      |  SELECT doc_id, source,
      |    len(string_split(text, ' '))::DOUBLE AS n_tok,
      |    length(text)::DOUBLE AS len_chars
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id, source, n_tok,
      |    (len_chars - n_tok + 1) / n_tok + n_tok * 0.01 AS score
      |  FROM f),
      |b AS (
      |  SELECT source, ntile(5) OVER (PARTITION BY source ORDER BY score, doc_id) AS bin,
      |    score, n_tok
      |  FROM sc)
      |SELECT source, bin, count(*) AS n_docs,
      |  ROUND(min(score), 4) AS min_score, ROUND(max(score), 4) AS max_score,
      |  ROUND(avg(n_tok), 2) AS avg_tok
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** A10 — ordered funnel: view → first later click → first later
    * purchase per user, with stage conversion rates and the median
    * view→purchase latency. The ordered-min-after chain (each stage's
    * min(ts) strictly after the previous stage's) is three per-user
    * aggregates joined on user_id — every shuffle is on the user key,
    * the partitioning a 100 TB event store would already be bucketed
    * by, and no stage materializes more than |users| rows. */
  private def a10(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("tv"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("tv"))
      .groupBy("user_id").agg(min("ts").as("tc"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("tc"))
      .groupBy("user_id").agg(min("ts").as("tp"))
    val lat = p.join(v, "user_id")
      .select(((unix_micros(col("tp")) - unix_micros(col("tv"))) / 1e6).as("sec"))
      .agg(oround(percentile(col("sec"), lit(0.5)), 2).as("p50_latency_sec"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
      .crossJoin(lat)
      .select(
        col("n_view"), col("n_click"), col("n_purchase"),
        oround(col("n_click").cast("double") / col("n_view"), 4).as("view_to_click"),
        oround(col("n_purchase").cast("double") / col("n_click"), 4).as("click_to_purchase"),
        col("p50_latency_sec"))
  }

  private val oa10 =
    """WITH v AS (SELECT user_id, min(ts) tv FROM events WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) tc FROM events e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) tp FROM events e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY 1),
      |l AS (SELECT (epoch_us(tp) - epoch_us(tv)) / 1e6 sec FROM p JOIN v USING (user_id))
      |SELECT (SELECT count(*) FROM v) n_view,
      |  (SELECT count(*) FROM c) n_click,
      |  (SELECT count(*) FROM p) n_purchase,
      |  ROUND((SELECT count(*) FROM c)::DOUBLE / (SELECT count(*) FROM v), 4) view_to_click,
      |  ROUND((SELECT count(*) FROM p)::DOUBLE / (SELECT count(*) FROM c), 4) click_to_purchase,
      |  (SELECT ROUND(quantile_cont(sec, 0.5), 2) FROM l) p50_latency_sec""".stripMargin

  /** W10 — CUSUM changepoint scan: per event type, the day where the
    * cumulative sum of (daily mean − overall mean) peaks in magnitude —
    * the classic level-shift detector that catches slow drifts a04's
    * pointwise z-scores miss. The raw scan collapses to |types|×|days|
    * rows in one partially-aggregated shuffle; the overall mean, the
    * running CUSUM and the peak-pick are three window passes over that
    * bounded aggregate with NO further exchange (all share the
    * event_type partitioning). The running frame is
    * unboundedPreceding→currentRow — the O(n) incremental frame, never
    * the O(n²) shrinking one (the w07 lesson). */
  private def w10(s: SparkSession, d: String): DataFrame = {
    val all = Window.partitionBy("event_type")
    val run = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pick = Window.partitionBy("event_type")
      .orderBy(abs(col("cusum")).desc, col("day"))
    events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg("value").as("dm"))
      .withColumn("dev", col("dm") - avg("dm").over(all))
      .withColumn("cusum", sum("dev").over(run))
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(
        col("event_type"),
        col("day").cast("timestamp").as("peak_day"),
        oround(col("cusum"), 4).as("peak_cusum"))
      .orderBy("event_type")
  }

  private val ow10 =
    """WITH m AS (SELECT event_type, ts::DATE AS day, avg(value) AS dm
      |      FROM events GROUP BY 1, 2),
      |dev AS (SELECT event_type, day,
      |      dm - avg(dm) OVER (PARTITION BY event_type) AS dev FROM m),
      |cs AS (SELECT event_type, day,
      |      sum(dev) OVER (PARTITION BY event_type ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      |      FROM dev),
      |r AS (SELECT event_type, day, cusum,
      |      row_number() OVER (PARTITION BY event_type
      |        ORDER BY abs(cusum) DESC, day) AS rn FROM cs)
      |SELECT event_type, day AS peak_day, ROUND(cusum, 4) AS peak_cusum
      |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin

  /** P12 — epoch mixture plan: given a token budget and
    * temperature-0.5 source weights (p08's upweighting curve), how many
    * epochs of each source the sampler must schedule. Pure arithmetic
    * over the 1-row-per-source aggregate — the planning step that turns
    * p08's weights into an executable repeat count; at 100 TB this
    * whole query runs on a |sources|-row table and its only real cost
    * is the one token-counting scan. */
  private def p12(s: SparkSession, d: String): DataFrame = {
    val budget = lit(1000000.0)
    val toks = documents(s, d)
      .groupBy("source")
      .agg(sum(size(split(col("text"), " "))).cast("double").as("n_tokens"))
    val tot = toks.agg(sum(sqrt(col("n_tokens"))).as("z"))
    toks.crossJoin(broadcast(tot))
      .select(
        col("source"),
        col("n_tokens").cast("long").as("n_tokens"),
        oround(sqrt(col("n_tokens")) / col("z"), 6).as("weight"),
        oround(budget * sqrt(col("n_tokens")) / col("z"), 1).as("target_tokens"),
        ceil(budget * sqrt(col("n_tokens")) / col("z") / col("n_tokens"))
          .cast("long").as("n_epochs"))
      .orderBy("source")
  }

  private val op12 =
    """WITH t AS (SELECT source, sum(len(string_split(text, ' ')))::DOUBLE AS n_tokens
      |      FROM documents GROUP BY 1),
      |z AS (SELECT sum(sqrt(n_tokens)) AS z FROM t)
      |SELECT source, n_tokens::BIGINT AS n_tokens,
      |  ROUND(sqrt(n_tokens) / z.z, 6) AS weight,
      |  ROUND(1000000.0 * sqrt(n_tokens) / z.z, 1) AS target_tokens,
      |  ceil(1000000.0 * sqrt(n_tokens) / z.z / n_tokens)::BIGINT AS n_epochs
      |FROM t, z ORDER BY source""".stripMargin

  /** U5 — compaction plan: assign each document to an output file group
    * by running-size bucketing (group changes when the cumulative bytes
    * BEFORE the row cross the 2 KiB target — the c03 packing shape
    * applied to file layout). This is the planning half of small-file
    * compaction: the write half is `df.repartitionByRange(source,
    * file_group).write`, and the plan here shuffles once on source and
    * sorts within partitions — exactly what that write needs anyway. A
    * real estate runs this per ingest partition, not globally; the
    * per-source window IS that partition-local pass. */
  private def u05(s: SparkSession, d: String): DataFrame = {
    val run = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("cum", sum("n_chars").over(run))
      .withColumn("file_group",
        floor((col("cum") - col("n_chars")) / 2048).cast("long"))
      .groupBy("source", "file_group")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("group_chars"))
      .orderBy("source", "file_group")
  }

  private val ou05 =
    """WITH c AS (SELECT doc_id, source, n_chars,
      |    sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM documents)
      |SELECT source, floor((cum - n_chars) / 2048)::BIGINT AS file_group,
      |  count(*) AS n_docs, sum(n_chars)::BIGINT AS group_chars
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** A11 — cohort retention: users grouped by first-seen day, active-user
    * counts per day offset for the first week. Two shuffles total — one
    * on user_id (distinct activity days + first-day cohort, the key the
    * event store is bucketed by) and one on the bounded (cohort, offset)
    * grid. The distinct-before-join keeps each user contributing at most
    * one row per day, so the final count(*) IS distinct users without a
    * count(DISTINCT) shuffle. */
  private def a11(s: SparkSession, d: String): DataFrame = {
    val act = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val coh = act.groupBy("user_id").agg(min("day").as("cohort"))
    act.join(coh, "user_id")
      .select(col("cohort"), datediff(col("day"), col("cohort")).as("day_offset"))
      .filter(col("day_offset") <= 7)
      .groupBy("cohort", "day_offset")
      .agg(count(lit(1)).as("n_active"))
      .select(
        col("cohort").cast("timestamp").as("cohort"),
        col("day_offset").cast("long").as("day_offset"),
        col("n_active"))
      .orderBy("cohort", "day_offset")
  }

  private val oa11 =
    """WITH act AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
      |coh AS (SELECT user_id, min(day) AS cohort FROM act GROUP BY 1)
      |SELECT cohort, datediff('day', cohort, day) AS day_offset,
      |  count(*) AS n_active
      |FROM act JOIN coh USING (user_id)
      |WHERE datediff('day', cohort, day) <= 7
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** A12 — A/B experiment readout: deterministic hash-bucketed variant
    * assignment (the q25 `hash60` trick, so assignment is reproducible
    * across engines AND across reruns — the property a real experiment
    * system needs), per-user conversion (a high-value purchase), and the pooled
    * two-proportion z-test. Shape: one corpus-sized per-user aggregate
    * (map-side combined), then ALL the statistics — counts, rates,
    * pooled variance, z — collapse in a single-row aggregate; nothing
    * after the first groupBy is bigger than one row, so at 100 TB this
    * is one shuffle of |users| pre-combined rows and a driver-sized
    * readout. z is computed from the unrounded rates (rounding feeds
    * display, never downstream arithmetic). */
  private def a12(s: SparkSession, d: String): DataFrame = {
    val u = events(s, d)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") > 90, 1L)
        .otherwise(0L)).as("conv"))
      .withColumn(
        "v",
        pmod(graft.functions.TextFns.hash60(
          concat(lit("v:"), col("user_id").cast("string"))), lit(2L)))
    val counts = u.agg(
      sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("v") === 0, col("conv")).otherwise(0L)).as("conv_a"),
      sum(when(col("v") === 1, col("conv")).otherwise(0L)).as("conv_b"))
    val ra = col("conv_a").cast("double") / col("n_a")
    val rb = col("conv_b").cast("double") / col("n_b")
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    counts.select(
      col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      oround(ra, 4).as("rate_a"),
      oround(rb, 4).as("rate_b"),
      oround((rb - ra) / se, 3).as("z"))
  }

  private val oa12 =
    """WITH u AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' AND value > 90
      |             THEN 1 ELSE 0 END) AS conv,
      |    ('0x'||substr(md5('v:'||user_id::VARCHAR),1,15))::BIGINT % 2 AS v
      |  FROM events GROUP BY user_id),
      |c AS (SELECT
      |    sum(CASE WHEN v = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
      |    sum(CASE WHEN v = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
      |    sum(CASE WHEN v = 0 THEN conv ELSE 0 END)::BIGINT AS conv_a,
      |    sum(CASE WHEN v = 1 THEN conv ELSE 0 END)::BIGINT AS conv_b
      |  FROM u)
      |SELECT n_a, n_b, conv_a, conv_b,
      |  ROUND(conv_a::DOUBLE / n_a, 4) AS rate_a,
      |  ROUND(conv_b::DOUBLE / n_b, 4) AS rate_b,
      |  ROUND((conv_b::DOUBLE / n_b - conv_a::DOUBLE / n_a) /
      |    sqrt((conv_a + conv_b)::DOUBLE / (n_a + n_b)
      |      * (1.0 - (conv_a + conv_b)::DOUBLE / (n_a + n_b))
      |      * (1.0 / n_a + 1.0 / n_b)), 3) AS z
      |FROM c""".stripMargin

  /** J10 — star-schema multi-join (TPC-H Q5 shape): lineitem against
    * four dimensions with the "local supplier" constraint
    * (c_nationkey = s_nationkey). Join order IS the scale design:
    * start from the fact, take the date-filtered orders first (the
    * most selective fact-side cut, pushed to the scan), then supplier
    * enriched by the ONLY force-broadcast side — nation⋈region, bounded
    * by geography (≤25×5 rows) at ANY scale factor. Supplier and
    * customer are deliberately NOT broadcast-hinted: at 100 TB both are
    * billion-row tables, so the declarative plan shuffles them and AQE
    * downgrades to broadcast only when the measured size allows —
    * hinting them would OOM the driver exactly when the engine is
    * needed most. */
  private def j10(s: SparkSession, d: String): DataFrame = {
    val dim = nation(s, d)
      .join(region(s, d).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val sup = supplier(s, d)
      .join(broadcast(dim), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val ord = orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(
        customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(oround(
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
        2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val oj10 =
    """SELECT n_name, ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** W11 — rolling exact MEDIAN over a bounded 10-event frame per
    * user: the robust smoother for spiky telemetry (a04/a07's outlier
    * work as a windowed signal, not a global flag). Spark evaluates an
    * exact-percentile aggregate over each sliding frame — O(frame) per
    * row, safe ONLY because the frame is a constant 10 rows; an
    * unbounded or span-proportional frame here would be the w07 lesson
    * again. One exchange on user_id serves the single window. Spark
    * refuses ordered-frame `median`, so the frame is materialized with
    * `collect_list` (legal over any frame) and the median composed as
    * the mean of the two middle order statistics — the interpolating
    * definition DuckDB's windowed `median` uses; O(frame·log frame)
    * per row, safe ONLY because the frame is 10 rows. */
  private def w11(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id")).rowsBetween(-9, 0)
    val arr = array_sort(collect_list(col("value")).over(w))
    val n = size(arr)
    val lo = ((n + 1) / 2).cast("int") // Column `/` is double division;
    val hi = (n / 2).cast("int") + 1   // cast truncates to the order stats
    val med = (element_at(arr, lo) + element_at(arr, hi)) / 2
    events(s, d)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), oround(med, 4).as("roll_med"))
      .orderBy("user_id", "event_id")
      .limit(200)
  }

  private val ow11 =
    """SELECT user_id, event_id,
      |  ROUND(median(value) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 4)
      |    AS roll_med
      |FROM events WHERE value IS NOT NULL
      |ORDER BY user_id, event_id LIMIT 200""".stripMargin

  /** U6 — right-to-be-forgotten cascade: a deterministic 5% of
    * customers request deletion; the erasure propagates customer →
    * their orders → those orders' lineitems, and the query emits the
    * per-table audit (before / deleted / after) a compliance run must
    * produce. Shape discipline: the request set is bounded by REQUESTS
    * (not data size), so the customer and orders cuts are broadcast
    * anti/semi joins; only the orders→lineitem hop can grow with data
    * and that one is a key-shuffled semi join. Three counts, zero
    * full-table rewrites — the audit precedes the actual delete, which
    * at 100 TB is a partition-rewrite job driven by exactly these
    * keys. */
  private def u06(s: SparkSession, d: String): DataFrame = {
    val delC = customer(s, d)
      .filter(pmod(graft.functions.TextFns.hash60(
        concat(lit("del:"), col("c_custkey").cast("string"))), lit(20L)) === 0L)
      .select(col("c_custkey"))
    val delO = orders(s, d)
      .join(broadcast(delC), col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"))
    def audit(name: String, total: DataFrame, deleted: DataFrame) = {
      val t = total.agg(count(lit(1)).as("n_before"))
      val x = deleted.agg(count(lit(1)).as("n_deleted"))
      t.crossJoin(x).select(
        lit(name).as("tbl"), col("n_before"), col("n_deleted"),
        (col("n_before") - col("n_deleted")).as("n_after"))
    }
    val c = audit("customer", customer(s, d),
      customer(s, d).join(broadcast(delC), Seq("c_custkey"), "left_semi"))
    val o = audit("orders", orders(s, d),
      orders(s, d).join(
        broadcast(delC), col("o_custkey") === col("c_custkey"), "left_semi"))
    val l = audit("lineitem", lineitem(s, d),
      lineitem(s, d).join(delO, col("l_orderkey") === col("o_orderkey"), "left_semi"))
    c.unionByName(o).unionByName(l).orderBy("tbl")
  }

  private val ou06 =
    """WITH delc AS (SELECT c_custkey FROM customer
      |  WHERE ('0x'||substr(md5('del:'||c_custkey::VARCHAR),1,15))::BIGINT % 20 = 0),
      |delo AS (SELECT o_orderkey FROM orders
      |  WHERE o_custkey IN (SELECT c_custkey FROM delc))
      |SELECT 'customer' AS tbl, (SELECT count(*) FROM customer) AS n_before,
      |  (SELECT count(*) FROM delc) AS n_deleted,
      |  (SELECT count(*) FROM customer) - (SELECT count(*) FROM delc) AS n_after
      |UNION ALL
      |SELECT 'lineitem', (SELECT count(*) FROM lineitem),
      |  (SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM delo)),
      |  (SELECT count(*) FROM lineitem)
      |    - (SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM delo))
      |UNION ALL
      |SELECT 'orders', (SELECT count(*) FROM orders),
      |  (SELECT count(*) FROM delo),
      |  (SELECT count(*) FROM orders) - (SELECT count(*) FROM delo)
      |ORDER BY tbl""".stripMargin

  /** P13 — differentially-private-STYLE aggregate release: per-type
    * event counts and value sums published with Laplace noise
    * (sensitivity/ε scale) via the inverse-CDF transform. The noise
    * seed is the q25 deterministic hash — that is what makes the
    * release ORACLE-CHECKABLE here and is explicitly NOT a privacy
    * guarantee (a real deployment swaps the seed for a secure RNG and
    * this query's plan is unchanged; determinism is the test seam, the
    * plan shape is the product). Scale shape: one map-side-combined
    * aggregate to |types| rows, noise applied post-aggregate on the
    * bounded result — the noise step costs nothing at any scale. */
  private def p13(s: SparkSession, d: String): DataFrame = {
    def unif(tag: String) = graft.functions.TextFns.hash60(
      concat(lit(tag), col("event_type"))).cast("double") /
      lit(1152921504606846976.0) // 2^60: hash60 ∈ [0, 2^60) → u ∈ [0, 1)
    def lap(u: Column, b: Double) = {
      val c = u - lit(0.5)
      -lit(b) * signum(c) * log(lit(1.0) - lit(2.0) * abs(c))
    }
    events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
      .select(
        col("event_type"),
        oround(col("n") + lap(unif("nc:"), 1.0), 3).as("n_released"),
        oround(col("sv") + lap(unif("sv:"), 100.0), 3).as("sum_released"))
      .orderBy("event_type")
  }

  private val op13 =
    """WITH a AS (SELECT event_type, count(*) AS n, sum(value) AS sv
      |  FROM events GROUP BY event_type),
      |u AS (SELECT event_type, n, sv,
      |  ('0x'||substr(md5('nc:'||event_type),1,15))::BIGINT
      |    / 1152921504606846976.0 AS un,
      |  ('0x'||substr(md5('sv:'||event_type),1,15))::BIGINT
      |    / 1152921504606846976.0 AS us
      |  FROM a)
      |SELECT event_type,
      |  ROUND(n + (-1.0 * sign(un - 0.5) * ln(1.0 - 2.0 * abs(un - 0.5))), 3)
      |    AS n_released,
      |  ROUND(sv + (-100.0 * sign(us - 0.5) * ln(1.0 - 2.0 * abs(us - 0.5))), 3)
      |    AS sum_released
      |FROM u ORDER BY event_type""".stripMargin

  /** A13 — correlation matrix: pairwise Pearson r between the four
    * lineitem measures in ONE aggregate pass (six `corr` co-moment
    * aggregates, all mergeable partials — the single-shuffle profile
    * a06 set for univariate stats, extended to bivariate). The unpivot
    * to (x, y, r) rows happens on the 1-row aggregate result. Feature
    * correlation screens (leakage detection, redundant-feature
    * pruning) run exactly this plan over training tables. */
  private def a13(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val exprs = pairs.map { case (x, y) =>
      oround(corr(col(x), col(y)), 4).as(s"${x}__$y")
    }
    val agg = lineitem(s, d).agg(exprs.head, exprs.tail: _*)
    agg.select(explode(array(
      pairs.map { case (x, y) =>
        struct(lit(x).as("x"), lit(y).as("y"), col(s"${x}__$y").as("r"))
      }: _*)).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"), col("p.r").as("r"))
      .orderBy("x", "y")
  }

  private val oa13 =
    """WITH a AS (SELECT
      |  ROUND(corr(l_quantity, l_extendedprice), 4) AS qe,
      |  ROUND(corr(l_quantity, l_discount), 4) AS qd,
      |  ROUND(corr(l_quantity, l_tax), 4) AS qt,
      |  ROUND(corr(l_extendedprice, l_discount), 4) AS ed,
      |  ROUND(corr(l_extendedprice, l_tax), 4) AS et,
      |  ROUND(corr(l_discount, l_tax), 4) AS dt
      |  FROM lineitem)
      |SELECT x, y, r FROM (
      |  SELECT 'l_quantity' x, 'l_extendedprice' y, qe r FROM a
      |  UNION ALL SELECT 'l_quantity', 'l_discount', qd FROM a
      |  UNION ALL SELECT 'l_quantity', 'l_tax', qt FROM a
      |  UNION ALL SELECT 'l_extendedprice', 'l_discount', ed FROM a
      |  UNION ALL SELECT 'l_extendedprice', 'l_tax', et FROM a
      |  UNION ALL SELECT 'l_discount', 'l_tax', dt FROM a)
      |ORDER BY x, y""".stripMargin

  /** P15 — QUOTA sampling: downsample every source to ≤ 20 docs,
    * deterministically (the per-source cap a mixture recipe applies
    * before weighting — p05 samples by fraction, this caps by COUNT).
    * Rank = md5 of a salted doc_id: uniform, reshuffle-stable,
    * engine-portable (the p01/p05/q25 no-RNG discipline). The rank
    * filter plans through WindowGroupLimit, so each source partition
    * keeps a 20-row heap instead of fully sorting — at 100 TB the
    * per-partition state is the quota, not the source size. */
  private def p15(s: SparkSession, d: String): DataFrame = {
    val rk = Window.partitionBy("source")
      .orderBy(md5(concat_ws(":", lit("q"), col("doc_id"))))
    documents(s, d)
      .select(col("source"), col("doc_id"),
        row_number().over(rk).cast("long").as("rk"))
      .filter(col("rk") <= 20)
      .orderBy("source", "rk")
  }

  private val op15 =
    """WITH r AS (SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY md5('q:'||doc_id::VARCHAR)) rk
      |  FROM documents)
      |SELECT source, doc_id, rk FROM r WHERE rk <= 20
      |ORDER BY source, rk""".stripMargin

  /** U07 — CDC NET-EFFECT compaction (the Debezium batch-collapse): a
    * change log carrying insert/update/delete ops per key collapses to
    * at most ONE net op — I+…+D cancels outright, I+…+U nets to I with
    * the final payload, U-only nets to U, trailing D nets to D. Ops
    * derive from event_type (purchase→I, error→D, else U). Both the
    * FIRST and LAST op per key are associative struct argmin/argmax
    * ((ts, event_id) is unique per user), so the whole collapse is ONE
    * partial-aggregated groupBy — no window sort of the log (the
    * d14/q49 bounded-state discipline); at 100 TB the shuffle carries
    * two structs per key×partition regardless of log depth. u04 keeps
    * the latest version; this nets the OPS — the distinction that
    * decides whether a downstream MERGE inserts, updates, or skips. */
  private def u07(s: SparkSession, d: String): DataFrame = {
    val oped = events(s, d)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        when(col("event_type") === "purchase", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"))
    oped.groupBy("user_id")
      .agg(
        min(struct(col("ts"), col("event_id"), col("op"))).as("f"),
        max(struct(col("ts"), col("event_id"), col("op"), col("value"))).as("l"),
        count(lit(1)).as("n_ops"))
      .filter(!(col("l.op") === "D" && col("f.op") === "I"))
      .select(
        col("user_id"),
        when(col("l.op") === "D", "D")
          .when(col("f.op") === "I", "I")
          .otherwise("U").as("net_op"),
        oround(col("l.value"), 2).as("net_value"),
        col("n_ops"))
      .orderBy("user_id")
  }

  private val ou07 =
    """WITH c AS (SELECT user_id, ts, event_id, value,
      |    CASE WHEN event_type = 'purchase' THEN 'I'
      |         WHEN event_type = 'error' THEN 'D' ELSE 'U' END op
      |  FROM events WHERE ts IS NOT NULL),
      |f AS (SELECT user_id, op fop,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn FROM c),
      |l AS (SELECT user_id, op lop, value lval,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
      |  FROM c),
      |n AS (SELECT user_id, count(*) n_ops FROM c GROUP BY 1)
      |SELECT f.user_id,
      |  CASE WHEN l.lop = 'D' THEN 'D' WHEN f.fop = 'I' THEN 'I' ELSE 'U' END AS net_op,
      |  ROUND(l.lval, 2) AS net_value, n.n_ops
      |FROM (SELECT * FROM f WHERE rn = 1) f
      |JOIN (SELECT * FROM l WHERE rn = 1) l USING (user_id)
      |JOIN n USING (user_id)
      |WHERE NOT (l.lop = 'D' AND f.fop = 'I')
      |ORDER BY user_id""".stripMargin

  /** W12 — OHLC BARS (candlestick resampling): per type and 6-hour
    * bucket, the open/high/low/close/volume summary — the standard
    * time-series downsampler (finance bars, sensor roll-ups, metric
    * compaction). Open and close are associative struct argmin/argmax
    * over (ts, event_id, value) — (ts, event_id) is unique, so the
    * payload never decides the order and partial aggregation ships ONE
    * struct per bar×partition; no window sort anywhere (the u07/d14
    * discipline — a first_value/last_value window would sort every
    * event). Buckets are epoch-aligned by integer division on µs, not
    * `window()`/`time_bucket`, because the two engines' bucket origins
    * differ and the arithmetic form is origin-exact on both. */
  private def w12(s: SparkSession, d: String): DataFrame = {
    val barUs = 21600L * 1000000L // 6 hours
    events(s, d)
      .filter(col("ts").isNotNull)
      .groupBy(
        col("event_type"),
        timestamp_micros((unix_micros(col("ts")).divide(barUs)).cast("long") * barUs)
          .as("bar_start"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("value"))).getField("value")
          .as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("ts"), col("event_id"), col("value"))).getField("value")
          .as("close"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type", "bar_start")
  }

  private val ow12 =
    """WITH b AS (SELECT event_type, value, ts, event_id,
      |    make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) bar_start
      |  FROM events WHERE ts IS NOT NULL),
      |f AS (SELECT event_type, bar_start, value fopen,
      |    row_number() OVER (PARTITION BY event_type, bar_start ORDER BY ts, event_id) rn
      |  FROM b),
      |l AS (SELECT event_type, bar_start, value fclose,
      |    row_number() OVER (PARTITION BY event_type, bar_start ORDER BY ts DESC, event_id DESC) rn
      |  FROM b),
      |g AS (SELECT event_type, bar_start, max(value) high, min(value) low,
      |    count(*) n_events FROM b GROUP BY 1, 2)
      |SELECT g.event_type, g.bar_start, f.fopen AS open, g.high, g.low,
      |  l.fclose AS close, g.n_events
      |FROM g
      |JOIN (SELECT * FROM f WHERE rn = 1) f USING (event_type, bar_start)
      |JOIN (SELECT * FROM l WHERE rn = 1) l USING (event_type, bar_start)
      |ORDER BY event_type, bar_start""".stripMargin

  /** A14 — data-quality CONSTRAINT SUITE (the Deequ `check` shape,
    * distinct from a06's profile: a06 reports stats, this asserts
    * CONTRACTS and returns pass/fail rows a pipeline gate can act on).
    * Five checks in ONE narrow pass — row count, completeness,
    * key uniqueness, value domain, numeric range; the lone exact
    * countDistinct keeps the plan on the Expand-free two-level
    * distinct aggregate (the a06 lesson), and the melt to one row per
    * check is `inline` over the single aggregate row: zero extra
    * shuffles. The domain check FAILS by design here ('error' is
    * outside the allowed set) — a constraint report that can't show a
    * failure isn't testing the gate. At 100 TB this is the same one
    * pass; sketch swaps (approx distinct) are licensed by a01. */
  private def a14(s: SparkSession, d: String): DataFrame = {
    val m = events(s, d).agg(
      count(lit(1)).cast("double").as("n"),
      count(col("user_id")).cast("double").as("nu"),
      countDistinct(col("event_id")).cast("double").as("nde"),
      sum(when(col("event_type").isin("click", "purchase", "signup", "view"), 1)
        .otherwise(0)).cast("double").as("dom"),
      sum(when(col("value").between(-10000, 10000), 1)
        .otherwise(0)).cast("double").as("rng"))
    val checks = array(
      struct(lit("completeness_user_id").as("check_name"),
        oround(col("nu") / col("n"), 4).as("metric"),
        (col("nu") / col("n") >= 0.99).as("passed")),
      struct(lit("domain_event_type").as("check_name"),
        oround(col("dom") / col("n"), 4).as("metric"),
        (col("dom") >= col("n")).as("passed")),
      struct(lit("range_value").as("check_name"),
        oround(col("rng") / col("n"), 4).as("metric"),
        (col("rng") >= col("n")).as("passed")),
      struct(lit("row_count").as("check_name"),
        col("n").as("metric"), (col("n") > 0).as("passed")),
      struct(lit("uniqueness_event_id").as("check_name"),
        oround(col("nde") / col("n"), 4).as("metric"),
        (col("nde") >= col("n")).as("passed")))
    m.select(inline(checks)).orderBy("check_name")
  }

  private val oa14 =
    """WITH m AS (SELECT count(*)::DOUBLE n, count(user_id)::DOUBLE nu,
      |    count(DISTINCT event_id)::DOUBLE nde,
      |    sum(CASE WHEN event_type IN ('click','purchase','signup','view')
      |        THEN 1 ELSE 0 END)::DOUBLE dom,
      |    sum(CASE WHEN value BETWEEN -10000 AND 10000 THEN 1 ELSE 0 END)::DOUBLE rng
      |  FROM events)
      |SELECT * FROM (
      |  SELECT 'completeness_user_id' check_name, ROUND(nu/n,4) metric, nu/n >= 0.99 passed FROM m
      |  UNION ALL SELECT 'domain_event_type', ROUND(dom/n,4), dom >= n FROM m
      |  UNION ALL SELECT 'range_value', ROUND(rng/n,4), rng >= n FROM m
      |  UNION ALL SELECT 'row_count', n, n > 0 FROM m
      |  UNION ALL SELECT 'uniqueness_event_id', ROUND(nde/n,4), nde >= n FROM m)
      |ORDER BY check_name""".stripMargin

  /** A15 — HOPPING (sliding) window aggregates: 30-minute windows
    * advancing every 10 minutes over the event stream — OP-08's
    * tumbling window (q05) generalized to overlapping panes, the third
    * of Spark's window families alongside tumbling (q05) and
    * session (w06/a11's gap windows). Each event lands in exactly
    * length/slide = 3 panes; Spark's `window(ts, '30 minutes',
    * '10 minutes')` expands them in the scan projection (a 3-row
    * Expand, no join, no extra pass), and the aggregate
    * partial-combines per (pane, type) — the shuffle carries one row
    * per group, so 100 TB of events reduce to (time-range/10 min) ×
    * |types| rows regardless of input mass. The oracle rebuilds the
    * same panes by epoch-second integer arithmetic (Spark's window
    * origin is the 1970 epoch; DuckDB's `time_bucket` origin is
    * 2000-01-01 — q05's µs-division trick sidesteps the mismatch, here
    * swept over the 3 slide offsets). Busiest panes first under a
    * total order — the overlap means a burst shows up in 3 panes with
    * different partial masses, which is the point of hopping windows:
    * burst onset resolves to the slide, not the window length. */
  private def a15(s: SparkSession, d: String): DataFrame =
    events(s, d).filter(col("ts").isNotNull)
      .groupBy(
        window(col("ts"), "30 minutes", "10 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), oround(sum("value"), 3).as("sv"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n"), col("sv"))
      .orderBy(col("n").desc, col("w_start"), col("event_type"))
      .limit(96)

  /** Shared with Core's q57 — the STREAMED hopping window must equal
    * this exact batch answer (the q36/q43 one-oracle discipline). */
  private[queries] val oa15 =
    """WITH e AS (SELECT floor(epoch(ts))::BIGINT // 600 AS b10, event_type, value
      |    FROM events WHERE ts IS NOT NULL),
      |p AS (SELECT to_timestamp((b10 - k) * 600)::TIMESTAMP AS w_start,
      |    event_type, value
      |  FROM e, LATERAL (SELECT unnest([0, 1, 2]) k))
      |SELECT w_start, event_type, count(*) AS n, ROUND(sum(value), 3) AS sv
      |FROM p GROUP BY w_start, event_type
      |ORDER BY n DESC, w_start, event_type LIMIT 96""".stripMargin

  /** P17 — BALANCED SHARD MANIFEST: every document assigned to one of
    * 8 training shards, balanced by token count — the write plan a
    * distributed dataloader consumes (shards must carry near-equal
    * token mass or the slowest shard gates every epoch step).
    * Longest-processing-time round-robin: within each language, docs
    * ranked by (n_tokens desc, doc_id) take shard (rank−1) mod 8 — the
    * classic LPT approximation made deterministic and oracle-able (no
    * RNG, stable under reshuffles, the p01 discipline applied to shard
    * assignment). Published per (lang, shard): doc count, token mass,
    * and load relative to the per-lang ideal (load ≈ 1.0000 everywhere
    * is the receipt that round-robin-after-sort balances). The rank
    * window is per-lang (c03's stratified discipline); at 100 TB a
    * dominant language salts into (lang, hash(doc_id) mod K)
    * sub-strata — each sub-stratum round-robins independently and a
    * union of balanced assignments stays balanced, so the salt costs
    * only the ≤ 8·K stragglers at stratum edges. */
  private def p17(s: SparkSession, d: String): DataFrame = {
    val nShards = 8
    val rk = Window.partitionBy("lang").orderBy(col("nt").desc, col("doc_id"))
    val tot = Window.partitionBy("lang")
    documents(s, d)
      .select(col("lang"), col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("nt"))
      .select(col("lang"), col("nt"),
        ((row_number().over(rk) - 1) % nShards).cast("long").as("shard"),
        sum("nt").over(tot).as("lt"))
      .groupBy("lang", "shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("nt").cast("long").as("n_tokens"),
        oround(sum("nt") * lit(nShards.toDouble) / max("lt"), 4).as("load"))
      .orderBy("lang", "shard")
  }

  private val op17 =
    """WITH t AS (SELECT lang, doc_id,
      |    len(string_split(text, ' '))::BIGINT AS nt FROM documents),
      |r AS (SELECT lang, nt,
      |    (row_number() OVER (PARTITION BY lang
      |                        ORDER BY nt DESC, doc_id) - 1) % 8 AS shard,
      |    sum(nt) OVER (PARTITION BY lang) AS lt
      |  FROM t)
      |SELECT lang, shard, count(*) AS n_docs, sum(nt)::BIGINT AS n_tokens,
      |  ROUND(sum(nt) * 8.0 / max(lt), 4) AS load
      |FROM r GROUP BY lang, shard ORDER BY lang, shard""".stripMargin

  /** P18 — DETERMINISTIC EPOCH SHUFFLE: the per-epoch reshuffle every
    * training dataloader runs, spelled reproducibly — shuffle key =
    * md5(doc_id ‖ ':' ‖ epoch) (the p01 portable-hash discipline: same
    * bytes hash identically on any engine, any cluster, any restart),
    * rank within the language stratum, published as each stratum's
    * first 5 positions for epochs 0 and 1 WITH each doc's rank in the
    * OTHER epoch carried alongside — the inline decorrelation audit
    * (a healthy reshuffle sends an epoch-0 head doc to an arbitrary
    * epoch-1 position; systematic head-stickiness would mean the key
    * leaks doc identity). Scale shape: one per-(stratum, epoch) rank
    * window — the c03/p17 discipline, strata sort independently after
    * one shuffle — a self-join on doc_id bounded by |head| rows on the
    * probe side, and the head cut is rank ≤ 5, so output is
    * 2·5·|langs| rows at any corpus size. At 100 TB the total-order
    * rank is the one genuinely expensive step (a full per-stratum
    * sort); the production spelling keeps the SAME key but ranges-
    * partitions on it — the order, and therefore this manifest, is
    * identical, which is the point of hashing rather than RNG. */
  private def p18(s: SparkSession, d: String): DataFrame = {
    val keyed = documents(s, d)
      .select(col("doc_id"), col("lang"))
      .crossJoin(s.range(2).select(col("id").cast("int").as("epoch")))
      .select(col("doc_id"), col("lang"), col("epoch"),
        md5(concat_ws(":", col("doc_id"), col("epoch"))).as("k"))
    val w = Window.partitionBy("lang", "epoch").orderBy("k")
    val ranked = keyed.select(col("doc_id"), col("lang"), col("epoch"),
      row_number().over(w).cast("long").as("pos"))
    val head = ranked.filter(col("pos") <= 5)
    val other = ranked.select(
      col("doc_id").as("o_doc"), col("lang").as("o_lang"),
      col("epoch").as("o_epoch"), col("pos").as("pos_other_epoch"))
    head.join(other,
        col("doc_id") === col("o_doc") && col("lang") === col("o_lang") &&
          col("epoch") =!= col("o_epoch"))
      .select(col("epoch"), col("lang"), col("pos"), col("doc_id"),
        col("pos_other_epoch"))
      .orderBy("epoch", "lang", "pos")
  }

  private val op18 =
    """WITH k AS (SELECT doc_id, lang, epoch,
      |    md5(doc_id::VARCHAR || ':' || epoch::VARCHAR) AS k
      |  FROM documents, (SELECT unnest([0, 1]) AS epoch)),
      |r AS (SELECT doc_id, lang, epoch,
      |    row_number() OVER (PARTITION BY lang, epoch ORDER BY k)::BIGINT AS pos
      |  FROM k)
      |SELECT h.epoch, h.lang, h.pos, h.doc_id, o.pos AS pos_other_epoch
      |FROM r h JOIN r o ON h.doc_id = o.doc_id AND h.lang = o.lang
      |  AND h.epoch <> o.epoch
      |WHERE h.pos <= 5 ORDER BY h.epoch, h.lang, h.pos""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("w01_lag_delta", w01, Some(ow01)),
    QueryDef("w02_moving_avg", w02, Some(ow02)),
    QueryDef("w03_cumulative", w03, Some(ow03)),
    QueryDef("w04_rank_tiles", w04, Some(ow04)),
    QueryDef("w05_range_frame", w05, Some(ow05)),
    QueryDef("w06_session_window", w06, Some(ow06)),
    QueryDef("w07_interpolate", w07, Some(ow07)),
    QueryDef("w08_ewma", w08, Some(ow08)),
    QueryDef("w09_seasonal_residual", w09, Some(ow09)),
    QueryDef("a01_hll_audit", a01, Some(oa01)),
    QueryDef("a02_quantile_audit", a02, Some(oa02)),
    QueryDef("a03_quantile_drift", a03, Some(oa03)),
    QueryDef("a04_zscore_outliers", a04, Some(oa04)),
    QueryDef("a05_trend_monitor", a05, Some(oa05)),
    QueryDef("a06_column_profile", a06, Some(oa06)),
    QueryDef("a07_mad_outliers", a07, Some(oa07)),
    QueryDef("a08_psi_drift", a08, Some(oa08)),
    QueryDef("a09_freshness", a09, Some(oa09)),
    QueryDef("a10_funnel", a10, Some(oa10)),
    QueryDef("a11_retention", a11, Some(oa11)),
    QueryDef("a12_ab_test", a12, Some(oa12)),
    QueryDef("a13_corr_matrix", a13, Some(oa13)),
    QueryDef("w10_cusum_changepoint", w10, Some(ow10)),
    QueryDef("w11_rolling_median", w11, Some(ow11)),
    QueryDef("j09_nearest_event", j09, Some(oj09)),
    QueryDef("j10_star_join", j10, Some(oj10)),
    QueryDef("j01_anti_join", j01, Some(oj01)),
    QueryDef("j02_banded_range_join", j02, Some(oj02)),
    QueryDef("j03_full_outer", j03, Some(oj03)),
    QueryDef("j04_top_per_group", j04, Some(oj04)),
    QueryDef("j05_pivot_status", j05, Some(oj05)),
    QueryDef("j06_bucketed_join", j06, Some(oj06)),
    QueryDef("j07_unpivot", j07, Some(oj07)),
    QueryDef("j08_interval_overlap", j08, Some(oj08)),
    QueryDef("s01_salted_agg", s01, Some(os01)),
    QueryDef("s02_salted_join", s02, Some(os02)),
    QueryDef("p01_train_split", p01, Some(op01)),
    QueryDef("p02_len_histogram", p02, Some(op02)),
    QueryDef("p03_prep_funnel", p03, Some(op03)),
    QueryDef("p04_decontaminate", p04, Some(op04)),
    QueryDef("p05_stratified_sample", p05, Some(op05Sql)),
    QueryDef("p06_corpus_build", p06, Some(op06)),
    QueryDef("p16_corpus_build_v3", p16, Some(op16)),
    QueryDef("p07_interleave", p07, Some(op07)),
    QueryDef("p08_temperature_mix", p08, Some(op08)),
    QueryDef("p09_source_stats", p09, Some(op09)),
    QueryDef("p10_temperature_sample", p10, Some(op10)),
    QueryDef("p11_curriculum_bins", p11, Some(op11)),
    QueryDef("p12_epoch_plan", p12, Some(op12)),
    QueryDef("u01_incremental_agg", u01, Some(ou01)),
    QueryDef("u02_sketch_union", u02, Some(ou02)),
    QueryDef("u03_scd2_versions", u03, Some(ou03)),
    QueryDef("u04_merge_snapshot", u04, Some(ou04)),
    QueryDef("u05_compaction_plan", u05, Some(ou05)),
    QueryDef("u06_gdpr_cascade", u06, Some(ou06)),
    QueryDef("p13_dp_release", p13, Some(op13)),
    QueryDef("p15_quota_sample", p15, Some(op15)),
    QueryDef("u07_cdc_net", u07, Some(ou07)),
    QueryDef("a14_constraint_suite", a14, Some(oa14)),
    QueryDef("a15_hopping_window", a15, Some(oa15)),
    QueryDef("p17_shard_manifest", p17, Some(op17)),
    QueryDef("p18_epoch_shuffle", p18, Some(op18)),
    QueryDef("w12_ohlc_bars", w12, Some(ow12)))
}
