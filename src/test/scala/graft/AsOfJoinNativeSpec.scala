package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.AsOfJoin

/** [[graft.plans.AsOfJoinExec]] — the as-of join operator behind
  * [[AsOfJoin.lastPrior]] and SQL `ASOF JOIN` — on adversarial data
  * (timestamp ties, null keys, null timestamps, keys with no right rows,
  * an empty right side, one hot key), each pinned to the row DuckDB
  * 1.0's `ASOF LEFT JOIN` returns for the same tables, plus the plan
  * shape and statistics the operator exists for (two narrow exchanges,
  * no window, no union; none at all over bucketed sides). */
class AsOfJoinNativeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** (id, key, ts) rows; ts=null rows included. */
  private def mkDF(rows: Seq[(Long, java.lang.Integer, java.lang.Long)]) =
    rows.toDF("event_id", "user_id", "tsl")
      .select(col("event_id"), col("user_id"),
        when(col("tsl").isNotNull, timestamp_seconds(col("tsl"))).as("ts"))

  /** Each left event_id → the matched right event_id (None: no match). */
  private def matches(left: Seq[(Long, java.lang.Integer, java.lang.Long)],
                      right: Seq[(Long, java.lang.Integer, java.lang.Long)]) = {
    val out = AsOfJoin.lastPrior(mkDF(left), mkDF(right), "user_id", "ts")
      .select(col("event_id"), col("r_event_id"))
      .collect()
    assert(out.length == left.length, "a left join keeps every left row")
    out.map(r => r.getLong(0) -> Option(r.get(1))).toMap
  }

  test("ties, nulls, gaps and unmatched keys match DuckDB's ASOF LEFT JOIN") {
    val left = Seq[(Long, java.lang.Integer, java.lang.Long)](
      (1L, 1, 100L), (2L, 1, 150L), (3L, 1, 90L), // before any right row
      (4L, 2, 500L), // key with no right rows at all
      (5L, 3, 300L), // exact-tie timestamp on the right
      (7L, 4, null), // null ts: never matches
      (8L, 5, 1000L), (9L, 5, 1000L)) // duplicate left rows
    val right = Seq[(Long, java.lang.Integer, java.lang.Long)](
      (101L, 1, 95L), (102L, 1, 100L), (103L, 1, 149L), (104L, 1, 151L),
      (105L, 3, 300L), (106L, 3, 300L), // tied ts: greatest event_id wins
      (107L, 3, 299L),
      (108L, null, 50L), // null right key: skipped
      (109L, 5, null), // null right ts: skipped
      (110L, 5, 999L))
    assert(matches(left, right) == Map(
      1L -> Some(102L), // ts==100 ties left row: <= matches
      2L -> Some(103L),
      3L -> None,
      4L -> None,
      5L -> Some(106L), // tie on ts=300 → max event_id
      7L -> None,
      8L -> Some(110L), 9L -> Some(110L)))
  }

  test("null keys follow SQL equality: no match, as in DuckDB") {
    // NULL = NULL is not true, so a null-key left row matches nothing,
    // not even null-key right rows (a Window.partitionBy over the key
    // would group the NULLs together and match them)
    assert(matches(Seq((1L, null, 100L)), Seq((2L, null, 50L))) == Map(1L -> None))
  }

  test("a key whose ONLY right rows have null ts matches nothing") {
    // the "at or before" predicate is unknowable for a null-ts right
    // row, so it is never the match — even when its key has no other
    // right row to shadow it
    val left = Seq[(Long, java.lang.Integer, java.lang.Long)](
      (1L, 1, 100L), (2L, 2, 100L))
    val right = Seq[(Long, java.lang.Integer, java.lang.Long)](
      (101L, 1, null), (102L, 1, null), // key 1: only null-ts right rows
      (103L, 2, 50L))
    assert(matches(left, right) == Map(1L -> None, 2L -> Some(103L)))
  }

  test("empty right side yields all-null right columns") {
    assert(matches(Seq((1L, 1, 100L), (2L, 2, 200L)), Seq.empty) ==
      Map(1L -> None, 2L -> None))
  }

  test("plan: one AsOfJoinExec, two exchanges, no window, no union") {
    val l = mkDF(Seq((1L, 1, 100L))).filter(col("event_id") > 0)
    val r = mkDF(Seq((2L, 1, 50L)))
    val df = AsOfJoin.lastPrior(l, r, "user_id", "ts")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("AsOfJoin"), plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected 2 hash exchanges, got $exchanges\n$plan")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Union"), plan)
  }

  test("composite keys: pairwise equality, same merge semantics") {
    // (id, key1, key2, ts): the match must respect BOTH keys
    val l = Seq((1L, 1, 10, 100L), (2L, 1, 20, 100L), (3L, 2, 10, 100L))
      .toDF("event_id", "k1", "k2", "tsl")
      .select(col("event_id"), col("k1"), col("k2"),
        timestamp_seconds(col("tsl")).as("ts"))
    val r = Seq((101L, 1, 10, 90L), (102L, 1, 20, 95L), (103L, 2, 30, 80L))
      .toDF("event_id", "k1", "k2", "tsl")
      .select(col("event_id"), col("k1"), col("k2"),
        timestamp_seconds(col("tsl")).as("ts"))
    val out = AsOfJoin.lastPrior(l, r, Seq("k1", "k2"), "ts", "r_")
      .select(col("event_id"), col("r_event_id")).orderBy("event_id")
      .collect().map(x => (x.getLong(0), Option(x.get(1)))).toSeq
    assert(out == Seq((1L, Some(101L)), (2L, Some(102L)), (3L, None)))
  }

  test("bucketed-at-rest sides plan with ZERO exchanges") {
    // the 100 TB claim in AsOfJoinExec's scaladoc, as a plan assertion:
    // both sides read from user_id-bucketed tables (same bucket count)
    // already satisfy the ClusteredDistribution contract, so
    // EnsureRequirements inserts no shuffle — only in-partition sorts.
    val d = "/root/testdata/sf0.001"
    val e = graft.Tables.events(spark, d)
    val pt = graft.ops.Artifacts.bucketed(
      spark, "asof_purch", "1", d, Seq("events.parquet"), "user_id", 4)(
      e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts"))
    val vt = graft.ops.Artifacts.bucketed(
      spark, "asof_views", "1", d, Seq("events.parquet"), "user_id", 4)(
      e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts"))
    val df = AsOfJoin.lastPrior(
      spark.table(pt), spark.table(vt), "user_id", "ts")
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("AsOfJoin"), plan)
    assert(!plan.contains("Exchange"), s"bucketed as-of should be shuffle-free\n$plan")
  }

  test("hot key: one key owning the whole right side stays O(1)-state") {
    // the skew posture: the merge carries ONE lookahead row and ONE
    // match — a 200k-row hot key costs a sorted-run scan, never a
    // buffered frame
    val n = 200000
    val l = spark.range(50).select(
      (col("id") + 1000000L).as("event_id"),
      lit(1).cast("int").as("user_id"),
      timestamp_seconds(col("id") * 1000 + 500).as("ts"))
    val r = spark.range(n.toLong).select(
      col("id").as("event_id"),
      lit(1).cast("int").as("user_id"),
      timestamp_seconds(col("id") % 50000).as("ts"))
    val out = AsOfJoin.lastPrior(l, r, "user_id", "ts")
      .select(col("event_id"), col("r_event_id")).orderBy("event_id").collect()
    // left row i sits at ts T = 1000·i + 500, which right ids T, T+50000,
    // T+100000 and T+150000 share: the tie goes to the greatest id
    assert(out.toSeq.map(r => (r.getLong(0), r.getLong(1))) ==
      (0L until 50L).map(i => (1000000L + i, 1000L * i + 500L + 150000L)))
  }

  test("stats: additive size estimate keeps downstream broadcast alive") {
    // without the AsOfJoinNode.stats override, the stats visitor's
    // default for an unknown binary node MULTIPLIES the children's
    // sizes — a small as-of output would be estimated at |L|·|R| bytes
    // and never broadcast into a downstream join
    val rnd = new scala.util.Random(7)
    def gen(n: Int, base: Long) = (0 until n).map(i =>
      (base + i, Integer.valueOf(rnd.nextInt(50)),
        java.lang.Long.valueOf(rnd.nextInt(1000).toLong)))
    val asof = AsOfJoin.lastPrior(
      mkDF(gen(1000, 0L)), mkDF(gen(1000, 10000L)), "user_id", "ts")
    val node = asof.queryExecution.optimizedPlan.collect {
      case n: graft.plans.AsOfJoinNode => n
    }.head
    val s = node.stats.sizeInBytes
    assert(s == node.left.stats.sizeInBytes + node.right.stats.sizeInBytes)
    assert(s < node.left.stats.sizeInBytes * node.right.stats.sizeInBytes)
    // behavioral: joined to a large table, the (small) as-of side is
    // chosen for broadcast in the STATIC plan (pre-AQE — AQE could
    // rescue it at runtime, but only after paying the full shuffle)
    val big = spark.range(3000000L).select(
      col("id").as("event_id"), (col("id") % 1000).as("payload"))
    val joined = big.join(asof, "event_id")
    val initial = joined.queryExecution.executedPlan.toString
    assert(initial.contains("BroadcastHashJoin"),
      s"small as-of output should broadcast into the big join:\n$initial")
  }

  test("self-join from one source: no attribute-id collision") {
    // both sides filtered projections of the SAME DataFrame — the
    // exprId-collision case the rPrefix aliasing exists for
    val e = mkDF(Seq(
      (1L, 1, 100L), (2L, 1, 90L), (3L, 1, 80L), (4L, 2, 70L)))
    val purchases = e.filter(col("event_id") <= 2)
    val views = e.filter(col("event_id") >= 3)
    val out = AsOfJoin.lastPrior(purchases, views, "user_id", "ts")
      .select(col("event_id"), col("r_event_id")).orderBy("event_id")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSeq
    assert(out == Seq((1L, Some(3L)), (2L, Some(3L))))
  }
}
