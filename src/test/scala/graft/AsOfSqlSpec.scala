package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.AsOfJoin

/** The `ASOF [LEFT|INNER] JOIN` SQL frontend
  * ([[graft.plans.GraftSqlParser]] + [[graft.plans.ResolveAsOfJoin]]):
  * the SQL text must produce the SAME rows as the DataFrame-level
  * [[AsOfJoin.lastPrior]], plan through [[graft.plans.AsOfJoinExec]],
  * respect string-literal masking, and reject ambiguous statements
  * loudly instead of guessing. */
class AsOfSqlSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def stage(): Unit = {
    Seq(
      (1L, 1, 100L), (2L, 1, 150L), (3L, 1, 90L),
      (4L, 2, 500L), (5L, 3, 300L), (8L, 5, 1000L))
      .toDF("event_id", "user_id", "tsl")
      .select(col("event_id"), col("user_id"),
        timestamp_seconds(col("tsl")).as("ts"))
      .createOrReplaceTempView("lft")
    Seq(
      (101L, 1, 95L), (102L, 1, 100L), (103L, 1, 149L), (104L, 1, 151L),
      (105L, 3, 300L), (106L, 3, 300L), (107L, 3, 299L), (110L, 5, 999L))
      .toDF("event_id", "user_id", "tsl")
      .select(col("event_id"), col("user_id"),
        timestamp_seconds(col("tsl")).as("ts"))
      .createOrReplaceTempView("rgt")
  }

  test("ASOF LEFT JOIN sql == lastPrior, plans AsOfJoinExec") {
    stage()
    val sql = spark.sql(
      """SELECT l.event_id AS eid, r.event_id AS rid
        |FROM lft l ASOF LEFT JOIN rgt r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY eid""".stripMargin)
    val plan = sql.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    val viaDf = AsOfJoin.lastPrior(
        spark.table("lft"), spark.table("rgt"), "user_id", "ts")
      .select(col("event_id").as("eid"), col("r_event_id").as("rid"))
      .orderBy("eid")
    assert(sql.collect().toSeq == viaDf.collect().toSeq)
    // and the pinned semantics, independent of both surfaces
    val byId = sql.collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(byId(1L) == Some(102L) && byId(2L) == Some(103L))
    assert(byId(3L) == None && byId(4L) == None)
    assert(byId(5L) == Some(106L)) // ts tie → greatest remaining cols
    assert(byId(8L) == Some(110L))
  }

  test("mirrored spelling l.ts >= r.ts lowers identically") {
    stage()
    val a = spark.sql(
      """SELECT l.event_id AS eid, r.event_id AS rid
        |FROM lft l ASOF LEFT JOIN rgt r
        |  ON l.ts >= r.ts AND l.user_id = r.user_id
        |ORDER BY eid""".stripMargin).collect().toSeq
    val b = spark.sql(
      """SELECT l.event_id AS eid, r.event_id AS rid
        |FROM lft l ASOF LEFT JOIN rgt r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY eid""".stripMargin).collect().toSeq
    assert(a == b)
  }

  test("ASOF JOIN (inner, DuckDB default) drops unmatched left rows") {
    stage()
    val rows = spark.sql(
      """SELECT l.event_id AS eid, r.event_id AS rid
        |FROM lft l ASOF JOIN rgt r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY eid""".stripMargin).collect()
    val ids = rows.map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 5L, 8L)) // 3 (before any right) and 4 (no key) dropped
    assert(rows.forall(!_.isNullAt(1)))
  }

  test("strict ASOF (r.ts < l.ts) excludes same-instant rows, both spellings") {
    stage()
    val a = spark.sql(
      """SELECT l.event_id AS eid, r.event_id AS rid
        |FROM lft l ASOF LEFT JOIN rgt r
        |  ON l.user_id = r.user_id AND r.ts < l.ts
        |ORDER BY eid""".stripMargin).collect()
    val byId = a.map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // non-strict matched 102 (ts==100) for eid 1 and 106 (ts==300) for
    // eid 5; strict must step back to the strictly-prior rows
    assert(byId(1L) == Some(101L), byId)
    assert(byId(5L) == Some(107L), byId)
    assert(byId(2L) == Some(103L) && byId(8L) == Some(110L), byId)
    assert(byId(3L) == None && byId(4L) == None, byId)
    val b = spark.sql(
      """SELECT l.event_id AS eid, r.event_id AS rid
        |FROM lft l ASOF LEFT JOIN rgt r
        |  ON l.user_id = r.user_id AND l.ts > r.ts
        |ORDER BY eid""".stripMargin).collect()
    assert(a.toSeq == b.toSeq)
  }

  test("tolerance conjunct filters stale AND unmatched rows (measured DuckDB semantics)") {
    stage()
    val rows = spark.sql(
      """SELECT l.event_id AS eid, r.event_id AS rid
        |FROM lft l ASOF LEFT JOIN rgt r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts
        |  AND l.ts - r.ts <= INTERVAL 0 SECOND
        |ORDER BY eid""".stripMargin).collect()
    // gap-0 matches survive (1→102, 5→106); 1-second-stale matches
    // (2→103, 8→110) and unmatched lefts (3, 4) are DROPPED — the
    // probed DuckDB ASOF LEFT behavior for the conjunct form, filter
    // semantics rather than null-out
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 102L), (5L, 106L)), rows.mkString(", "))
  }

  test("ASOF inside a subquery expression is marked and lowered") {
    stage()
    val rows = spark.sql(
      """SELECT event_id FROM lft x WHERE event_id IN (
        |  SELECT l.event_id
        |  FROM lft l ASOF LEFT JOIN rgt r
        |    ON l.user_id = r.user_id AND r.ts <= l.ts
        |  WHERE r.event_id IS NOT NULL)
        |ORDER BY event_id""".stripMargin).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 5L, 8L), rows.mkString(", "))
  }

  test("EXPLAIN over an ASOF statement marks the inner plan (no false ambiguity)") {
    stage()
    val out = spark.sql(
      """EXPLAIN SELECT l.event_id AS eid, r.event_id AS rid
        |FROM lft l ASOF LEFT JOIN rgt r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts""".stripMargin)
      .collect().map(_.getString(0)).mkString("\n")
    assert(out.contains("AsOfJoin"), out)
  }

  test("string literals containing 'ASOF JOIN' are not rewritten") {
    stage()
    val rows = spark.sql(
      "SELECT 'use ASOF JOIN here' AS s, count(*) AS n FROM lft").collect()
    assert(rows.head.getString(0) == "use ASOF JOIN here")
    assert(rows.head.getLong(1) == 6L)
  }

  test("a plain LEFT JOIN with an as-of-shaped ON in the same statement is rejected") {
    stage()
    val e = intercept[Exception](spark.sql(
      """SELECT * FROM
        |  (SELECT l.event_id FROM lft l ASOF LEFT JOIN rgt r
        |     ON l.user_id = r.user_id AND r.ts <= l.ts) a
        |  JOIN
        |  (SELECT l.event_id AS e2 FROM lft l LEFT JOIN rgt r
        |     ON l.user_id = r.user_id AND r.ts <= l.ts) b
        |  ON a.event_id = b.e2""".stripMargin))
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
  }

  test("self-join through CTEs: DeduplicateRelations handles the id collision") {
    stage()
    // both sides read the SAME view — the attribute-id collision the
    // marking design delegates to the standard analyzer
    val rows = spark.sql(
      """WITH p AS (SELECT event_id, user_id, ts FROM lft),
        |v AS (SELECT event_id, user_id, ts FROM lft)
        |SELECT p.event_id AS a, v.event_id AS b
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY a""".stripMargin).collect()
    // every left row matches itself at minimum (ts <= ts); ties resolve
    // to the greatest remaining column, and event_id grows with ts here
    assert(rows.length == 6)
    assert(rows.forall(r => !r.isNullAt(1)))
  }

  test("mixed ASOF variants in one statement lower independently") {
    stage()
    // inner and left ASOF in the same text: the per-TYPE tally keeps
    // the marking unambiguous (inner rewrites mark inner-shaped joins,
    // left rewrites mark left-outer-shaped ones)
    val rows = spark.sql(
      """SELECT a.eid, b.eid AS eid2 FROM
        |  (SELECT l.event_id AS eid FROM lft l ASOF JOIN rgt r
        |     ON l.user_id = r.user_id AND r.ts <= l.ts) a
        |  JOIN
        |  (SELECT l.event_id AS eid FROM lft l ASOF LEFT JOIN rgt r
        |     ON l.user_id = r.user_id AND r.ts <= l.ts) b
        |  ON a.eid = b.eid
        |ORDER BY a.eid""".stripMargin).collect()
    // inner side keeps {1,2,5,8}; the left side keeps all 6; equi-join
    // on event_id intersects to the inner set
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 5L, 8L))
  }

  test("ASOF inside a CREATE TEMP VIEW definition works end-to-end") {
    stage()
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW asof_v AS
        |SELECT l.event_id AS eid, r.event_id AS rid
        |FROM lft l ASOF LEFT JOIN rgt r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts""".stripMargin)
    val rows = spark.sql("SELECT count(*) AS n, count(rid) AS m FROM asof_v")
      .collect()
    assert(rows.head.getLong(0) == 6L && rows.head.getLong(1) == 4L)
  }

  test("non-asof SQL takes the delegate path untouched") {
    stage()
    val rows = spark.sql(
      """SELECT l.event_id, r.event_id
        |FROM lft l LEFT JOIN rgt r ON l.user_id = r.user_id
        |WHERE l.event_id = 4""".stripMargin).collect()
    assert(rows.length == 1 && rows.head.isNullAt(1))
  }
}
