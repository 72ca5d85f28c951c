package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.AsOfJoin

/** AS-OF join edge semantics of [[AsOfJoin.lastPrior]]: equal
  * timestamps match (<=), no prior row yields null, keys never leak
  * across partitions, the latest — not first — prior row wins, and
  * right rows tied on (key, ts) resolve the same way on every run. */
class AsOfJoinSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val left = Seq(
    (100L, 1L, ts("2024-01-01 10:00:00")), // exact-tie with right rid=12
    (101L, 1L, ts("2024-01-01 11:00:00")), // latest prior is rid=12
    (102L, 2L, ts("2024-01-01 09:00:00")), // no prior right row → null
    (103L, 3L, ts("2024-01-01 10:30:00"))  // key 3 has rights only for key 1
  ).toDF("lid", "k", "ts")

  private val right = Seq(
    (11L, 1L, ts("2024-01-01 09:00:00")),
    (12L, 1L, ts("2024-01-01 10:00:00")),
    (13L, 2L, ts("2024-01-01 09:30:00"))
  ).toDF("rid", "k", "ts")

  test("lastPrior: ties match, latest wins, missing is null, keys isolate") {
    val out = AsOfJoin
      .lastPrior(left, right, "k", "ts")
      .select(col("lid"), col("r_rid"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(out == Map(
      100L -> Some(12L), // ts equality matches (<=)
      101L -> Some(12L), // most recent prior, not the first
      102L -> None,      // right row is later → no match
      103L -> None))     // other keys' rows never leak
  }

  test("same-(key,ts) right rows resolve to the struct-wise greatest, every run") {
    // three right rows share (k=9, 10:00): the deterministic tiebreak
    // must carry the row greatest by its remaining columns (rid=23) on
    // all runs
    val l = Seq((900L, 9L, ts("2024-01-01 10:30:00"))).toDF("lid", "k", "ts")
    val r = Seq(
      (21L, 9L, ts("2024-01-01 10:00:00")),
      (23L, 9L, ts("2024-01-01 10:00:00")),
      (22L, 9L, ts("2024-01-01 10:00:00"))).toDF("rid", "k", "ts")
    (1 to 3).foreach { _ =>
      val out = AsOfJoin.lastPrior(l, r, "k", "ts")
        .select(col("r_rid")).collect()
      assert(out.length == 1 && out.head.getLong(0) == 23L)
    }
  }

  test("left columns and row count are preserved") {
    val out = AsOfJoin.lastPrior(left, right, "k", "ts")
    assert(out.count() == 4)
    assert(out.columns.toSeq == Seq("lid", "k", "ts", "r_rid", "r_k", "r_ts"))
  }
}
