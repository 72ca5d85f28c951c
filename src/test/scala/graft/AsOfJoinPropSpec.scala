package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.AsOfJoin

/** Model-based check of [[graft.plans.AsOfJoinExec]] — the Q52PropSpec
  * discipline applied to the custom operator: generated event tables
  * driven through the REAL plan (shuffle, sorts, merge) and compared
  * row-for-row against a direct in-memory model of the declared
  * semantics ("the right row with the greatest (ts, tie-id) among rows
  * with the same key and ts ≤ left ts; null keys/ts never match").
  * The model shares NO code or plan machinery with the operator, so
  * agreement can't be a common-mode bug. Seeded generators — the cases
  * are adversarial but reproducible: few keys (long runs), heavy ts
  * ties, null keys and null timestamps mixed in. */
/** Top-level so the implicit product encoder needs no outer scope. */
case class AsOfPropEv(id: Long, key: java.lang.Integer, ts: java.lang.Long)

class AsOfJoinPropSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private type Ev = AsOfPropEv
  private def Ev(id: Long, key: java.lang.Integer, ts: java.lang.Long) =
    AsOfPropEv(id, key, ts)

  /** The declared semantics, directly: for each left row the matching
    * right id, or None. */
  private def model(left: Seq[Ev], right: Seq[Ev]): Map[Long, Option[Long]] =
    left.map { l =>
      l.id -> {
        if (l.key == null || l.ts == null) None
        else right
          .filter(r => r.key != null && r.ts != null &&
            r.key.intValue() == l.key.intValue() &&
            r.ts.longValue() <= l.ts.longValue())
          .sortBy(r => (r.ts.longValue(), r.id)) // greatest (ts, tie-id) wins
          .lastOption.map(_.id)
      }
    }.toMap

  private def toDF(rows: Seq[Ev]) =
    rows.toDF("event_id", "user_id", "tsl")
      .select(col("event_id"), col("user_id"),
        when(col("tsl").isNotNull, timestamp_seconds(col("tsl"))).as("ts"))

  test("generated tables match the in-memory model (20 seeded cases)") {
    val rnd = new scala.util.Random(20260814L)
    def gen(n: Int, base: Long): Seq[Ev] =
      (0 until n).map { i =>
        val key: java.lang.Integer =
          if (rnd.nextInt(10) == 0) null else Integer.valueOf(rnd.nextInt(4))
        val ts: java.lang.Long =
          if (rnd.nextInt(12) == 0) null
          else java.lang.Long.valueOf(rnd.nextInt(30).toLong) // dense → many ties
        Ev(base + i, key, ts)
      }
    (1 to 20).foreach { case_ =>
      val left = gen(30 + rnd.nextInt(40), 0L)
      val right = gen(30 + rnd.nextInt(40), 100000L)
      val expected = model(left, right)
      val got = AsOfJoin
        .lastPrior(toDF(left), toDF(right), "user_id", "ts")
        .select(col("event_id"), col("r_event_id"))
        .collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
        .toMap
      assert(got == expected, s"case $case_ diverged from the model")
    }
  }
}
