package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Sessionize
import graft.streaming.Sessionize.Event

/** Stateful streaming sessionization: in-batch gap splits, cross-batch
  * state continuation, event-time-timeout closure of idle sessions, and
  * the state transitions of one `update` call, pre-1970 times included. */
class SessionizeSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("sessions close on gap within a batch and on watermark timeout") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val sessions = Sessionize.sessions(
      ms.toDS().withWatermark("ts", "0 seconds").as[Event])
    val query = sessions.writeStream
      .format("memory")
      .queryName("closed_sessions")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      // user 1: two bursts >30 min apart in ONE batch → first closes
      // immediately; user 2: one burst, left open
      ms.addData(
        Event(1L, ts("2024-01-01 10:00:00"), 1L),
        Event(1L, ts("2024-01-01 10:10:00"), 2L),
        Event(1L, ts("2024-01-01 11:00:00"), 3L),
        Event(2L, ts("2024-01-01 10:05:00"), 4L))
      query.processAllAvailable()
      // gap split emits user 1's first burst; the watermark (11:00, max
      // event time at 0s delay) already passes user 2's 10:35 timeout,
      // so that idle session closes in the same drain. User 1's second
      // session (timeout 11:30) stays open.
      val batch1Closed = Set(
        Sessionize.ClosedSession(1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 2L),
        Sessionize.ClosedSession(2L, ts("2024-01-01 10:05:00"), ts("2024-01-01 10:05:00"), 1L))
      def closed = spark.table("closed_sessions").as[Sessionize.ClosedSession].collect().toSet
      assert(closed == batch1Closed)

      // a later batch extends user 1's open session from the state store
      ms.addData(
        Event(1L, ts("2024-01-01 11:20:00"), 5L),
        Event(1L, ts("2024-01-01 11:25:00"), 6L))
      query.processAllAvailable()
      assert(closed == batch1Closed, "user 1's extended session must stay open")

      // advance the watermark far past the open session → its timeout fires
      ms.addData(Event(99L, ts("2024-01-01 15:00:00"), 7L))
      query.processAllAvailable()
      ms.addData(Event(99L, ts("2024-01-01 20:00:00"), 8L))
      query.processAllAvailable()

      val all = closed
      assert(all.contains(
        Sessionize.ClosedSession(1L, ts("2024-01-01 11:00:00"), ts("2024-01-01 11:25:00"), 3L)),
        s"user 1's extended session should time out with all three events; got $all")
      assert(all.contains(
        Sessionize.ClosedSession(2L, ts("2024-01-01 10:05:00"), ts("2024-01-01 10:05:00"), 1L)),
        s"user 2's idle session should time out; got $all")
    } finally {
      query.stop(); query.awaitTermination()
      spark.sql("DROP TABLE IF EXISTS closed_sessions")
    }
  }

  test("late events merge backwards within gap, or emit singletons far past") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    def us(t: String): Long = ts(t).getTime * 1000L
    def freshState = TestGroupState.create[Sessionize.OpenSession](
      Optional.of(Sessionize.OpenSession(us("2024-01-01 12:00:00"), us("2024-01-01 12:10:00"), 2L)),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(0L), hasTimedOut = false)

    // within gap BEFORE the open session start → backward merge
    val s1 = freshState
    val out1 = Sessionize.update(Sessionize.DefaultGapUs)(
      1L, Iterator(Event(1L, ts("2024-01-01 11:50:00"), 9L)), s1).toSeq
    assert(out1.isEmpty)
    assert(s1.get.startUs == us("2024-01-01 11:50:00") && s1.get.nEvents == 3L)

    // far in the past (> gap before start) → closed singleton, state kept
    val s2 = freshState
    val out2 = Sessionize.update(Sessionize.DefaultGapUs)(
      1L, Iterator(Event(1L, ts("2024-01-01 08:00:00"), 10L)), s2).toSeq
    assert(out2 == Seq(Sessionize.ClosedSession(
      1L, ts("2024-01-01 08:00:00"), ts("2024-01-01 08:00:00"), 1L)))
    assert(s2.get.startUs == us("2024-01-01 12:00:00") && s2.get.nEvents == 2L)

    // before 1970 with a sub-second part (epoch − 1.5 s): the negative
    // microsecond count must still convert back to the same instant
    val preEpoch = new Timestamp(-1500L)
    val s3 = freshState
    val out3 = Sessionize.update(Sessionize.DefaultGapUs)(
      1L, Iterator(Event(1L, preEpoch, 11L)), s3).toSeq
    assert(out3 == Seq(Sessionize.ClosedSession(1L, preEpoch, preEpoch, 1L)))
  }
}
