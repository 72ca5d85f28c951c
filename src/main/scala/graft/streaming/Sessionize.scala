package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming gap-based sessionization with custom state
  * (`flatMapGroupsWithState`) — the stateful-stream analogue of the
  * batch q24 sessionizer, and the engine's demonstration of
  * KeyValueGroupedDataset custom state (the tool the 30-minute interval
  * buffer of the reference, `/root/reference/src/main.rs:72`, would need
  * if its windows were keyed by activity instead of wall-clock).
  *
  * State per user = the open session (start, last-event, count). A new
  * event either extends it or closes it (gap exceeded) and opens the
  * next; the event-time timeout (watermark past last-event + gap) closes
  * idle sessions without waiting for another event. Emissions are
  * append-mode closed sessions — exactly-once under retry because state
  * transitions are checkpointed with the batch.
  *
  * State size is one small struct per ACTIVE user — bounded by concurrent
  * users, not history; at cluster scale a RocksDB state store can hold it
  * (`spark.sql.streaming.stateStore.providerClass`, no code change).
  */
object Sessionize {

  case class Event(user_id: Long, ts: Timestamp, event_id: Long)
  case class OpenSession(startUs: Long, lastUs: Long, nEvents: Long)

  /** One emitted (closed) session.
    *
    * OUTPUT CONTRACT — possible overlap under late data: a session is
    * emitted as soon as a later coherent session closes it (or its
    * event-time timeout fires). An event arriving AFTER that emission,
    * but with a timestamp inside the emitted session's gap, starts a NEW
    * session whose [session_start, session_end] span may overlap the
    * already-emitted one — re-opening emitted sessions would require
    * unbounded output buffering (append mode cannot retract). Downstream
    * consumers that sum per-span activity must therefore either tolerate
    * overlap or set the watermark delay large enough that such
    * stragglers are dropped before they reach the state operator. */
  case class ClosedSession(
      user_id: Long, session_start: Timestamp, session_end: Timestamp, n_events: Long)

  private def toUs(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
  /** Floor division: before 1970 `us` is negative, and a truncating
    * `%` would hand `setNanos` a negative sub-second part (it throws). */
  private def toTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** 30-minute default gap, mirroring the reference's interval. */
  val DefaultGapUs: Long = 1800L * 1000000L

  /** The pure sessionization core behind [[update]].
    *
    * Interval sweep over (open session ∪ batch events) sorted by start:
    * adjacent intervals within the gap merge (this handles ordinary
    * extension, backward late-extension, AND late stragglers that form
    * their own coherent session — a per-event case analysis splits the
    * latter into spurious singletons). Everything but the latest merged
    * interval is closed; sessions already emitted can never be re-opened
    * by later batches (that would need unbounded buffering).
    *
    * @return (sessions to emit closed, in chronological order; the
    *         still-open latest interval — None only for empty input) */
  def mergeIntervals(
      gapUs: Long,
      existing: Option[OpenSession],
      batch: Seq[OpenSession]): (Seq[OpenSession], Option[OpenSession]) = {
    val items = (batch ++ existing).sortBy(s => (s.startUs, s.lastUs))
    if (items.isEmpty) return (Nil, None)
    val merged = items.tail.foldLeft(List(items.head)) { (acc, it) =>
      val head :: tail = acc: @unchecked
      if (it.startUs - head.lastUs <= gapUs)
        OpenSession(head.startUs, math.max(head.lastUs, it.lastUs),
          head.nEvents + it.nEvents) :: tail
      else it :: acc
    }
    val latest :: earlier = merged: @unchecked // merged is newest-first
    (earlier.reverse, Some(latest))
  }

  private def toClosed(userId: Long, s: OpenSession): ClosedSession =
    ClosedSession(userId, toTs(s.startUs), toTs(s.lastUs), s.nEvents)

  private def eventInterval(e: Event): OpenSession = {
    val us = toUs(e.ts); OpenSession(us, us, 1L)
  }

  def update(gapUs: Long)(
      userId: Long,
      rows: Iterator[Event],
      state: GroupState[OpenSession]): Iterator[ClosedSession] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      return Iterator.single(toClosed(userId, s))
    }
    val (earlier, latestOpt) =
      mergeIntervals(gapUs, state.getOption, rows.map(eventInterval).toSeq)
    if (latestOpt.isEmpty) return Iterator.empty
    val latest = latestOpt.get
    state.update(latest)
    // clamp: a straggler batch must not re-arm a timeout behind the
    // current watermark (setTimeoutTimestamp throws and kills the query).
    // Batch mode has no watermark and getCurrentWatermarkMs THROWS there
    // (timeouts never fire in batch anyway) — treat it as -∞.
    val watermarkMs =
      try state.getCurrentWatermarkMs()
      catch { case _: UnsupportedOperationException => -1L }
    state.setTimeoutTimestamp(
      math.max(latest.lastUs / 1000L + gapUs / 1000L, watermarkMs + 1L))
    earlier.iterator.map(toClosed(userId, _))
  }

  /** Sessionize a (possibly streaming) typed event source. The input
    * must carry a watermark on `ts` when streaming (it drives the
    * event-time timeout). Emitted sessions may overlap under late data —
    * see the [[ClosedSession]] output contract. */
  def sessions(events: Dataset[Event], gapUs: Long = DefaultGapUs): Dataset[ClosedSession] = {
    implicit val stateEnc = Encoders.product[OpenSession]
    implicit val outEnc = Encoders.product[ClosedSession]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update(gapUs))
  }
}
