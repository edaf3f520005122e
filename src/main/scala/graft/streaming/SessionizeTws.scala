package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** One closed inactivity-gap session. */
final case class GapSession(
    userId: String,
    sessionStart: Long,
    sessionEnd: Long,
    nEvents: Long)

/** Open-session accumulator held in the state store (one per key). */
final case class SessionAcc(start: Long, end: Long, n: Long)

/** Gap sessionization on Spark 4's `transformWithState` — the
  * arbitrary-stateful-processing API that adds what
  * `flatMapGroupsWithState` never had: EVENT-TIME TIMERS (the Flink
  * timer-service analog), typed named state variables, and optional
  * state TTL. Requires the RocksDB state-store provider, which graft
  * sessions run by default ([[graft.GraftRuntime.sessionConfs]]).
  *
  * Semantics (Flink-style gap session): an event within `gapMs` of
  * the open session's end extends it; a later event CLOSES the open
  * session inline (emitted immediately) and opens a new one; and a
  * session with no successor event is emitted by its TIMER once the
  * watermark passes `end + gapMs` — the case a pure
  * aggregate-on-session_window also covers, but here the session can
  * carry arbitrary per-key state and emit mid-stream. Each batch
  * re-arms exactly one timer per key (the previous one is deleted),
  * so timer state is O(live keys).
  *
  * Contrast with [[EventStream.sessionMetrics]] (declarative
  * `session_window` aggregate): same windows, but this one is the
  * EXTENSIBLE shape — pattern state, session-local counters, or
  * early-emission rules drop straight into the processor.
  *
  * State model: ONE open session per key. A straggler landing more
  * than gapMs before the open session's start can never merge with it
  * and is emitted as its own closed singleton immediately (a
  * `session_window` aggregate would instead hold multiple open
  * windows per key; within the watermark delay the two models agree
  * on everything except multiple INTERLEAVED late sessions, which the
  * watermark bound makes a non-case at one open session per key).
  */
class GapSessionProcessor(gapMs: Long)
    extends StatefulProcessor[String, Row, GapSession] {

  @transient private var session: ValueState[SessionAcc] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    session = getHandle.getValueState[SessionAcc](
      "session", Encoders.product[SessionAcc], TTLConfig.NONE)

  override def handleInputRows(
      key: String,
      rows: Iterator[Row],
      timerValues: TimerValues): Iterator[GapSession] = {
    val out = scala.collection.mutable.ListBuffer[GapSession]()
    var cur = if (session.exists()) Some(session.get()) else None
    // (timestamp, arrival) order makes replays deterministic
    rows.toSeq.map(_.getAs[Long]("timestamp")).sorted.foreach { ts =>
      cur match {
        // merge needs BOTH bounds: an event more than gapMs before the
        // open session's start must not be folded into it (it belongs
        // to its own, earlier session)
        case Some(acc) if ts <= acc.end + gapMs && ts >= acc.start - gapMs =>
          cur = Some(SessionAcc(math.min(acc.start, ts), math.max(acc.end, ts), acc.n + 1))
        case Some(acc) if ts > acc.end + gapMs =>
          out += GapSession(key, acc.start, acc.end, acc.n) // gap observed inline
          cur = Some(SessionAcc(ts, ts, 1))
        case Some(_) =>
          // a straggler more than gapMs BEFORE the open session: it can
          // never merge with it, and (single-open-session state model)
          // nothing later can extend it either — emit it closed now
          out += GapSession(key, ts, ts, 1)
        case None =>
          cur = Some(SessionAcc(ts, ts, 1))
      }
    }
    cur.foreach { acc =>
      session.update(acc)
      // one live timer per key: re-arm at the new session end
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(acc.end + gapMs)
    }
    out.iterator
  }

  override def handleExpiredTimer(
      key: String,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[GapSession] = {
    if (session.exists()) {
      val acc = session.get()
      // a stale timer (session extended since it was armed) is ignored;
      // the re-armed one will fire later
      if (expiredTimerInfo.getExpiryTimeInMs() >= acc.end + gapMs) {
        session.clear()
        Iterator.single(GapSession(key, acc.start, acc.end, acc.n))
      } else Iterator.empty
    } else Iterator.empty
  }
}

object SessionizeTws {

  /** Timer-emitted gap sessions over a stream of [[ParsedEvent]]s.
    * `timestamp` is epoch millis; the watermark delay bounds how late
    * an event may arrive and still extend its session.
    */
  def sessions(
      events: Dataset[ParsedEvent],
      gapMs: Long,
      watermarkDelay: String = "10 seconds"): Dataset[GapSession] = {
    import events.sparkSession.implicits._
    events.toDF()
      .withColumn("event_time", timestamp_millis(col("timestamp")))
      .withWatermark("event_time", watermarkDelay)
      .groupByKey(_.getAs[String]("id"))
      .transformWithState(
        new GapSessionProcessor(gapMs),
        TimeMode.EventTime(),
        OutputMode.Append(),
        Encoders.product[GapSession])
  }
}
