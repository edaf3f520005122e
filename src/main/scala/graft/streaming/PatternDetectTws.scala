package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** One CEP outcome: a COMPLETED pattern match (`isTimeout = false`,
  * `stageTs` holds every stage in pattern order) or a TIMED-OUT
  * partial match (`isTimeout = true`, `stageTs` holds the prefix that
  * expired) — the Flink CEP "timed-out pattern" side output folded
  * into the main stream as a flagged row.
  */
final case class CepEvent(
    userId: String,
    isTimeout: Boolean,
    startTs: Long,
    endTs: Long,
    stageTs: Seq[Long])

/** Open pattern prefix held in the state store (one per key). */
final case class CepPrefix(stageTs: Seq[Long])

/** Incremental CEP pattern detection on Spark 4's `transformWithState`
  * — [[EventStream.patternDetect]]'s semantics (match `pattern`'s
  * event types in order, each strictly after the previous, the whole
  * sequence within `windowMs` of its first stage, non-overlapping
  * restarts) upgraded with the two capabilities the
  * `flatMapGroupsWithState` formulation lacks and Flink CEP has
  * (reference AggregationJob.kt:109-206's timer-driven emits,
  * EventProcessorJob.kt:99-128's keyed state):
  *
  *   - EVENT-TIME TIMERS: a partial match whose window expires is
  *     retired BY ITS TIMER when the watermark passes
  *     `firstStage + windowMs` — the key does not need to be seen
  *     again. Under `flatMapGroupsWithState` an abandoned prefix for
  *     a never-returning key lives in the state store forever; here
  *     timer expiry clears it, so state is bounded by the number of
  *     keys with a LIVE (in-window) prefix, not by all keys ever seen.
  *   - TIMED-OUT-PATTERN OUTPUT: the retired prefix is emitted as a
  *     [[CepEvent]] with `isTimeout = true` (Flink's
  *     `PatternTimeoutFunction` side output) — the "started checkout,
  *     never purchased" signal that is itself the product in funnel
  *     monitoring, not just state hygiene.
  *
  * One timer per key, re-armed to `stageTs.head + windowMs` whenever
  * the open prefix changes (the deadline only moves when the prefix
  * RESTARTS, since it is anchored to the first stage). A prefix that
  * outlives its window but is discovered by a later same-key event
  * BEFORE the watermark reaches the deadline (in-window data can lead
  * the watermark by the delay) is timed out inline — same outcome,
  * earlier discovery, and the stale timer is deleted with the prefix.
  * Within a micro-batch events are processed in (timestamp, eventType)
  * order, making replays over the same batch boundaries deterministic.
  *
  * Requires the RocksDB state-store provider, which graft sessions run
  * by default ([[graft.GraftRuntime.sessionConfs]]); state (prefix +
  * armed timer) survives a checkpoint restart through
  * changelog recovery — PatternDetectTwsSpec proves the timer fires
  * after a restart.
  */
class CepProcessor(pattern: Seq[String], windowMs: Long)
    extends StatefulProcessor[String, Row, CepEvent] {

  @transient private var prefix: ValueState[CepPrefix] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    prefix = getHandle.getValueState[CepPrefix](
      "prefix", Encoders.product[CepPrefix], TTLConfig.NONE)

  private def timeout(key: String, stages: Seq[Long]): CepEvent =
    CepEvent(key, isTimeout = true, stages.head, stages.last, stages)

  override def handleInputRows(
      key: String,
      rows: Iterator[Row],
      timerValues: TimerValues): Iterator[CepEvent] = {
    val out = scala.collection.mutable.ListBuffer[CepEvent]()
    var stages: Seq[Long] =
      if (prefix.exists()) prefix.get().stageTs else Seq.empty
    val hadPrefix = stages.nonEmpty
    // the armed deadline is anchored to the prefix HEAD — remember it
    // so an unchanged head skips the delete+register state-store churn
    val prevHead = if (hadPrefix) Some(stages.head) else None
    rows.toSeq
      .map(r => (r.getAs[Long]("timestamp"), r.getAs[String]("eventType")))
      .sorted
      .foreach { case (ts, tpe) =>
        if (stages.nonEmpty && ts - stages.head > windowMs) {
          out += timeout(key, stages) // discovered by data ahead of the watermark
          stages = Seq.empty
        }
        val strictlyAfter = stages.isEmpty || ts > stages.last
        if (tpe == pattern(stages.size) && strictlyAfter) {
          stages = stages :+ ts
          if (stages.size == pattern.size) {
            out += CepEvent(key, isTimeout = false, stages.head, stages.last, stages)
            stages = Seq.empty
          }
        }
      }
    if (stages.nonEmpty) {
      prefix.update(CepPrefix(stages))
      // deadline anchored to the first stage; re-arm ONLY when the
      // head moved (a restart) — an extended prefix keeps the same
      // deadline and the armed timer is still correct
      if (!prevHead.contains(stages.head)) {
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(stages.head + windowMs)
      }
    } else if (hadPrefix || prefix.exists()) {
      prefix.clear()
      getHandle.listTimers().foreach(getHandle.deleteTimer)
    }
    out.iterator
  }

  override def handleExpiredTimer(
      key: String,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[CepEvent] = {
    if (prefix.exists()) {
      val stages = prefix.get().stageTs
      // stale timer (prefix restarted since it was armed): ignore; the
      // re-armed one fires later
      if (expiredTimerInfo.getExpiryTimeInMs() >= stages.head + windowMs) {
        prefix.clear()
        Iterator.single(timeout(key, stages))
      } else Iterator.empty
    } else Iterator.empty
  }
}

object PatternDetectTws {

  /** Timer-retired CEP over a stream of [[ParsedEvent]]s. `timestamp`
    * is epoch millis; the watermark delay bounds how late an event may
    * arrive and still extend its prefix, and sets how far behind the
    * timeout emission trails the deadline.
    */
  def detect(
      events: Dataset[ParsedEvent],
      pattern: Seq[String],
      windowMs: Long,
      watermarkDelay: String = "10 seconds"): Dataset[CepEvent] = {
    require(pattern.nonEmpty, "pattern must name at least one event type")
    import events.sparkSession.implicits._
    events.toDF()
      .withColumn("event_time", timestamp_millis(col("timestamp")))
      .withWatermark("event_time", watermarkDelay)
      .groupByKey(_.getAs[String]("id"))
      .transformWithState(
        new CepProcessor(pattern, windowMs),
        TimeMode.EventTime(),
        OutputMode.Append(),
        Encoders.product[CepEvent])
  }
}
