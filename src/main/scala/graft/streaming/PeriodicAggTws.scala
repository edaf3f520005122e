package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** One periodic per-key metrics emission: the event counts (total and
  * per type) inside the sliding window `[windowStart, windowEnd)` at
  * an interval-aligned `windowEnd` (both boundaries bucket-aligned:
  * an event at exactly `windowEnd` belongs to the NEXT window).
  * `totalCount == 0` rows are EMITTED ON PURPOSE — the explicit
  * "went to zero" signal the reference's timer loop guarantees
  * downstream.
  */
final case class PeriodicMetrics(
    userId: String,
    windowStart: Long,
    windowEnd: Long,
    totalCount: Long,
    typeCounts: Map[String, Long])

/** Timer-cadence sliding metrics with the "went to zero" emission —
  * the reference's SlidingWindowAggregator re-expressed on Spark 4's
  * `transformWithState` timers (reference AggregationJob.kt:100
  * "Always emits on timer (even with zero counts) so downstream gets
  * explicit 'went to zero' signal"; bootstrap-only-if-unarmed at
  * :146-157, the activity-based-heartbeat re-arm at :195-206). This
  * is the one reference BEHAVIOR a declarative
  * `window(...)`groupBy` agg cannot express: Spark's windowed
  * aggregate emits only windows that contain events, so a consumer
  * never sees the window go empty — the signal that is itself the
  * product in liveness dashboards.
  *
  * Faithful timer protocol, per key:
  *   - an arriving event BOOTSTRAPS the heartbeat only when no timer
  *     is armed (cold start, or restart after the window drained) —
  *     the reference's nextTimerTime check, here `listTimers()`;
  *   - the timer fires at interval-aligned deadlines; each firing
  *     prunes state to the window, emits the counts — INCLUDING a
  *     zero row the first firing after the window empties — and
  *     re-arms only while state remains (activity-based heartbeat:
  *     an empty window stops the timer; the next event re-bootstraps);
  *   - deadlines the watermark has already passed are caught up IN
  *     ORDER inside one `handleExpiredTimer` call (one row per
  *     elapsed interval), so the emitted cadence is exactly one row
  *     per interval per live key regardless of micro-batch pacing.
  *
  * Deviation from the reference, on purpose: the reference stamps
  * events with ARRIVAL time and prunes against the wall clock; this
  * twin runs in EVENT TIME with the watermark as the clock, which
  * makes the emission sequence deterministic and replayable (the
  * reference's own comment calls its approach non-idiomatic). Pass
  * `TimeMode.ProcessingTime()` semantics by stamping arrival time
  * upstream if wall-clock cadence is required on a deployment.
  *
  * Scale shape: state per key is NOT the event list the reference
  * keeps — events fold into per-(interval-bucket, type) counts in a
  * `MapState`, so state is bounded by (windowMs/intervalMs)·|types|
  * entries per key regardless of event volume (the reference's list
  * grows with event rate). Because deadlines are interval-aligned and
  * `windowMs` is a multiple of `intervalMs`, bucket pruning is EXACT
  * with respect to the window boundary — no approximation traded for
  * the folding. Emission volume is one row per interval per LIVE key;
  * drained keys cost nothing until they wake. Requires the RocksDB
  * state-store provider, which graft sessions run by default
  * ([[graft.GraftRuntime.sessionConfs]]); state and armed timers
  * survive restarts through changelog recovery (spec-proven).
  */
class PeriodicAggProcessor(windowMs: Long, intervalMs: Long)
    extends StatefulProcessor[String, Row, PeriodicMetrics] {
  require(windowMs % intervalMs == 0 && windowMs > 0 && intervalMs > 0,
    s"windowMs ($windowMs) must be a positive multiple of intervalMs ($intervalMs)")

  // (bucketStart, eventType) -> count; bucketStart = ts floor-aligned
  // to intervalMs
  @transient private var buckets: MapState[(Long, String), Long] = _
  // last deadline this key emitted a row for — the floor below which
  // a re-arm must never land (each interval is emitted exactly once)
  @transient private var lastEmitted: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buckets = getHandle.getMapState[(Long, String), Long](
      "buckets", Encoders.product[(Long, String)],
      Encoders.scalaLong, TTLConfig.NONE)
    lastEmitted = getHandle.getValueState[Long](
      "lastEmitted", Encoders.scalaLong, TTLConfig.NONE)
  }

  private def bucketOf(ts: Long): Long =
    Math.floorDiv(ts, intervalMs) * intervalMs

  override def handleInputRows(
      key: String,
      rows: Iterator[Row],
      timerValues: TimerValues): Iterator[PeriodicMetrics] = {
    var minTs = Long.MaxValue
    rows.foreach { r =>
      val ts = r.getAs[Long]("timestamp")
      minTs = math.min(minTs, ts)
      val k = (bucketOf(ts), r.getAs[String]("eventType"))
      buckets.updateValue(k,
        (if (buckets.containsKey(k)) buckets.getValue(k) else 0L) + 1L)
    }
    // arm (or re-arm) toward the earliest new bucket's deadline,
    // clamped above the last emitted interval so no deadline is ever
    // emitted twice. Bootstrap-only-if-unarmed (reference :146-157)
    // is the common case; the EARLIER-re-arm case matters after a
    // gap-jump armed a far-future timer and an event then lands in an
    // older (still above-watermark) bucket — without it, that bucket
    // would be pruned before the far deadline ever counts it.
    if (minTs != Long.MaxValue) {
      val floor =
        if (lastEmitted.exists()) lastEmitted.get() + intervalMs
        else Long.MinValue
      val d0 = math.max(bucketOf(minTs) + intervalMs, floor)
      val armed = getHandle.listTimers().toSeq
      if (armed.isEmpty) getHandle.registerTimer(d0)
      else if (d0 < armed.min) {
        armed.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(d0)
      }
    }
    Iterator.empty
  }

  override def handleExpiredTimer(
      key: String,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[PeriodicMetrics] = {
    val out = scala.collection.mutable.ListBuffer[PeriodicMetrics]()
    val wm = timerValues.getCurrentWatermarkInMs()
    var deadline = expiredTimerInfo.getExpiryTimeInMs()
    var live = true
    // ONE state-store scan for the whole catch-up, however many
    // intervals the watermark jumped: the loop folds deadlines over an
    // in-memory copy and the prunes are written back once at the end.
    // (The former per-iteration keys()/iterator() scans cost
    // O(gap/interval x buckets) RocksDB reads on a large jump.)
    val all = scala.collection.mutable.Map.empty[(Long, String), Long]
    buckets.iterator().foreach(kv => all.update(kv._1, kv._2))
    val pruned = scala.collection.mutable.ListBuffer[(Long, String)]()
    while (live && deadline <= wm) {
      val windowStart = deadline - windowMs
      // prune buckets that fell out of the window (exact: deadlines
      // and bucket starts are both intervalMs-aligned)
      val toPrune = all.keysIterator.filter(_._1 < windowStart).toList
      toPrune.foreach(all.remove)
      pruned ++= toPrune
      val inWindow = all.toSeq.filter(_._1._1 < deadline)
      val typeCounts = inWindow.groupBy(_._1._2)
        .map { case (tpe, es) => tpe -> es.map(_._2).sum }
      out += PeriodicMetrics(key, windowStart, deadline,
        typeCounts.valuesIterator.sum, typeCounts)
      lastEmitted.update(deadline)
      if (all.isEmpty) {
        // drained: the zero row just emitted IS the went-to-zero
        // signal; stop the heartbeat (next event re-bootstraps)
        live = false
      } else if (inWindow.isEmpty) {
        // went-to-zero emitted but future-bucket data exists (an
        // event-time gap): jump the heartbeat to the first deadline
        // whose window reaches that data — one zero signal, then
        // silence until the data re-enters, like the reference's
        // stop-then-bootstrap under a wall-clock gap
        deadline = all.keysIterator.map(_._1).min + intervalMs
      } else deadline += intervalMs
    }
    pruned.foreach(buckets.removeKey)
    if (live) getHandle.registerTimer(deadline)
    out.iterator
  }
}

object PeriodicAggTws {

  /** Timer-cadence sliding metrics over a stream of [[ParsedEvent]]s:
    * one [[PeriodicMetrics]] row per `intervalMs` per key while the
    * key's `windowMs` window holds events, plus the explicit
    * zero-count row when it empties. `timestamp` is epoch millis; the
    * watermark delay bounds event lateness and how far emission
    * trails the deadline.
    */
  def metrics(
      events: Dataset[ParsedEvent],
      windowMs: Long,
      intervalMs: Long,
      watermarkDelay: String = "10 seconds"): Dataset[PeriodicMetrics] = {
    import events.sparkSession.implicits._
    events.toDF()
      .withColumn("event_time", timestamp_millis(col("timestamp")))
      .withWatermark("event_time", watermarkDelay)
      .groupByKey(_.getAs[String]("id"))
      .transformWithState(
        new PeriodicAggProcessor(windowMs, intervalMs),
        TimeMode.EventTime(),
        OutputMode.Append(),
        Encoders.product[PeriodicMetrics])
  }
}
