package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming._

/** Scale-tier rehearsal for the STATEFUL streaming family (r15
  * verdict #2) — the transformWithState / flatMapGroupsWithState
  * components (B19 SessionizeTws, B23 AnomalyStream, B24
  * PatternDetectTws, B26 PeriodicAggTws, B28 BudgetStream) driven at
  * the 100x backlog under the RocksDB state-store provider, with
  * per-loop laws IN CODE and the observed state-store rows
  * cross-checked against the `q_state_sizing` capacity audit (C62) —
  * the audit exists precisely to be validated by a rehearsal: its
  * projections must UPPER-BOUND (and for the never-evicting detector,
  * EQUAL) what the state store actually holds at tier.
  *
  * Backlog shape: unlike the dedup loops' replica-sliced backlog
  * (ids partition by replica, time ranges IDENTICAL across replicas —
  * fatal for event time: slice 2's events would all be late behind
  * slice 1's watermark), the stateful loops ingest a TIME-SLICED
  * backlog — all replicas interleaved, sliced by event-time range, so
  * the watermark advances monotonically across slices and nothing is
  * ever late-dropped. Two sentinel FLUSH slices (user −1, type
  * "flush", 48 h past the corpus) ride at the end of the backlog:
  * flush 1 advances the watermark past every real timer deadline, and
  * flush 2 provides the data batch in which those timers actually
  * fire (watermark computed from batch N takes effect in batch N+1 —
  * the AvailableNow emission dance LocalPipelineMain documents). The
  * flush key is excluded from every law.
  *
  * Laws (all frame-based so ScaleStreamStateSpec can feed doctored
  * frames as negatives):
  *  - B19: streamed gap sessions EQUAL the registered `q_sessionize`
  *    batch query on the same scaled corpus (set equality), event
  *    conservation, peak state ≤ the audit's pair-sum peak formula at
  *    the rehearsal batch horizon ([[pairPeak]] — the registered
  *    30-min instantiation assumes real-time pacing), final state
  *    drained to the flush session (timer eviction works).
  *  - B23: verdicts EQUAL a pure window-function recompute of the
  *    prefix-moment z-test (the streaming algebra re-derived
  *    declaratively), closed-hour count law, final state ==
  *    `keyed_state_keys` (the detector never evicts).
  *  - B24: outcomes EQUAL the order-insensitive batch fold of the
  *    same CEP semantics (micro-batch-boundary independence),
  *    structural match laws, final state == 0 (timer retirement
  *    drained every prefix), peak ≤ `keyed_state_keys`.
  *  - B26: non-zero emissions EQUAL per-(key, bucket) batch counts,
  *    non-zero row count == `tumbling_windows_total_10m` (the
  *    registered projection, exactly), zero rows verifiably empty,
  *    cadence uniqueness, peak state ≤ the horizon-matched event-peak
  *    formula + one lastEmitted row per key ever live.
  *  - B28: verdict conservation, the kept-iff-pre-cum<budget rule
  *    recomputed row-by-row, per-source prefix-sum consistency (the
  *    carried state never double-advanced or reset across batches),
  *    crossing-doc budget bounds, and the persisted carried snapshot
  *    == per-source streamed token totals.
  */
object ScaleStreamState {

  import ScaleGate.Check
  import ScaleStream.{LoopResult, drive}

  private[graft] val FlushUser = -1L
  private val HourMs = 3600000L
  private val GapMs = 30L * 60 * 1000 // == the registered q_sessionize gap
  private val BucketMs = 600000L // == q_state_sizing's 10-min buckets
  private val CepWindowMs = 24L * 3600000
  private[graft] val CepPattern = Seq("view", "purchase")

  // ------------------------------------------------------------------
  // Backlog
  // ------------------------------------------------------------------

  /** Write the scaled events table as `slices` single-file TIME-RANGE
    * slices plus the two flush slices, mtime-ordered. Returns
    * (realArrivals, sliceWidthMs) — the width is the rehearsal's
    * BATCH HORIZON, which the state laws instantiate the audit
    * formula at (see [[pairPeak]]).
    */
  private[graft] def writeEventsBacklog(spark: SparkSession,
      scaledDir: String, outDir: String, slices: Int): (Long, Long) = {
    DiskGuard.require(outDir, DiskGuard.Projection(
      s"time-sliced events backlog rewrite of $scaledDir/events.parquet",
      DiskGuard.dirBytes(s"$scaledDir/events.parquet"),
      "point SPARK_GRAFT_STREAM_WORK at a larger volume or lower " +
        "SPARK_GRAFT_SCALE_COPIES"))
    val ev = eventsMs(spark, scaledDir)
    val bounds = ev.agg(min("ms"), max("ms")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo) / slices + 1)
    val data = (0 until slices).map { i =>
      val sLo = lo + i * width
      val sHi = if (i == slices - 1) hi + 1 else sLo + width
      ev.filter(col("ms") >= sLo && col("ms") < sHi)
    }
    val n = ScaleStream.writeSlices(outDir, data ++ flushSlices(spark, hi))
      .take(slices).sum
    require(n > 0, s"empty events table under $scaledDir")
    (n, width)
  }

  /** A REAL-TIME-PACED backlog over an aligned sub-span: slices of
    * exactly `sliceMs` event time starting at a sliceMs-aligned lower
    * bound, plus the two flush sentinels. This is the ingest shape the
    * registered 30-min audit projections assume (each trigger's
    * event-time span == the operator horizon), so the paced loop can
    * validate the REGISTERED `session_peak_users_30m` number at its
    * own horizon instead of the formula at an arbitrary one. Returns
    * (arrivals, loMs, hiMs).
    */
  private[graft] def writePacedBacklog(spark: SparkSession,
      scaledDir: String, outDir: String, spanMs: Long, sliceMs: Long)
      : (Long, Long, Long) = {
    val ev = eventsMs(spark, scaledDir)
    val mn = ev.agg(min("ms")).head.getLong(0)
    // bucket-align the span so slices coincide with the audit's
    // epoch-aligned buckets (a misaligned slice would straddle three)
    val lo = (mn / sliceMs + 1) * sliceMs
    val hi = lo + spanMs
    val slices = (spanMs / sliceMs).toInt
    require(spanMs % sliceMs == 0 && slices >= 2,
      s"span $spanMs must be a multiple >= 2 of slice $sliceMs")
    val data = (0 until slices).map { i =>
      val sLo = lo + i * sliceMs
      ev.filter(col("ms") >= sLo && col("ms") < sLo + sliceMs)
    }
    val arrivals = ScaleStream.writeSlices(outDir, data ++ flushSlices(spark, hi))
      .take(slices).sum
    require(arrivals > 0, s"no events in the paced span [$lo, $hi)")
    (arrivals, lo, hi)
  }

  // Tables.events normalizes the physical ts encoding (nanos-long vs
  // TIMESTAMP_NTZ — derived corpora may carry either)
  private def eventsMs(spark: SparkSession, scaledDir: String): DataFrame =
    Tables.events(spark, scaledDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        Tables.eventTsMs.as("ms"))

  /** The two flush sentinel slices that close an events backlog whose
    * last event is at `hiMs`: flush 1, 48 h past the corpus, clears
    * every deadline (CEP's are firstStage + 24 h, the farthest); flush
    * 2 is the data batch the timers then fire in.
    */
  private def flushSlices(spark: SparkSession, hiMs: Long): Seq[DataFrame] = {
    import spark.implicits._
    Seq((-1L, hiMs + 48 * HourMs), (-2L, hiMs + 49 * HourMs)).map {
      case (id, ms) => Seq((id, FlushUser, "flush", ms))
        .toDF("event_id", "user_id", "event_type", "ms")
    }
  }

  /** The `q_state_sizing` peak formula (Stats.scala peakPair: max over
    * ADJACENT-bucket-pair sums — a window of width ≤ the bucket spans
    * at most two adjacent buckets; the double count is the safe side)
    * instantiated at an arbitrary horizon. WHY the rehearsal needs its
    * own instantiation: the registered 30-min/10-min projections
    * assume real-time pacing, where a trigger's event-time span is
    * bounded by the operator horizon and timers evict state within it.
    * A backlog CATCH-UP processes `sliceWidth` of event time per
    * micro-batch and timers only run against the PREVIOUS batch's
    * watermark, so observed end-of-batch state legitimately holds up
    * to two batch-horizons of keys — the audit FORMULA is what the
    * rehearsal validates, at the horizon the rehearsal actually runs;
    * the registered 30-min instantiation rides in the law detail for
    * reference.
    */
  private[graft] def pairPeak(bucketed: DataFrame): Long =
    bucketed.join(
        bucketed.select((col("b") - 1).as("b"), col("c").as("cn")),
        Seq("b"), "left_outer")
      .agg(max(col("c") + coalesce(col("cn"), lit(0L)))).head.getLong(0)

  private[graft] def peakUsersAtHorizon(events: DataFrame, w: Long): Long =
    pairPeak(events.groupBy(expr(s"ms div $w").as("b"))
      .agg(count_distinct(col("user_id")).as("c")))

  private[graft] def peakEventsAtHorizon(events: DataFrame, w: Long): Long =
    pairPeak(events.groupBy(expr(s"ms div $w").as("b"))
      .agg(count(lit(1)).as("c")))

  // ------------------------------------------------------------------
  // Law builders (frame-based: the spec feeds doctored frames)
  // ------------------------------------------------------------------

  /** Set equality both ways — the workhorse law. */
  private[graft] def equalityLaw(loop: String, inv: String,
      streamed: DataFrame, expected: DataFrame): Check = {
    val extra = streamed.except(expected).count()
    val missing = expected.except(streamed).count()
    val n = streamed.count()
    Check(loop, inv, extra == 0 && missing == 0 && n > 0,
      s"rows=$n stream_only=$extra batch_only=$missing")
  }

  /** Observed state rows vs a `q_state_sizing` projection. */
  private[graft] def stateLaw(loop: String, component: String,
      observed: Long, projected: Long, op: String): Check = {
    val pass = op match {
      case "<=" => observed <= projected && observed > 0
      case _ => observed == projected
    }
    Check(loop, s"state rows vs q_state_sizing $component (observed $op projected)",
      pass, s"observed=$observed projected=$projected")
  }

  /** B23's closed-hour conservation: every (user, hour) pair closes
    * except each user's final open hour.
    */
  private[graft] def closedHourLaw(loop: String, verdictRows: Long,
      userHours: Long, users: Long): Check =
    Check(loop, "closed-hour conservation: verdicts = user-hours - open finals",
      verdictRows == userHours - users && verdictRows > 0,
      s"verdicts=$verdictRows user_hours=$userHours users=$users")

  /** B24 structural laws over the streamed outcome frame. */
  private[graft] def cepStructuralLaws(loop: String,
      outcomes: DataFrame, patternSize: Int, windowMs: Long): Seq[Check] = {
    val badMatch = outcomes.filter(!col("isTimeout") &&
      (size(col("stageTs")) =!= patternSize ||
        col("endTs") - col("startTs") > windowMs ||
        col("endTs") <= col("startTs"))).count()
    val badTimeout = outcomes.filter(col("isTimeout") &&
      size(col("stageTs")) >= patternSize).count()
    // non-overlap: per key ordered by startTs, each outcome starts
    // strictly after the previous one ENDED (non-overlapping restarts)
    val w = Window.partitionBy("userId").orderBy(col("startTs"), col("endTs"))
    val overlaps = outcomes
      .withColumn("prev_end", lag(col("endTs"), 1).over(w))
      .filter(col("prev_end").isNotNull && col("startTs") <= col("prev_end"))
      .count()
    Seq(
      Check(loop, "matches are full in-window ordered patterns; timeouts are partial",
        badMatch == 0 && badTimeout == 0,
        s"bad_matches=$badMatch bad_timeouts=$badTimeout"),
      Check(loop, "non-overlapping restarts: outcomes disjoint per key",
        overlaps == 0, s"overlaps=$overlaps"))
  }

  /** B26's zero-signal law: every zero row's window really held no
    * events for that key (`buckets` = (userId, b, cnt)).
    */
  private[graft] def zeroRowLaw(loop: String, zeros: DataFrame,
      buckets: DataFrame): Check = {
    val violations = zeros
      .select(col("userId"), (col("windowStart") / BucketMs).cast("long").as("b"))
      .join(buckets, Seq("userId", "b"), "inner").count()
    Check(loop, "went-to-zero rows cover verifiably empty windows",
      violations == 0, s"occupied_zero_windows=$violations")
  }

  /** B26's cadence law: one emission per (key, deadline), deadlines
    * interval-aligned.
    */
  private[graft] def cadenceLaw(loop: String, rows: DataFrame): Check = {
    val n = rows.count()
    val distinctDeadlines = rows.select("userId", "windowEnd").distinct().count()
    val misaligned = rows
      .filter(col("windowEnd") % BucketMs =!= 0 ||
        col("windowEnd") - col("windowStart") =!= BucketMs).count()
    Check(loop, "cadence: one row per (key, interval deadline), aligned windows",
      n == distinctDeadlines && misaligned == 0 && n > 0,
      s"rows=$n distinct=$distinctDeadlines misaligned=$misaligned")
  }

  /** B28's law suite over the verdict frame + the persisted carried
    * snapshot. `budgets` = (source, budget).
    */
  private[graft] def budgetLaws(loop: String, verdicts: DataFrame,
      budgets: DataFrame, carried: DataFrame, arrivals: Long): Seq[Check] = {
    val st = verdicts.agg(count(lit(1)), count_distinct(col("doc_id"))).head()
    val (rows, ids) = (st.getLong(0), st.getLong(1))
    val keptRule = verdicts.join(broadcast(budgets), Seq("source"), "left_outer")
      .filter(col("kept") =!=
        (col("cum_tokens") - col("n_tokens") < coalesce(col("budget"), lit(0L))))
      .count()
    // prefix-sum consistency: per source the cum column is a strictly
    // increasing prefix sum of n_tokens — max(cum) == sum(tokens) and
    // no two rows share a cum value. A carried-state reset or a
    // replayed double-advance breaks one of the two.
    val torn = verdicts.groupBy("source")
      .agg(max("cum_tokens").as("mx"), sum("n_tokens").as("sm"),
        count(lit(1)).as("c"), count_distinct(col("cum_tokens")).as("dc"))
      .filter(col("mx") =!= col("sm") || col("c") =!= col("dc")).count()
    // crossing-doc bounds: kept tokens stay under budget + one doc,
    // and a source with enough supply fills its budget
    val kept = verdicts.filter(col("kept"))
      .groupBy("source").agg(sum("n_tokens").as("kept_tokens"),
        max("n_tokens").as("mx_doc"))
    val supply = verdicts.groupBy("source").agg(sum("n_tokens").as("total"))
    val badFill = kept.join(supply, Seq("source"))
      .join(broadcast(budgets), Seq("source"))
      .filter(col("kept_tokens") >= col("budget") + col("mx_doc") ||
        (col("total") >= col("budget") && col("kept_tokens") < col("budget")))
      .count()
    val carriedLaw = equalityLaw(loop,
      "persisted carried state equals per-source streamed token totals",
      carried.select(col("source"), col("carried")),
      supply.select(col("source"), col("total").as("carried")))
    Seq(
      Check(loop, "verdict conservation: one row per streamed doc, ids unique",
        rows == arrivals && ids == rows,
        s"rows=$rows distinct=$ids arrivals=$arrivals"),
      Check(loop, "kept iff pre-doc cumulative < budget (crossing doc kept)",
        keptRule == 0, s"violations=$keptRule"),
      Check(loop, "per-source prefix-sum consistency across micro-batches",
        torn == 0, s"torn_sources=$torn"),
      Check(loop, "budget bounds: fill under budget+1 doc, exhausted sources filled",
        badFill == 0, s"violations=$badFill"),
      carriedLaw)
  }

  // ------------------------------------------------------------------
  // Batch recomputes (the independent side of the equality laws)
  // ------------------------------------------------------------------

  /** The prefix-moment z-test re-derived with window functions: per
    * (user, hour) counts in hour order; each hour judged against the
    * moments of the STRICTLY EARLIER hours plus itself — the literal
    * streaming algebra, declaratively. Each user's final hour is
    * dropped (it never closes in the stream).
    */
  private[graft] def anomalyRecompute(events: DataFrame): DataFrame = {
    val hours = events
      .groupBy(col("user_id"), expr(s"ms div $HourMs").as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("user_id").orderBy("hour")
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    hours
      .withColumn("n", row_number().over(w).cast("long") - 1)
      .withColumn("s1", coalesce(sum("cnt").over(prior), lit(0L)))
      .withColumn("s2", coalesce(sum(col("cnt") * col("cnt")).over(prior), lit(0L)))
      .withColumn("mx", max("hour").over(Window.partitionBy("user_id")))
      .filter(col("hour") < col("mx"))
      .select(col("user_id").as("userId"), col("hour"), col("cnt"),
        (col("n") + 1).as("nHours"),
        (pow2((col("n") + 1) * col("cnt") - (col("s1") + col("cnt"))) >
          lit(9L) * ((col("n") + 1) * (col("s2") + col("cnt") * col("cnt")) -
            pow2(col("s1") + col("cnt")))).as("anomalous"))
  }

  private def pow2(c: org.apache.spark.sql.Column) = c * c

  /** The order-insensitive batch fold of the CEP semantics: per key,
    * events in (ts, type) order through the identical prefix automaton
    * (match in order, strictly after, in-window, non-overlapping
    * restarts; expired prefixes time out, including the final open
    * prefix — the stream's flush does the same via timers). Streamed
    * == this fold is the micro-batch-boundary-independence law.
    */
  private[graft] def cepFold(events: DataFrame, pattern: Seq[String],
      windowMs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val pat = pattern
    events
      .select(col("user_id").cast("string").as("id"), col("ms"),
        col("event_type").as("tpe"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val out = scala.collection.mutable.ListBuffer[CepEvent]()
        var stages = Seq.empty[Long]
        def timeout(): Unit = {
          out += CepEvent(key, isTimeout = true, stages.head, stages.last, stages)
          stages = Seq.empty
        }
        it.toSeq.map(e => (e._2, e._3)).sorted.foreach { case (ts, tpe) =>
          if (stages.nonEmpty && ts - stages.head > windowMs) timeout()
          val strictlyAfter = stages.isEmpty || ts > stages.last
          if (stages.size < pat.size && tpe == pat(stages.size) && strictlyAfter) {
            stages = stages :+ ts
            if (stages.size == pat.size) {
              out += CepEvent(key, isTimeout = false, stages.head, stages.last, stages)
              stages = Seq.empty
            }
          }
        }
        if (stages.nonEmpty) timeout()
        out.iterator
      }.toDF()
  }

  // ------------------------------------------------------------------
  // Runner
  // ------------------------------------------------------------------

  private def parsed(src: DataFrame): Dataset[ParsedEvent] = {
    val spark = src.sparkSession
    import spark.implicits._
    src.select(col("user_id").cast("string").as("id"),
      col("event_type").as("eventType"), col("ms").as("timestamp"),
      map().cast("map<string,string>").as("data")).as[ParsedEvent]
  }

  private[graft] def runAll(spark: SparkSession, scaledDir: String,
      copies: Int, slices: Int, work: String,
      onLoop: LoopResult => Unit = _ => ()): Seq[LoopResult] = {
    import spark.implicits._
    val backlogDir = s"$work/backlog_state_events"
    val (arrivals, horizonMs) =
      writeEventsBacklog(spark, scaledDir, backlogDir, slices)
    val events = Tables.events(spark, scaledDir)
      .select(col("user_id"), col("event_type"), Tables.eventTsMs.as("ms"))
    // the audit under validation: the REGISTERED q_state_sizing query
    // over the same scaled corpus
    val proj = SparkEntry.queries("q_state_sizing")(spark, scaledDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val results = scala.collection.mutable.ArrayBuffer.empty[LoopResult]
    def run(loop: String,
        start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery,
        laws: (Long, Long) => Seq[Check]): Unit = {
      val p = drive(spark, backlogDir, start)
      val r = p.result(loop, copies, arrivals,
        laws(p.peakStateRows, p.finalStateRows))
      results += r
      onLoop(r)
    }

    // Starter + law builders for B19/B26, shared by the normal runs
    // and the RESTART rehearsals (same laws — a state row or timer
    // lost across the stop/start fails exactly like a semantics bug).
    def b19Start(sink: String, ckpt: String)(src: DataFrame) =
      SessionizeTws.sessions(parsed(src), GapMs, "2 seconds")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    def b19Laws(loop: String, sink: String)(peak: Long, fin: Long): Seq[Check] = {
      val streamed = spark.read.parquet(sink)
        .filter(col("userId") =!= FlushUser.toString)
        .select(col("userId").cast("long").as("u"), col("sessionStart"),
          col("sessionEnd"), col("nEvents"))
      val batch = SparkEntry.queries("q_sessionize")(spark, scaledDir)
        .select(col("user_id").as("u"),
          col("session_start_ms").as("sessionStart"),
          col("session_end_ms").as("sessionEnd"),
          col("n_events").as("nEvents"))
      val conserved = streamed.agg(coalesce(sum("nEvents"), lit(0L))).head.getLong(0)
      val horizonProj = peakUsersAtHorizon(events, horizonMs)
      Seq(
        equalityLaw(loop,
          "streamed gap sessions equal the registered q_sessionize batch query",
          streamed, batch),
        Check(loop,
          "event conservation: session sizes sum to the arrivals",
          conserved == arrivals, s"sum_n=$conserved arrivals=$arrivals"),
        Check(loop,
          "peak state bounded by the q_state_sizing peak formula at the batch horizon",
          peak <= horizonProj && peak > 0,
          s"observed=$peak projected_at_horizon=$horizonProj " +
            s"registered_30m=${proj("session_peak_users_30m")}"),
        Check(loop,
          "timer eviction drained the real keys: only the flush session remains",
          fin <= 2, s"final_state_rows=$fin"))
    }
    def b26Start(sink: String, ckpt: String)(src: DataFrame) =
      PeriodicAggTws.metrics(parsed(src), BucketMs, BucketMs, "2 seconds")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    def b26Laws(loop: String, sink: String)(peak: Long, fin: Long): Seq[Check] = {
      val rows = spark.read.parquet(sink)
        .filter(col("userId") =!= FlushUser.toString).persist()
      try {
        val buckets = events
          .groupBy(col("user_id").cast("string").as("userId"),
            expr(s"ms div $BucketMs").as("b"))
          .agg(count(lit(1)).as("cnt")).persist()
        try {
          val nonZero = rows.filter(col("totalCount") > 0)
          val nzCount = nonZero.count()
          Seq(
            equalityLaw(loop,
              "non-zero emissions equal per-(key, bucket) batch counts",
              nonZero.select(col("userId"),
                (col("windowStart") / BucketMs).cast("long").as("b"),
                col("totalCount").as("cnt")),
              buckets),
            Check(loop,
              "non-zero rows == the registered tumbling_windows_total_10m projection",
              nzCount == proj("tumbling_windows_total_10m"),
              s"rows=$nzCount projected=${proj("tumbling_windows_total_10m")}"),
            zeroRowLaw(loop, rows.filter(col("totalCount") === 0), buckets),
            cadenceLaw(loop, rows),
            Check(loop,
              "peak state bounded by the q_state_sizing event-peak formula at the batch horizon + one lastEmitted row per key",
              peak <= peakEventsAtHorizon(events, horizonMs) +
                proj("keyed_state_keys") && peak > 0,
              s"observed=$peak " +
                s"projected_at_horizon=${peakEventsAtHorizon(events, horizonMs)} " +
                s"keyed=${proj("keyed_state_keys")} " +
                s"registered_10m=${proj("dedup_peak_keys_10m")}"))
        } finally buckets.unpersist()
      } finally rows.unpersist()
    }

    // ---- B19 SessionizeTws ----
    run("B19_sessionize_tws",
      b19Start(s"$work/b19_sessions", s"$work/ckpt_b19"),
      b19Laws("B19_sessionize_tws", s"$work/b19_sessions"))

    // ---- B23 AnomalyStream (fMGWS, no timers: flush rows filtered
    // at the input map, the production deployment's own shape) ----
    run("B23_anomaly_stream",
      src => AnomalyStream.detect(
          src.filter(col("user_id") >= 0)
            .select(col("user_id").as("userId"), col("ms")).as[UserEvent])
        .writeStream.format("parquet")
        .option("path", s"$work/b23_verdicts")
        .option("checkpointLocation", s"$work/ckpt_b23")
        .trigger(Trigger.AvailableNow()).start(),
      (_, fin) => {
        val streamed = spark.read.parquet(s"$work/b23_verdicts")
        val agg = events.agg(
          count_distinct(col("user_id"), expr(s"ms div $HourMs")),
          count_distinct(col("user_id"))).head()
        val (userHours, users) = (agg.getLong(0), agg.getLong(1))
        Seq(
          equalityLaw("B23_anomaly_stream",
            "streamed verdicts equal the window-function prefix-moment recompute",
            streamed.select("userId", "hour", "cnt", "nHours", "anomalous"),
            anomalyRecompute(events)),
          closedHourLaw("B23_anomaly_stream", streamed.count(), userHours, users),
          stateLaw("B23_anomaly_stream", "keyed_state_keys",
            fin, proj("keyed_state_keys"), "=="))
      })

    // ---- B24 PatternDetectTws ----
    run("B24_pattern_tws",
      src => PatternDetectTws.detect(parsed(src), CepPattern, CepWindowMs,
          "2 seconds")
        .writeStream.format("parquet")
        .option("path", s"$work/b24_outcomes")
        .option("checkpointLocation", s"$work/ckpt_b24")
        .trigger(Trigger.AvailableNow()).start(),
      (peak, fin) => {
        val streamed = spark.read.parquet(s"$work/b24_outcomes")
          .filter(col("userId") =!= FlushUser.toString)
        val fold = cepFold(events, CepPattern, CepWindowMs)
        equalityLaw("B24_pattern_tws",
          "timer-driven outcomes equal the batch CEP fold (boundary independence)",
          streamed.select("userId", "isTimeout", "startTs", "endTs", "stageTs"),
          fold.select("userId", "isTimeout", "startTs", "endTs", "stageTs")) +:
        (cepStructuralLaws("B24_pattern_tws", streamed,
          CepPattern.size, CepWindowMs) ++ Seq(
          Check("B24_pattern_tws",
            "timer retirement drained every prefix: final state rows = 0",
            fin == 0, s"final_state_rows=$fin"),
          stateLaw("B24_pattern_tws", "keyed_state_keys",
            peak, proj("keyed_state_keys"), "<=")))
      })

    // ---- B26 PeriodicAggTws (window == interval == the audit's
    // 10-min tumbling shape) ----
    run("B26_periodic_tws",
      b26Start(s"$work/b26_metrics", s"$work/ckpt_b26"),
      b26Laws("B26_periodic_tws", s"$work/b26_metrics"))

    // ---- RESTART rehearsals (r16): stop the two richest-state tws
    // loops mid-backlog and resume the SAME starter from the SAME
    // checkpoint — state variables AND armed event-time timers must
    // survive the full stop/start through RocksDB changelog recovery
    // (spec-proven at unit scale; this proves it at the tier backlog
    // under the identical equality laws: a session/bucket/lastEmitted
    // row or a timer lost across the restart fails exactly like a
    // semantics bug — a lost timer drops deadlines from the cadence,
    // a lost bucket breaks the per-(key, bucket) equality, a lost
    // lastEmitted double-emits and trips cadence uniqueness).
    def runRestart(loop: String,
        start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery,
        laws: (Long, Long) => Seq[Check]): Unit = {
      val stage = s"$work/stage_$loop"
      val live = s"$work/backlog_$loop"
      writeEventsBacklog(spark, scaledDir, stage, slices)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(live))
      val files = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
      // phase 1 = the first half of the DATA slices (no flushes):
      // the stream stops with open sessions/buckets and armed timers
      val splitAt = math.max(1, slices / 2)
      def publish(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
        // move preserves mtime, so the slice ordering survives staging
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(live).resolve(f.getName))
      }
      publish(files.take(splitAt))
      val p1 = drive(spark, live, start)
      publish(files.drop(splitAt))
      val p2 = drive(spark, live, start)
      val perBatch = p1.perBatch ++ p2.perBatch
      val r = LoopResult(loop, copies, arrivals, perBatch.size,
        p1.wallSec + p2.wallSec, perBatch,
        Check(loop, "the restart really split the backlog: both phases ran batches",
          p1.perBatch.nonEmpty && p2.perBatch.nonEmpty,
          s"phase1_batches=${p1.perBatch.size} phase2_batches=${p2.perBatch.size}") +:
          laws(math.max(p1.peakStateRows, p2.peakStateRows), p2.finalStateRows))
      results += r
      onLoop(r)
    }
    runRestart("B19_sessionize_tws_restart",
      b19Start(s"$work/b19r_sessions", s"$work/ckpt_b19r"),
      b19Laws("B19_sessionize_tws_restart", s"$work/b19r_sessions"))
    runRestart("B26_periodic_tws_restart",
      b26Start(s"$work/b26r_metrics", s"$work/ckpt_b26r"),
      b26Laws("B26_periodic_tws_restart", s"$work/b26r_metrics"))

    // ---- B19 PACED: the registered-number validation. The normal
    // loop validates the audit FORMULA at the backlog's batch horizon
    // (3 days/slice); this one paces ingest near the audit's assumed
    // operating point — 10-min slices over a bucket-aligned 6 h
    // sub-span — and asserts two things:
    //  (a) a PROVABLY SOUND horizon-matched bound: live state at a
    //      batch boundary is sessions ending after wm − gap, a window
    //      of event time ≤ gap + 2·slice + delay (wm trails the
    //      previous slice's max ts; consecutive slice maxima are ≤
    //      2·slice apart under sparse tails), so the pair-sum at
    //      bucket width gap + 2·slice + 1 min covers it — the first
    //      attempt used width == gap and measured OVER by 5% (57 vs
    //      54 at 3x): eviction lag is part of the true horizon, a
    //      real bound-tightness lesson the gate now encodes;
    //  (b) the CAPACITY claim the audit exists for: the registered
    //      whole-corpus session_peak_users_30m number bounds the
    //      observed paced-run peak (empirical validation with the
    //      margin in the detail — this is the number a deployment
    //      sizes its state store from).
    {
      val loop = "B19_sessionize_paced"
      val backlog = s"$work/backlog_paced"
      val pacedSlice = BucketMs // 10-min slices
      val (pacedArrivals, subLo, subHi) =
        writePacedBacklog(spark, scaledDir, backlog, 6 * HourMs, pacedSlice)
      val sink = s"$work/b19p_sessions"
      val replay = drive(spark, backlog, b19Start(sink, s"$work/ckpt_b19p"))
      val (peak, fin) = (replay.peakStateRows, replay.finalStateRows)
      val subset = events.filter(col("ms") >= subLo && col("ms") < subHi)
      val conserved = spark.read.parquet(sink)
        .filter(col("userId") =!= FlushUser.toString)
        .agg(coalesce(sum("nEvents"), lit(0L))).head.getLong(0)
      val soundW = GapMs + 2 * pacedSlice + 60000L
      val subsetPeak = peakUsersAtHorizon(subset, soundW)
      val r = replay.result(loop, copies, pacedArrivals, Seq(
        Check(loop, "event conservation: session sizes sum to the paced arrivals",
          conserved == pacedArrivals,
          s"sum_n=$conserved arrivals=$pacedArrivals"),
        Check(loop,
          "peak state under 10-min pacing bounded by the pair-peak at the eviction-lag-matched horizon (gap + 2 slices)",
          peak <= subsetPeak && peak > 0,
          s"observed=$peak span_pair_peak_at_${soundW}ms=$subsetPeak"),
        Check(loop,
          "the registered whole-corpus session_peak_users_30m capacity number holds under paced ingest",
          peak <= proj("session_peak_users_30m"),
          s"observed=$peak registered=${proj("session_peak_users_30m")}"),
        Check(loop, "timer eviction drained the real keys",
          fin <= 2, s"final_state_rows=$fin")))
      results += r
      onLoop(r)
    }

    // ---- B28 BudgetStream (doc backlog, replica-sliced: no event
    // time in this loop, arrival order is the id order) ----
    val docBacklog = s"$work/backlog_state_docs"
    val docArrivals = ScaleStream.writeBacklog(spark,
      s"$scaledDir/documents.parquet", "doc_id",
      Seq("doc_id", "source", "text"), docBacklog, copies, slices)
    val streamedDocs = spark.read.parquet(docBacklog)
    val budgets = graft.operators.Sampling.sourceBudgets(
      graft.operators.Sampling.budgetTokenCols(streamedDocs),
      streamedDocs.agg(coalesce(sum(size(split(col("text"), " "))), lit(0)))
        .head.getLong(0) / 2).persist()
    try {
      val replay = drive(spark, docBacklog, src => BudgetStream.budgetStream(
        src, budgets, s"$work/b28_state", s"$work/b28_verdicts",
        s"$work/ckpt_b28", trigger = Trigger.AvailableNow()))
      val verdicts = spark.read.parquet(s"$work/b28_verdicts")
      val hconf = org.apache.spark.sql.graft.Bridge.newHadoopConf(spark)
      val base = new org.apache.hadoop.fs.Path(s"$work/b28_state")
      val fs = base.getFileSystem(hconf)
      val lastSnap = fs.listStatus(base).toSeq
        .map(_.getPath.getName).filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong).max
      val carried = spark.read.parquet(s"$work/b28_state/batch=$lastSnap")
      val laws = budgetLaws("B28_budget_stream", verdicts, budgets,
        carried, docArrivals) :+
        Check("B28_budget_stream",
          "carried snapshot bounded by the source cardinality",
          carried.count() == verdicts.select("source").distinct().count(),
          s"snapshot_rows=${carried.count()} sources=${verdicts.select("source").distinct().count()}")
      val r = replay.result("B28_budget_stream", copies, docArrivals, laws)
      results += r
      onLoop(r)
    } finally budgets.unpersist()

    results.toSeq
  }
}
