package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Parsed event (reference InputEvent, Events.kt:3-8). */
final case class ParsedEvent(
    id: String,
    eventType: String,
    timestamp: Long,
    data: Map[String, String])

/** Enriched event (reference ProcessedEvent, Events.kt:10-17).
  * `enrichedData` carries the input event's payload plus the
  * enrichment keys the reference adds (EventProcessorJob.kt:114-116:
  * `original_timestamp`, `processing_pipeline`) — map values are
  * strings here (the reference's Map<String,Any> values are rendered),
  * so downstream consumers of the output stream keep the payload.
  */
final case class ProcessedEvent(
    originalId: String,
    eventType: String,
    processedAt: Long,
    processingDelay: Long,
    enrichedData: Map[String, String],
    sequence: Int)

/** A completed event-sequence pattern for one key: when it started,
  * when it completed, and each stage's event time in pattern order.
  */
final case class PatternMatch(
    userId: String,
    startTs: Long,
    endTs: Long,
    stageTs: Seq[Long])

/** Structured Streaming re-expression of the reference jobs
  * (EventProcessorJob.kt, AggregationJob.kt): `readStream` -> the same
  * declarative transforms as the batch operators -> `writeStream`,
  * with the one genuinely stateful step (per-key sequence numbering)
  * as `flatMapGroupsWithState`.
  *
  * Every transform takes a DataFrame and works identically on batch
  * and streaming inputs, so unit tests drive them with MemoryStream
  * and the batch operators share semantics.
  *
  * Reference-compat note: the reference's Jackson parse accepts `{}`
  * (data-class defaults, EventProducer.kt:42-51 shape 1); graft
  * instead requires a non-null `id` — an explicit, engine-independent
  * validity rule used consistently by the batch pipeline.
  */
object EventStream {

  val inputSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("type", StringType),
    StructField("timestamp", LongType),
    StructField("data", MapType(StringType, StringType))))

  private val parseSchema = StructType(
    inputSchema.fields :+ StructField("_corrupt", StringType))

  /** ParseAndRoute (EventProcessorJob.kt:79-97): JSON parse with the
    * failure branch as a second output instead of a Flink side-output.
    * `raw` must have a string column `value`.
    *
    * Validity = the record parsed without corruption (Spark's
    * columnNameOfCorruptRecord catches both syntax errors and
    * type-corrupt fields, e.g. `"timestamp": "not-a-number"` — which
    * Spark's partial-results mode would otherwise smuggle into the
    * valid stream with a null timestamp) AND a non-null id.
    *
    * The parse is wrapped in [[graft.functions.Opaque]] so each route
    * runs `from_json` once per row, as batch `ep_parse_route_valid`
    * does: without the barrier, predicate pushdown copies the parse
    * into each conjunct of the validity filter (three parses per row
    * on the valid route, two on the error route).
    */
  def parseRoute(raw: DataFrame): (DataFrame, DataFrame) = {
    val parsed = raw.withColumn("p", graft.functions.Opaque.once(
      from_json(col("value"), parseSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt"))))
    val ok = col("p._corrupt").isNull && col("p.id").isNotNull
    val valid = parsed.filter(ok)
      // type coalesces to "" exactly like the reference's InputEvent
      // default (Events.kt:5, `val type: String = ""`): a valid event
      // missing its type field stays VALID with an empty type. Also
      // load-bearing downstream: enrich's replay-stable sort keys on
      // eventType, and a null there NPEs the stateful stage — found
      // live by the LocalPipelineMain end-to-end smoke, whose
      // generator emits exactly this shape ('{"id":"user-1"}').
      .select(col("p.id").as("id"),
        coalesce(col("p.type"), lit("")).as("eventType"),
        coalesce(col("p.timestamp"), lit(0L)).as("timestamp"),
        coalesce(col("p.data"), map()).as("data"))
    val errors = parsed.filter(!ok)
      .select(col("value").as("rawMessage"),
        lit("PARSE_ERROR").as("errorType"),
        lit("unparseable, type-corrupt, or missing id").as("errorMessage"),
        current_timestamp().as("timestamp"))
    (valid, errors)
  }

  /** EnrichValidEvent (EventProcessorJob.kt:99-128): per-key
    * monotonically increasing sequence held in `GroupState` — the
    * direct analog of Flink's keyed ValueState. Events within a
    * micro-batch are ordered by (timestamp, then arrival) so replays
    * are deterministic.
    *
    * Memory note: `events.toSeq.sortBy` buffers ONE key's rows within
    * ONE micro-batch (the same per-key granularity the reference's
    * per-event state loop holds implicitly). A pathologically hot key
    * in a very large trigger interval concentrates that buffer on one
    * task — the mitigation at scale is a shorter trigger (bounds rows
    * per batch) or chunked ordering (sort key-hash prefixes separately
    * and stitch sequences via the state value) if a single key can
    * exceed task memory.
    */
  def enrich(valid: Dataset[ParsedEvent]): Dataset[ProcessedEvent] = {
    import valid.sparkSession.implicits._
    valid.groupByKey(_.id)
      .flatMapGroupsWithState[Int, ProcessedEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: String, events: Iterator[ParsedEvent], state: GroupState[Int]) =>
          var seq = state.getOption.getOrElse(0)
          val now = System.currentTimeMillis()
          // Full tiebreak, not just timestamp: the group iterator's
          // order is NOT replay-stable (shuffle fetch order varies),
          // so same-timestamp events would swap sequence numbers
          // between a partially-committed attempt and its replay.
          // (patternDetect learned the same lesson with eventType.)
          val out = events.toSeq
            .sortBy(e => (e.timestamp, e.eventType,
              e.data.toSeq.sorted.mkString(",")))
            .map { e =>
            seq += 1
            ProcessedEvent(
              originalId = id,
              eventType = e.eventType,
              processedAt = now,
              processingDelay = if (e.timestamp > 0) now - e.timestamp else 0L,
              enrichedData = e.data +
                ("original_timestamp" -> e.timestamp.toString,
                  "processing_pipeline" -> "graft-event-processor"),
              sequence = seq)
          }
          state.update(seq)
          out.iterator
      }
  }

  /** SlidingWindowAggregator (AggregationJob.kt:109-206): watermarked
    * sliding event-time window, total + per-type counts. The
    * reference's 5 s emit cadence maps to the streaming TRIGGER; the
    * window geometry here is 10 min / 5 min so each event lands in
    * exactly 2 windows (state volume stays bounded).
    *
    * Known semantic gap vs the reference: its processing-time timer
    * emits metrics even for windows whose count dropped to zero
    * (AggregationJob.kt:171-177 — an explicit went-to-zero signal);
    * Spark's watermark windows only ever emit windows that contain
    * events. A consumer needing the zero signal should wrap this in
    * [[foreachBatchSink]] and diff each batch's window set against the
    * previous one, emitting synthetic zero rows for windows that
    * disappeared — the batch boundary is the analog of the timer tick.
    */
  def slidingMetrics(processed: DataFrame, eventTypes: Seq[String]): DataFrame = {
    val withTime = processed
      .withColumn("eventTime", timestamp_millis(col("processedAt")))
      .withWatermark("eventTime", "10 minutes")
    withTime
      .groupBy(col("originalId").as("userId"),
        window(col("eventTime"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("totalEventCount"),
        eventTypes.map(t =>
          sum(when(col("eventType") === t, 1L).otherwise(0L)).as(s"n_$t")): _*)
      .select(col("userId") +: col("w.start").as("windowStart") +:
        col("w.end").as("windowEnd") +: col("totalEventCount") +:
        // backtick-quote: event types are data-derived strings, and an
        // unquoted col("n_page.view") would parse the dot as a struct
        // path and fail analysis
        eventTypes.map(t => col(s"`n_${t.replace("`", "``")}`")): _*)
  }

  /** Windowed approximate-distinct metrics via graft's mergeable HLL
    * sketch aggregate ([[graft.functions.HllSketchAgg]]) running under
    * INCREMENTAL execution: per event-type tumbling window, the
    * approximate distinct-user count plus the exact event count.
    *
    * This is the 100 TB streaming-cardinality shape: exact streaming
    * `count(distinct)` would keep every distinct key in the state
    * store; the sketch's state is a fixed 4 KB register array per
    * (type, window) group regardless of user cardinality, merged
    * across micro-batches by the same elementwise max that merges it
    * across partitions — the mergeability property is exactly what
    * incremental aggregation needs. Watermark bounds how long a
    * window's registers stay in the store.
    */
  def approxDistinctMetrics(processed: DataFrame,
      windowLen: String = "10 minutes"): DataFrame =
    processed
      .withColumn("eventTime", timestamp_millis(col("processedAt")))
      .withWatermark("eventTime", windowLen)
      .groupBy(col("eventType"), window(col("eventTime"), windowLen).as("w"))
      .agg(
        graft.functions.HllSketchAgg.approxDistinct(col("originalId"))
          .as("approxUsers"),
        count(lit(1)).as("totalEventCount"))
      .select(col("eventType"), col("w.start").as("windowStart"),
        col("w.end").as("windowEnd"), col("approxUsers"), col("totalEventCount"))

  /** Windowed heavy-hitters metrics via graft's mergeable Misra-Gries
    * sketch ([[graft.functions.FreqSketchAgg]]) under incremental
    * execution: per tumbling window, the top event types with
    * estimated counts. Same 100 TB streaming-cardinality argument as
    * [[approxDistinctMetrics]]: exact per-item counting keeps one
    * state row per distinct item; the sketch holds at most k counters
    * per window regardless of item cardinality, merged across
    * micro-batches by the same counter-merge that combines partitions.
    * With item cardinality <= k the sketch is in its exact regime
    * (true counts — the spec asserts them); beyond k the estimates
    * under-count by at most n/(k+1) (FreqSketchSpec's property).
    */
  def heavyHittersMetrics(processed: DataFrame,
      windowLen: String = "10 minutes", k: Int = 8): DataFrame =
    processed
      .withColumn("eventTime", timestamp_millis(col("processedAt")))
      .withWatermark("eventTime", windowLen)
      .groupBy(window(col("eventTime"), windowLen).as("w"))
      .agg(graft.functions.FreqSketchAgg.topItems(col("eventType"), k).as("top"))
      .select(col("w.start").as("windowStart"), col("w.end").as("windowEnd"),
        explode(col("top")).as("e"))
      .select(col("windowStart"), col("windowEnd"),
        col("e.item").as("item"), col("e.est").as("est"))

  /** Streaming exact dedup: drops events whose `keyCols` were already
    * seen, with state bounded by the watermark
    * (`dropDuplicatesWithinWatermark`) — the streaming counterpart of
    * [[graft.operators.Dedup.exact]]. `eventTimeCol` must be a
    * timestamp column; duplicates arriving within the watermark
    * horizon are suppressed, state for older keys is reclaimed.
    */
  def dedupStream(df: DataFrame, eventTimeCol: String, keyCols: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    df.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Gap-based sessionization on a stream: Spark's native
    * `session_window` (dynamic-gap windows merged by the state store).
    * The batch formulation of the same semantics is
    * [[graft.operators.Temporal.sessionize]].
    */
  def sessionMetrics(processed: DataFrame, gap: String = "30 minutes"): DataFrame =
    processed
      .withColumn("eventTime", timestamp_millis(col("processedAt")))
      .withWatermark("eventTime", gap)
      .groupBy(col("originalId").as("userId"),
        session_window(col("eventTime"), gap).as("w"))
      .agg(count(lit(1)).as("totalEventCount"))
      .select(col("userId"), col("w.start").as("sessionStart"),
        col("w.end").as("sessionEnd"), col("totalEventCount"))

  /** Incremental CEP pattern detection — the streaming counterpart of
    * the batch funnel ([[graft.operators.Patterns]], relaxed
    * "followedBy" contiguity): per key, match `pattern`'s event types
    * in order, each stage strictly after the previous, the whole
    * sequence within `windowMs` of its first stage; emit a
    * [[PatternMatch]] when the final stage lands, then restart (matches
    * never overlap). This is the Flink-CEP-shaped capability expressed
    * as a `flatMapGroupsWithState` state machine.
    *
    * State per key is at most `pattern.size - 1` longs (the open
    * prefix's stage times) — constant-size regardless of stream
    * length, the property that keeps the detector runnable forever. A
    * prefix that outlives its window is discarded the next time the
    * key is seen; at production scale add a state timeout to also
    * reclaim keys that never return. Within a micro-batch events are
    * processed in (timestamp, eventType) order — ParsedEvent carries
    * no per-event id, so the type breaks same-timestamp ties and any
    * remaining ties are between interchangeable events — making
    * replays deterministic; cross-batch late events are the
    * watermark's concern upstream.
    */
  def patternDetect(
      events: Dataset[ParsedEvent],
      pattern: Seq[String],
      windowMs: Long): Dataset[PatternMatch] = {
    require(pattern.nonEmpty, "pattern must name at least one event type")
    import events.sparkSession.implicits._
    events.groupByKey(_.id)
      .flatMapGroupsWithState[Seq[Long], PatternMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: String, evs: Iterator[ParsedEvent], state: GroupState[Seq[Long]]) =>
          var stages = state.getOption.getOrElse(Seq.empty)
          val out = scala.collection.mutable.ListBuffer[PatternMatch]()
          evs.toSeq.sortBy(e => (e.timestamp, e.eventType)).foreach { e =>
            if (stages.nonEmpty && e.timestamp - stages.head > windowMs) {
              stages = Seq.empty // open prefix outlived its window
            }
            val strictlyAfter = stages.isEmpty || e.timestamp > stages.last
            if (e.eventType == pattern(stages.size) && strictlyAfter) {
              stages = stages :+ e.timestamp
              if (stages.size == pattern.size) {
                out += PatternMatch(id, stages.head, stages.last, stages)
                stages = Seq.empty
              }
            }
          }
          if (stages.isEmpty) state.remove() else state.update(stages)
          out.iterator
      }
  }

  /** Stream-STATIC enrichment join: attach a batch dimension table to
    * a stream (user profiles, product catalogs — the lookup-join every
    * production stream runs). Stateless on the stream side: each
    * micro-batch joins against the CURRENT static relation, so a
    * reloaded dimension is picked up at the next trigger without
    * restarting the query; typically a broadcast join (no stream-side
    * shuffle, no state store). Left-outer keeps events whose key has
    * no dimension row (`isDimMissing` flags them for a dead-letter
    * route).
    */
  def enrichStatic(
      stream: DataFrame, dim: DataFrame, key: String): DataFrame = {
    val tagged = dim.withColumn("_dim_present", lit(true))
    stream.join(tagged, Seq(key), "left_outer")
      .withColumn("isDimMissing", col("_dim_present").isNull)
      .drop("_dim_present")
  }

  /** Stream-stream interval join: pair each left event with the right
    * events of the same key whose time falls in
    * [leftTime - lookback, leftTime] — the "purchase joined to the
    * clicks that preceded it" correlation shape. Both sides carry
    * watermarks and the join condition carries the time bound, so the
    * state store retains each side only for watermark + lookback and
    * is garbage-collected past it — the property that keeps a
    * stream-stream join runnable forever at production rates (an
    * unbounded-state stream join dies by memory on day one).
    *
    * Inner join: left rows with no right match in the interval are
    * dropped. Column names of the two inputs must be disjoint apart
    * from being referenced via the l/r aliases in the output.
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      lookback: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame =
    intervalJoinImpl(left, right, key, leftTime, rightTime,
      lookback, watermark, "inner")

  /** LEFT OUTER stream-stream interval join: like [[intervalJoin]],
    * but a left event with NO right match in its interval is still
    * emitted (right columns null) once the watermark proves no
    * matching right event can arrive anymore — the "purchase with no
    * preceding click = organic conversion" attribution shape, where
    * the absence of the match is itself the signal. Same bounded
    * state-retention property as the inner variant: both watermarks
    * plus the time-bound condition let the state store GC each side
    * past watermark + lookback; the null-padded emission happens at
    * that same eviction boundary (it is delayed, not unbounded).
    */
  def intervalJoinOuter(
      left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      lookback: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame =
    intervalJoinImpl(left, right, key, leftTime, rightTime,
      lookback, watermark, "leftOuter")

  /** One definition of the interval condition + dual watermarks for
    * both join types, so a bound fix can never apply to only one.
    */
  private def intervalJoinImpl(
      left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      lookback: String, watermark: String, joinType: String): DataFrame = {
    val l = left.withWatermark(leftTime, watermark).alias("l")
    val r = right.withWatermark(rightTime, watermark).alias("r")
    l.join(r,
      expr(s"l.$key = r.$key AND " +
        s"r.$rightTime BETWEEN l.$leftTime - INTERVAL $lookback AND l.$leftTime"),
      joinType)
  }

  /** EventProducer (EventProducer.kt:28-51) as a rate-source stream:
    * 2 rows/s default, 50 users, 5 types, 5% malformed, same
    * md5-derived distributions as the batch `producer_datagen`.
    * Emits raw JSON strings in column `value`.
    */
  def generator(spark: SparkSession, rowsPerSecond: Int = 2): DataFrame = {
    val raw = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
    generatorBody(raw.select(col("value").as("seq"),
      unix_millis(col("timestamp")).as("ts_ms")))
  }

  /** Pure generator transform over (seq, ts_ms) — delegates to the
    * single shared producer definition
    * ([[graft.operators.EventPipeline.producerColumns]]) so batch and
    * streaming payloads are byte-identical.
    */
  def generatorBody(seeded: DataFrame): DataFrame =
    graft.operators.EventPipeline.producerColumns(seeded)
      .select(col("seq"), col("raw").as("value"))

  // -- Connector builders (cluster parity with k8s/topics/*.yaml) ----

  /** Kafka source reader mirroring EventProcessorJob.getConnectors
    * (EventProcessorJob.kt:47-77). Not `load()`ed here: the connector
    * jar ships on the cluster, not in this container.
    *
    * The reference's consumer group maps to `groupIdPrefix`, NOT
    * `kafka.group.id`: Spark manages offsets itself and mints a
    * unique group per query under the prefix, whereas pinning
    * kafka.group.id makes two concurrent queries over the same topic
    * (e.g. EventProcessorMain's valid + error routes) interfere and
    * each see only part of the partitions — Kafka group management
    * would split the subscription between them. The prefix keeps the
    * reference's name visible to broker ACLs/monitoring.
    */
  def kafkaSource(
      spark: SparkSession,
      bootstrap: String,
      topic: String,
      group: String = "graft-event-processor"): DataStreamReader =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("groupIdPrefix", group)
      .option("startingOffsets", "earliest")

  /** Kafka sink for a stream with a string `value` column. */
  def kafkaSink[T](
      ds: Dataset[T],
      bootstrap: String,
      topic: String,
      checkpoint: String): DataStreamWriter[T] =
    ds.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** Keyed UPSERT sink (streaming materialized view): each micro-batch
    * merges into a parquet target by key — new rows win, unmatched
    * existing rows survive — the foreachBatch analog of a compacted
    * Kafka topic / Flink upsert sink, and the streaming half of the
    * batch `ep_latest_state` semantics.
    *
    * The per-key winner is the `orderCol` max across BOTH the
    * micro-batch and the existing snapshot (union, then one window
    * pick per key) — a late out-of-order row can never regress the
    * view below what it already shows, matching the batch
    * `ep_latest_state` semantics. Ties are impossible when orderCol
    * is unique per key (e.g. a (ts, id) struct).
    *
    * Swap protocol (crash-safe at every step, merge idempotent under
    * batch replay): write the merged snapshot to `<path>.tmp-<batch>`,
    * rename the current target to `<path>.old-<batch>` (the backup),
    * rename tmp into place, then prune older backups. A crash between
    * the two renames leaves no target but a complete backup, and the
    * merge READS from the newest backup whenever the target is
    * missing — so replaying the batch reconstructs the exact same
    * snapshot instead of silently rebuilding the view from one
    * micro-batch. Renames are atomic on HDFS-like filesystems; on
    * object stores, and for concurrent readers generally, the
    * production answer is a transactional table format's MERGE — this
    * body is the plain-parquet analog.
    *
    * Concurrency contract, machine-checked both ways: writer bodies
    * SERIALIZED in time converge to per-key last-writer-wins with no
    * lost keys (EventStreamSpec "two interleaved upsert writers");
    * bodies OVERLAPPING in time lose the first writer's update — a
    * real hazard UpsertOverlapSpec DEMONSTRATES, along with the
    * invariant that bounds it: the swap is atomic, so the view after
    * any interleaving is some single writer's complete consistent
    * merge (lost update, never a torn/corrupt mix). Closing the lost-
    * update case needs a table format's optimistic commit; jar-blocked
    * here.
    */
  def upsertSink[T](
      ds: Dataset[T],
      keyCols: Seq[String],
      orderCol: String,
      path: String,
      checkpoint: String): DataStreamWriter[T] =
    foreachBatchSink(ds, checkpoint) { (batch, batchId) =>
      upsertBatch(batch.toDF(), keyCols, orderCol, path, batchId)
    }

  /** Backup snapshots of an upsert target, oldest to newest; the
    * newest is the recovery source for a swap torn between its two
    * renames. Nothing that could still serve as a recovery source is
    * ever deleted before the new target is in place.
    * Suffix = `<batchId>-<millis>`: batchId is replay-stable and
    * strictly increasing ACROSS restarts (nanoTime's origin is
    * arbitrary per JVM and could order a restart's backup older);
    * millis breaks the tie between replayed attempts of one batch,
    * and also keeps the rename target fresh if the same batch
    * replays after a crash between swap and prune.
    * Only names the sink writes count, for recovery and prune alike:
    * any other `<path>.old-*` (an operator's `.old-manual` copy) is
    * neither read nor deleted.
    */
  private def upsertBackups(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[org.apache.hadoop.fs.Path] = {
    val prefix = new org.apache.hadoop.fs.Path(path).getName + ".old-"
    fs.globStatus(new org.apache.hadoop.fs.Path(s"$path.old-*"))
      .toSeq.map(_.getPath)
      .flatMap { p =>
        p.getName.stripPrefix(prefix) match {
          case UpsertBackup(b, t) => Some(p -> (b.toLong, t.toLong))
          // legacy single-number (nanoTime) suffix: its magnitude
          // (~1e12) would outsort every (batchId, millis) tuple and
          // recovery would prefer the STALE pre-upgrade snapshot —
          // pin legacy backups below all new-format ones instead
          // (among themselves they keep their original order)
          case UpsertLegacyBackup(t) => Some(p -> (Long.MinValue, t.toLong))
          case _ => None
        }
      }
      .sortBy(_._2).map(_._1)
  }

  // at most 18 digits, so every accepted number fits a Long
  private val UpsertBackup = """(\d{1,18})-(\d{1,18})""".r
  private val UpsertLegacyBackup = """(\d{1,18})""".r

  /** One upsert merge, callable from a batch job too (the MERGE-into-
    * materialized-view emulation without a table-format jar): resolve
    * the prior snapshot (target, else newest backup), merge, swap.
    */
  def upsertBatch(batch: DataFrame, keyCols: Seq[String], orderCol: String,
      path: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prior: Option[String] =
      if (fs.exists(new org.apache.hadoop.fs.Path(path))) Some(path)
      else upsertBackups(fs, path).lastOption.map(_.toString) // torn swap
    upsertMergeSwap(batch, keyCols, orderCol, path, batchId,
      prior.map(spark.read.parquet(_)))
  }

  /** The merge/swap body with the PRIOR SNAPSHOT as an explicit
    * argument — the seam UpsertOverlapSpec uses to demonstrate the
    * overlapping-writer hazard deterministically (two bodies pinned to
    * the same prior). Production callers go through [[upsertBatch]],
    * which resolves the prior from disk at body start — the read point
    * whose serialization the safety contract requires.
    */
  private[graft] def upsertMergeSwap(batch: DataFrame,
      keyCols: Seq[String], orderCol: String, path: String, batchId: Long,
      prior: Option[DataFrame]): Unit = {
    val spark = batch.sparkSession
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val candidates = prior match {
      case Some(p) => batch.unionByName(p)
      case None => batch
    }
    val merged = candidates
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*).orderBy(col(orderCol).desc)))
      .filter(col("_rn") === 1).drop("_rn")
    val tmp = new org.apache.hadoop.fs.Path(s"$path.tmp-$batchId")
    merged.write.mode("overwrite").parquet(tmp.toString) // reads prior here
    val backup = new org.apache.hadoop.fs.Path(
      s"$path.old-$batchId-${System.currentTimeMillis()}")
    if (fs.exists(target) && !fs.rename(target, backup)) {
      throw new java.io.IOException(
        s"upsertSink: backup rename $target -> $backup failed")
    }
    if (!fs.rename(tmp, target)) {
      // first-ever batch has no backup — don't mask the IOException
      // with a NoSuchElementException from .last
      throw new java.io.IOException(
        s"upsertSink: swap rename $tmp -> $target failed; " +
          s"current snapshot preserved at " +
          upsertBackups(fs, path).lastOption.map(_.toString).getOrElse("<none>"))
    }
    // only now are ALL backups stale (the target supersedes them)
    upsertBackups(fs, path).foreach(fs.delete(_, true))
  }

  /** foreachBatch sink: hands each micro-batch to an arbitrary batch
    * writer (e.g. [[graft.sources.Formats]]) — the escape hatch for
    * sinks without a native streaming writer (JDBC, multi-table
    * fan-out, merge-on-write).
    */
  def foreachBatchSink[T](
      ds: Dataset[T],
      checkpoint: String)(write: (Dataset[T], Long) => Unit): DataStreamWriter[T] =
    ds.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch(write)

  /** Bounded historical backfill: run a streaming transform over ALL
    * files already present in a parquet directory under
    * `Trigger.AvailableNow` — ingest proceeds in micro-batches of at
    * most `maxFilesPerTrigger` files (bounding per-trigger memory and
    * state-update volume no matter how much history accumulated), the
    * query STOPS when the backlog is drained, and the checkpoint it
    * leaves is one a live continuation of the same pipeline resumes
    * from. This is how a streaming materialized view bootstraps from
    * months of history without either (a) a giant single batch that
    * OOMs the state store or (b) a separate batch codepath whose
    * semantics can drift from the streaming one: SAME transform, SAME
    * checkpoint lineage, bounded batches.
    *
    * Stateful transforms keep their state ACROSS backfill
    * micro-batches (a key's per-event sequence keeps counting when its
    * events span ingest batches) — spec-proven in AvailableNowSpec.
    *
    * `trigger` exists for the LIVE CONTINUATION: after the
    * AvailableNow run stops, calling this again with the same source/
    * checkpoint and `Trigger.ProcessingTime(...)` resumes from the
    * backfill's offsets AND state — already-ingested files are never
    * reprocessed and per-key state carries over (spec-proven). That
    * the continuation is the same builder with a different trigger is
    * the point of the design: one pipeline, one lineage.
    */
  def backfill(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      transform: DataFrame => DataFrame,
      outDir: String,
      checkpoint: String,
      maxFilesPerTrigger: Int = 4,
      trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery = {
    // the source is not spread (no [[BatchPar]]): each micro-batch
    // arrives as up to maxFilesPerTrigger scan partitions, and the
    // stateful transforms this starter runs re-shuffle by their
    // grouping key before their per-key work
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
    transform(src).writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .start()
  }

  /** Parquet file sink (the local stand-in for the Kafka sink). */
  def parquetSink[T](
      ds: Dataset[T],
      path: String,
      checkpoint: String,
      triggerMs: Long = 5000L): DataStreamWriter[T] =
    ds.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(triggerMs))
}
