package graft.jobs

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.streaming.{EventStream, ParsedEvent}

/** Cluster entrypoints for the k8s manifests (k8s/graft-job.yaml) —
  * the `mainClass` of each SparkApplication document. Each main is
  * deliberately THIN: argument parsing plus wiring of the already
  * spec-covered [[EventStream]] builders; the testable transform
  * bodies live here as pure DataFrame functions so the sandbox (which
  * has no Kafka connector jar) exercises everything except the final
  * `format("kafka").load()/start()`, which resolves on the cluster
  * where `deps.packages` ships the connector.
  */
private[graft] object Jobs {

  /** `--key value` pairs -> map, failing loudly on stragglers so a
    * typo'd manifest argument list surfaces at submit, not as a
    * silently-defaulted topic name.
    */
  def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0,
      s"expected --key value pairs, got odd argument list: ${args.mkString(" ")}")
    args.grouped(2).map {
      case Array(k, v) =>
        require(k.startsWith("--"), s"expected --key, got '$k'")
        // a value that looks like a flag is a dropped value upstream
        // ("--input-topic --output-topic out" must not subscribe to a
        // topic literally named "--output-topic")
        require(!v.startsWith("--"),
          s"argument $k is missing its value (got flag '$v')")
        k.stripPrefix("--") -> v
    }.toMap
  }

  def arg(m: Map[String, String], key: String): String =
    m.getOrElse(key, throw new IllegalArgumentException(
      s"missing required argument --$key"))

  /** Per-query checkpoint dir under the session's configured base
    * (`spark.sql.streaming.checkpointLocation`): Spark's own fallback
    * for that conf mints a RANDOM subdir per query — useless for
    * recovery — so each named query pins its own stable child.
    */
  def checkpoint(spark: SparkSession, query: String): String = {
    val base = spark.conf.getOption("spark.sql.streaming.checkpointLocation")
      .getOrElse(throw new IllegalArgumentException(
        "spark.sql.streaming.checkpointLocation must point at durable " +
          "shared storage (see k8s/graft-job.yaml sparkConf)"))
    s"${base.stripSuffix("/")}/$query"
  }
}

/** Event processor (reference EventProcessorJob.kt:58-78): Kafka
  * `input-events` -> parseRoute -> enrich -> JSON to the valid/error
  * topics. Manifest: k8s/graft-job.yaml `graft-event-processor`.
  *
  * Two queries, one topic, read twice — deliberately. Spark has no
  * Flink-style side outputs: one streaming query feeds one sink, and
  * the error branch cannot ride the valid query's foreachBatch
  * because [[EventStream.enrich]]'s GroupState only persists across
  * micro-batches inside a genuine streaming query (re-running the
  * stateful step on foreachBatch's batch DataFrames would reset
  * per-key sequences every trigger). So the valid route carries the
  * stateful pipeline once, the error route re-parses cheaply
  * (parse + filter, stateless), and [[EventStream.kafkaSource]]'s
  * groupIdPrefix keeps the two queries' consumer groups disjoint so
  * they never split the subscription between them.
  */
object EventProcessorMain {

  /** The testable body: raw strings in `value` -> (valid JSON rows,
    * error JSON rows), each a single `value` string column ready for
    * a Kafka sink.
    */
  def pipeline(raw: DataFrame): (DataFrame, DataFrame) = {
    import raw.sparkSession.implicits._
    val (valid, errors) = EventStream.parseRoute(raw)
    val processed = EventStream.enrich(valid.as[ParsedEvent])
    (processed.select(to_json(struct(col("*"))).as("value")),
      errors.select(to_json(struct(col("*"))).as("value")))
  }

  def main(args: Array[String]): Unit = {
    val a = Jobs.parseArgs(args)
    val spark = graft.GraftRuntime.submitted("graft-event-processor")
    val bootstrap = Jobs.arg(a, "kafka-bootstrap-servers")
    val raw = EventStream.kafkaSource(spark, bootstrap,
        Jobs.arg(a, "input-topic"), Jobs.arg(a, "consumer-group"))
      .load().selectExpr("CAST(value AS STRING) AS value")
    val (validJson, errorJson) = pipeline(raw)
    EventStream.kafkaSink(validJson, bootstrap,
      Jobs.arg(a, "output-topic"), Jobs.checkpoint(spark, "valid")).start()
    EventStream.kafkaSink(errorJson, bootstrap,
      Jobs.arg(a, "error-topic"), Jobs.checkpoint(spark, "errors")).start()
    spark.streams.awaitAnyTermination()
  }
}

/** Aggregation job (reference AggregationJob.kt:213-236): Kafka
  * `output-results` -> 10-min sliding window / 5-s emit ->
  * `aggregated-metrics`. Manifest: k8s/graft-job.yaml
  * `graft-aggregation`.
  */
object AggregationMain {

  /** The reference's per-type counters (AggregationJob.kt:118). */
  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "login", "logout")

  /** The testable body: ProcessedEvent JSON strings in `value` ->
    * windowed metric rows serialized back to a `value` JSON column.
    */
  def pipeline(raw: DataFrame): DataFrame = {
    val schema = Encoders.product[graft.streaming.ProcessedEvent].schema
    val processed = raw
      .select(from_json(col("value"), schema).as("p"))
      .filter(col("p.originalId").isNotNull)
      .select(col("p.*"))
    EventStream.slidingMetrics(processed, EventTypes)
      .select(to_json(struct(col("*"))).as("value"))
  }

  def main(args: Array[String]): Unit = {
    val a = Jobs.parseArgs(args)
    val spark = graft.GraftRuntime.submitted("graft-aggregation")
    val bootstrap = Jobs.arg(a, "kafka-bootstrap-servers")
    val raw = EventStream.kafkaSource(spark, bootstrap,
        Jobs.arg(a, "input-topic"), Jobs.arg(a, "consumer-group"))
      .load().selectExpr("CAST(value AS STRING) AS value")
    EventStream.kafkaSink(pipeline(raw), bootstrap,
        Jobs.arg(a, "output-topic"), Jobs.checkpoint(spark, "metrics"))
      // update + 5 s trigger = the reference's processing-time emit
      // cadence (each refreshed window appended to the topic)
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .start()
    spark.streams.awaitAnyTermination()
  }
}

/** The FULL reference pipeline as ONE local-files entrypoint (r14
  * verdict #7b): generator payload -> parse/route/enrich (the
  * EventProcessorMain body) -> watermarked sliding metrics (the
  * AggregationMain body) -> last-writer-wins upsert of per-user
  * latest state — Kafka topics replaced by text-file directories,
  * every transform the SAME spec-covered builder the cluster mains
  * wire, each stage a genuine checkpointed streaming query under
  * `Trigger.AvailableNow` with `maxFilesPerTrigger` forcing MULTIPLE
  * micro-batches (so the enrich GroupState's cross-batch sequence
  * continuity is exercised, not just one big batch).
  *
  * Because [[graft.streaming.EventStream.enrich]] stamps
  * `processedAt` from the wall clock, every real event lands "now"
  * and no watermark would ever close their windows inside the run —
  * so after the processor drains, ONE synthetic flush event 40
  * minutes in the future is appended to the valid stream (the
  * EventStreamSpec trick, the file-world analog of the reference's
  * processing-time timer tick): its watermark closes every real
  * window while its own stay open and unemitted.
  *
  * Self-checking: the summary asserts (1) routing conservation
  * (valid + errors = generated), (2) the streamed metric rows equal a
  * BATCH recomputation of the same slidingMetrics over the valid
  * events — exactly the windows the flush watermark closed, no more,
  * none missing, every counter equal, (3) the upsert store holds one
  * row per user whose `sequence` equals that user's valid-event
  * count (the cross-batch GroupState law through the last-writer-
  * wins MERGE). LocalPipelineSpec runs it in `sbt test`; the main
  * prints a JSON summary and exits non-zero on any violation.
  */
object LocalPipelineMain {

  final case class Summary(generated: Long, valid: Long, errors: Long,
    metricsRows: Long, stateRows: Long,
    checks: Seq[(String, Boolean, String)])

  private val FlushId = "watermark-flush"

  def run(spark: SparkSession, base: String, rows: Long): Summary = {
    import org.apache.spark.sql.streaming.Trigger
    val dir = base.stripSuffix("/")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

    // stage 0 — batch datagen of the byte-identical producer payload
    // (generatorBody == the streaming rate generator's transform);
    // 6 files + maxFilesPerTrigger=2 -> three processor micro-batches
    val seeded = spark.range(rows)
      .select(col("id").as("seq"), (col("id") * 500L).as("ts_ms"))
    EventStream.generatorBody(seeded).select("value")
      .repartition(6).write.mode("overwrite").text(s"$dir/input")

    // stage 1 — parse/route/enrich through the EventProcessorMain body
    val rawSchema = StructType(Seq(StructField("value", StringType)))
    val raw = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 2).text(s"$dir/input")
    val (validJson, errorJson) = EventProcessorMain.pipeline(raw)
    val q1 = validJson.writeStream.format("text")
      .option("path", s"$dir/valid")
      .option("checkpointLocation", s"$dir/ckpt/valid")
      .trigger(Trigger.AvailableNow()).start()
    val q2 = errorJson.writeStream.format("text")
      .option("path", s"$dir/errors")
      .option("checkpointLocation", s"$dir/ckpt/errors")
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(); q2.awaitTermination()

    val pSchema = Encoders.product[graft.streaming.ProcessedEvent].schema
    def readValid() = spark.read.schema(rawSchema).text(s"$dir/valid")
      .select(from_json(col("value"), pSchema).as("p")).select(col("p.*"))
    val maxProcessed = readValid().agg(max("processedAt")).head().getLong(0)

    // the flush ticks (the EventStreamSpec trick, file-world analog of
    // the reference's processing-time timer): flush #1 (+40 min)
    // advances the watermark past every real window, but Spark's
    // watermark update lands at the END of the batch that read it and
    // closed windows emit in the NEXT data batch — under AvailableNow
    // the query stops first. So a SECOND flush (+80 min) is appended
    // between two AvailableNow runs of the same checkpointed query:
    // run B's data batch carries run A's advanced watermark and emits
    // the closed real windows (and the restart itself exercises the
    // backfill -> continuation checkpoint lineage). Flush #1's own
    // windows close under flush #2's watermark — they aggregate under
    // userId = FlushId and are excluded from the comparison.
    // The downstream stages read $dir/agg_in, a PLAIN text copy of the
    // committed valid output, because of two file-source subtleties
    // found live while building this smoke:
    //  - the valid dir is a streaming FILE SINK, whose _spark_metadata
    //    log makes any batch-appended flush file INVISIBLE to readers;
    //  - a separate flush dir unioned in as a second source advances
    //    the watermark in the FIRST micro-batch (sources drain
    //    together), so every later valid batch is dropped as late
    //    data — only the first batch's users ever aggregated.
    // One plain directory keeps mtime order authoritative: real files
    // first, each flush strictly after (the 1.1 s sleep covers
    // second-granularity filesystem timestamps).
    import spark.implicits._
    spark.read.schema(rawSchema).text(s"$dir/valid")
      .write.mode("overwrite").text(s"$dir/agg_in")
    def appendFlush(ts: Long, seqNo: Int): Unit = {
      Thread.sleep(1100)
      Seq(graft.streaming.ProcessedEvent(FlushId, "login", ts, 0L,
        Map.empty[String, String], seqNo))
        .toDF().select(to_json(struct(col("*"))).as("value"))
        .write.mode("append").text(s"$dir/agg_in")
    }

    // stage 2 — watermarked sliding metrics through AggregationMain's
    // body, appended as finalized windows only; stage 3 — per-user
    // latest state through the last-writer-wins upsert sink
    // (orderCol = the enrich sequence). Both run twice across the
    // flush appends, resuming from their checkpoints.
    def runAggAndState(): Unit = {
      def aggIn() = spark.readStream.schema(rawSchema)
        .option("maxFilesPerTrigger", 2).text(s"$dir/agg_in")
      val q3 = AggregationMain.pipeline(aggIn())
        .writeStream.format("text")
        .option("path", s"$dir/metrics")
        .option("checkpointLocation", s"$dir/ckpt/metrics")
        .trigger(Trigger.AvailableNow()).start()
      val processedStream = aggIn()
        .select(from_json(col("value"), pSchema).as("p")).select(col("p.*"))
      val q4 = EventStream.upsertSink(processedStream, Seq("originalId"),
        "sequence", s"$dir/state", s"$dir/ckpt/state")
        .trigger(Trigger.AvailableNow()).start()
      q3.awaitTermination(); q4.awaitTermination()
    }
    appendFlush(maxProcessed + 40L * 60 * 1000, seqNo = 1)
    runAggAndState()
    appendFlush(maxProcessed + 80L * 60 * 1000, seqNo = 2)
    runAggAndState()

    // ---- self-checks ----
    val generated = spark.read.schema(rawSchema).text(s"$dir/input").count()
    val valid = readValid().count()
    val errors = spark.read.schema(rawSchema).text(s"$dir/errors").count()
    val batchMetrics = EventStream.slidingMetrics(readValid(),
      AggregationMain.EventTypes).persist()
    val streamed = spark.read.schema(rawSchema).text(s"$dir/metrics")
      .select(from_json(col("value"), batchMetrics.schema).as("m"))
      .select(col("m.*"))
      // flush #1's own windows legitimately emit (closed by flush #2's
      // watermark) but aggregate under the flush user — out of scope
      .filter(col("userId") =!= FlushId).persist()
    val metricsRows = streamed.count()
    // streamed == batch, exactly: the flush watermark closed every
    // real window (all real processedAt are within seconds, 30 min
    // before the watermark), and the flush row's own windows must be
    // absent
    val keyCols = Seq("userId", "windowStart", "windowEnd")
    // null-safe value compare (r15 advice): =!= yields NULL when a
    // counter is NULL on exactly one side of a matched key, and the
    // filter would then NOT count the row — a one-sided NULL counter
    // must read as a mismatch, not pass silently.
    val mismatched = streamed.join(batchMetrics, keyCols, "full_outer")
      .filter(streamed.columns.filterNot(keyCols.contains).map(c =>
        !(streamed(c) <=> batchMetrics(c))).reduce(_ || _) ||
        streamed(keyCols.head).isNull || batchMetrics(keyCols.head).isNull)
      .count()
    val state = spark.read.parquet(s"$dir/state").persist()
    val stateRows = state.count()
    val users = readValid().groupBy("originalId")
      .agg(count(lit(1)).as("n"), max("sequence").as("mx"))
    val badState = state.select(col("originalId"), col("sequence"))
      .filter(col("originalId") =!= FlushId)
      .join(users, Seq("originalId"), "full_outer")
      .filter(col("sequence").isNull || col("n").isNull ||
        col("sequence") =!= col("n") || col("mx") =!= col("n")).count()
    streamed.unpersist(); batchMetrics.unpersist(); state.unpersist()
    val checks = Seq(
      ("routing conservation: valid + errors = generated",
        valid + errors == generated,
        s"valid=$valid errors=$errors generated=$generated"),
      ("streamed metrics equal the batch recomputation over closed windows",
        metricsRows > 0 && mismatched == 0,
        s"streamed=$metricsRows mismatched_or_unmatched=$mismatched"),
      ("latest-state upsert: one row per user, sequence = that user's event count",
        stateRows > 0 && badState == 0,
        s"state_rows=$stateRows violations=$badState"))
    Summary(generated, valid, errors, metricsRows, stateRows, checks)
  }

  def main(args: Array[String]): Unit = {
    val a = Jobs.parseArgs(args)
    val dir = a.getOrElse("dir", "/tmp/graft_local_pipeline")
    val rows = a.get("rows").map(_.toLong).getOrElse(4000L)
    val cpus = a.getOrElse("cpus", "8").toInt
    val spark = graft.GraftRuntime.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val s = run(spark, dir, rows)
    val checksJson = s.checks.map { case (inv, pass, det) =>
      s"""{"invariant":"$inv","pass":$pass,"detail":"$det"}"""
    }.mkString("[", ",", "]")
    println(s"""{"generated":${s.generated},"valid":${s.valid},"errors":${s.errors},"metrics_rows":${s.metricsRows},"state_rows":${s.stateRows},"n_failed":${s.checks.count(!_._2)},"checks":$checksJson}""")
    spark.stop()
    if (s.checks.exists(!_._2)) sys.exit(1)
  }
}

/** Event producer (reference EventProducer.kt:28-51 /
  * k8s/producer/event-producer.yaml): rate source -> the shared
  * producer payload -> `input-events`. Manifest: k8s/graft-job.yaml
  * `graft-event-producer`.
  */
object ProducerMain {

  def main(args: Array[String]): Unit = {
    val a = Jobs.parseArgs(args)
    val spark = graft.GraftRuntime.submitted("graft-event-producer")
    val rps = a.get("rows-per-second").map(_.toInt).getOrElse(2)
    EventStream.kafkaSink(
        EventStream.generator(spark, rps).select(col("value")),
        Jobs.arg(a, "kafka-bootstrap-servers"),
        Jobs.arg(a, "topic"), Jobs.checkpoint(spark, "producer"))
      .start()
    spark.streams.awaitAnyTermination()
  }
}
