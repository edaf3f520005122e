package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.jobs.{AggregationMain, EventProcessorMain}
import graft.streaming.{EventStream, ProcessedEvent}

/** The `events` workload: flink-tank's own job, streamed.
  *
  * Phase 1 drains a fixed seeded backlog of producer payload files
  * through `EventProcessorMain.pipeline` (valid and error routes, one
  * file per micro-batch), then `AggregationMain.pipeline` and
  * `EventStream.upsertSink` over the processed stream, composed the way
  * `LocalPipelineMain` composes them (text directories in place of
  * Kafka topics, two watermark flush events to close the windows).
  * Phase 2, in traced runs only, feeds the processor open loop from one
  * feeder thread at a fixed rate; each event's `timestamp` is its due
  * time, so latency is measured from when it was due, not from when the
  * feeder got to it.
  *
  * Phase 1 runs `warmups` times untimed, then `drains` times, over the
  * same backlog, each time into fresh sinks and checkpoints.
  *
  * Every drain is checked against LocalPipelineMain's conservation
  * laws; the counts of each violation are returned, none dropped.
  */
object Events {
  val RawSchema: StructType = StructType(Seq(StructField("value", StringType)))
  private val PSchema = Encoders.product[ProcessedEvent].schema
  private val FlushId = "watermark-flush"
  /** Backlog event time origin: 2024-01-01, one event every 500 ms. */
  private val BacklogTs0 = 1704067200000L

  /** First producer `seq` of a seed: seeds own disjoint seq ranges, so
    * the producer's hash-derived users, types and malformed rows differ.
    */
  def seqBase(seed: Long): Long = seed * 1000000000L

  /** Producer payload for seqs [from, from + n), split into segments of
    * `sizes`: line i of segment k has event time ts0_k + i * stepMs_k.
    */
  def payload(spark: SparkSession, from: Long, n: Long,
      timing: Seq[(Long, Double)], sizes: Seq[Int]): Array[String] = {
    import spark.implicits._
    val starts = sizes.scanLeft(0L)(_ + _)
    val offset = col("id") - from
    val ts = timing.zip(starts.zip(starts.tail)).foldRight(lit(null).cast("long")) {
      case (((ts0, step), (lo, hi)), rest) =>
        when(offset < hi, lit(ts0) + ((offset - lo) * step).cast("long")).otherwise(rest)
    }
    EventStream.generatorBody(spark.range(from, from + n)
        .select(col("id").as("seq"), ts.as("ts_ms")))
      .orderBy("seq").select("value").as[String].collect()
  }

  /** `lines` as `files` text files, mtimes ascending so the file source
    * takes them in order.
    */
  def writeFiles(dir: String, lines: Array[String], files: Int): Unit = {
    new File(dir).mkdirs()
    val per = (lines.length + files - 1) / files
    val base = System.currentTimeMillis() - 3600000L
    lines.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val f = Paths.get(dir, f"part-$i%05d.txt")
      Files.writeString(f, chunk.mkString("", "\n", "\n"))
      f.toFile.setLastModified(base + i * 1000L)
    }
  }

  private def progress(name: String, q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.map { p =>
      Map("query" -> name, "batch" -> p.batchId,
        "ts_ms" -> Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state" -> p.stateOperators.toSeq.map(s => Map(
          "rows" -> s.numRowsTotal, "bytes" -> s.memoryUsedBytes,
          "update_ms" -> s.allUpdatesTimeMs, "commit_ms" -> s.commitTimeMs,
          "dropped" -> s.numRowsDroppedByWatermark)))
    }

  private def processor(raw: DataFrame, dir: String, trigger: Option[Trigger]): (StreamingQuery, StreamingQuery) = {
    val (validJson, errorJson) = EventProcessorMain.pipeline(raw)
    def sink(df: DataFrame, route: String) = {
      val w = df.writeStream.format("text")
        .option("path", s"$dir/$route")
        .option("checkpointLocation", s"$dir/ckpt/$route")
      trigger.fold(w)(w.trigger).start()
    }
    (sink(validJson, "valid"), sink(errorJson, "errors"))
  }

  private def readValid(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(RawSchema).text(s"$dir/valid")
      .select(from_json(col("value"), PSchema).as("p")).select(col("p.*"))

  /** Append one flush event to `agg_in`, dated after every file there. */
  private def appendFlush(spark: SparkSession, dir: String, ts: Long, seqNo: Int): Unit = {
    import spark.implicits._
    val aggIn = new File(s"$dir/agg_in")
    def dataFiles = aggIn.listFiles().filter(f => f.getName.startsWith("part-")).toSet
    val before = dataFiles
    Seq(ProcessedEvent(FlushId, "login", ts, 0L, Map.empty[String, String], seqNo))
      .toDF().select(to_json(struct(col("*"))).as("value"))
      .write.mode("append").text(aggIn.getPath)
    val latest = before.map(_.lastModified).max
    (dataFiles -- before).foreach(_.setLastModified(latest + 2000L))
  }

  /** One drain of the backlog in `dir/input`: stage times and progress. */
  def drain(spark: SparkSession, tracer: Tracer, dir: String,
      cores: Int): Map[String, Any] = {
    val prog = mutable.ArrayBuffer.empty[Map[String, Any]]
    val raw = spark.readStream.schema(RawSchema).option("maxFilesPerTrigger", 1)
      .text(s"$dir/input")
    val p0 = System.nanoTime()
    val (c0, j0) = Harness.cpuS
    tracer.span("processor", "jobs") {
      val (q1, q2) = processor(raw, dir, Some(Trigger.AvailableNow()))
      q1.awaitTermination(); q2.awaitTermination()
      prog ++= progress("valid", q1) ++ progress("errors", q2)
    }
    val processorS = (System.nanoTime() - p0) / 1e9
    val (c1, j1) = Harness.cpuS

    // plain copy of the committed valid output: the file sink's
    // metadata log would hide batch-appended flush files from readers
    spark.read.schema(RawSchema).text(s"$dir/valid").write.text(s"$dir/agg_in")
    val maxProcessed = readValid(spark, dir).agg(max("processedAt")).head().getLong(0)
    // (wall, work CPU, JIT CPU) seconds of one aggregation + upsert run
    def aggregate(): (Double, Double, Double) = {
      val a0 = System.nanoTime()
      val (c0, j0) = Harness.cpuS
      tracer.span("aggregation", "jobs") {
        def aggIn() = spark.readStream.schema(RawSchema)
          .option("maxFilesPerTrigger", cores).text(s"$dir/agg_in")
        val q3 = AggregationMain.pipeline(aggIn()).writeStream.format("text")
          .option("path", s"$dir/metrics")
          .option("checkpointLocation", s"$dir/ckpt/metrics")
          .trigger(Trigger.AvailableNow()).start()
        val processed = aggIn()
          .select(from_json(col("value"), PSchema).as("p")).select(col("p.*"))
        val q4 = EventStream.upsertSink(processed, Seq("originalId"), "sequence",
            s"$dir/state", s"$dir/ckpt/state")
          .trigger(Trigger.AvailableNow()).start()
        q3.awaitTermination(); q4.awaitTermination()
        prog ++= progress("metrics", q3) ++ progress("upsert", q4)
      }
      val (c1, j1) = Harness.cpuS
      ((System.nanoTime() - a0) / 1e9, c1 - c0, j1 - j0)
    }
    // flush #1 closes every real window; the closed windows emit in the
    // next run's data batch, which flush #2 provides
    appendFlush(spark, dir, maxProcessed + 40L * 60 * 1000, seqNo = 1)
    val agg1 = aggregate()
    appendFlush(spark, dir, maxProcessed + 80L * 60 * 1000, seqNo = 2)
    val agg2 = aggregate()

    Map("processor_s" -> processorS, "aggregation_s" -> (agg1._1 + agg2._1),
      "cpu_s" -> (c1 - c0 + agg1._2 + agg2._2), "jit_s" -> (j1 - j0 + agg1._3 + agg2._3),
      "progress" -> prog.toSeq)
  }

  /** LocalPipelineMain's laws, as violation counts (0 = law holds). */
  private def checks(spark: SparkSession, dir: String, fed: Long): Map[String, Any] = {
    val valid = readValid(spark, dir).count()
    val errors = spark.read.schema(RawSchema).text(s"$dir/errors").count()
    val batchMetrics = EventStream.slidingMetrics(readValid(spark, dir),
      AggregationMain.EventTypes).persist()
    val streamed = spark.read.schema(RawSchema).text(s"$dir/metrics")
      .select(from_json(col("value"), batchMetrics.schema).as("m"))
      .select(col("m.*"))
      .filter(col("userId") =!= FlushId).persist()
    val metricsRows = streamed.count()
    val keyCols = Seq("userId", "windowStart", "windowEnd")
    val mismatched = streamed.join(batchMetrics, keyCols, "full_outer")
      .filter(streamed.columns.filterNot(keyCols.contains).map(c =>
        !(streamed(c) <=> batchMetrics(c))).reduce(_ || _) ||
        streamed(keyCols.head).isNull || batchMetrics(keyCols.head).isNull)
      .count()
    val state = spark.read.parquet(s"$dir/state").filter(col("originalId") =!= FlushId)
    val users = readValid(spark, dir).groupBy("originalId")
      .agg(count(lit(1)).as("n"), max("sequence").as("mx"))
    // one upsert row per user, whose sequence = that user's valid count
    val badState = state.groupBy("originalId")
      .agg(count(lit(1)).as("rows"), max("sequence").as("sequence"))
      .join(users, Seq("originalId"), "full_outer")
      .filter(col("rows").isNull || col("n").isNull || col("rows") =!= 1 ||
        col("sequence") =!= col("n")).count()
    // per-user final enrich sequence = that user's valid count
    val badSequence = users.filter(col("mx") =!= col("n")).count()
    streamed.unpersist(); batchMetrics.unpersist()
    Map("fed" -> fed, "valid" -> valid, "errors" -> errors,
      "metrics_rows" -> metricsRows, "metrics_mismatched" -> mismatched,
      "state_violations" -> badState, "sequence_violations" -> badSequence)
  }

  /** Phase 2: `lines` fed open loop at `rate`/s into the processor. */
  def openLoop(spark: SparkSession, tracer: Tracer, dir: String, lines: Array[String],
      rate: Double, tickMs: Long): Map[String, Any] = {
    val input = new File(s"$dir/input"); input.mkdirs()
    val staging = new File(s"$dir/staging"); staging.mkdirs()
    // one metadata-log file per batch (writers and readers of these
    // sinks must agree), so each output file maps to the batch that
    // committed it
    spark.conf.set("spark.sql.streaming.fileSink.log.compactInterval", "1000000")
    val raw = spark.readStream.schema(RawSchema).text(input.getPath)
    val (q1, q2) = processor(raw, dir, None)

    val feederLog = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.currentTimeMillis() + 500L
    val stepMs = 1000.0 / rate
    def dueMs(i: Int): Long = t0 + (i * stepMs).toLong
    val feeder = new Thread(() => {
      var sent = 0
      var tick = 0
      while (sent < lines.length) {
        val sched = t0 + tick * tickMs
        val wait = sched - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val now = System.currentTimeMillis()
        val due = math.min(lines.length, ((now - t0) * rate / 1000.0).toInt + 1)
        if (due > sent) {
          val body = (sent until due).map { i =>
            val rel = (i * stepMs).toLong
            lines(i).replace(s"\"timestamp\": $rel,", s"\"timestamp\": ${dueMs(i)},")
          }.mkString("", "\n", "\n")
          val f = new File(staging, f"tick-$tick%06d.txt")
          Files.writeString(f.toPath, body)
          Files.move(f.toPath, new File(input, f.getName).toPath,
            StandardCopyOption.ATOMIC_MOVE)
          feederLog += Map("sched_ms" -> sched, "due_ms" -> dueMs(due - 1),
            "sent_ms" -> System.currentTimeMillis(), "fed" -> due)
          sent = due
        }
        tick += 1
      }
    }, "perfbench-feeder")
    tracer.span("openloop", "streaming") {
      feeder.start()
      feeder.join()
      q1.processAllAvailable(); q2.processAllAvailable()
      q1.stop(); q2.stop()
    }

    Map("rate" -> rate, "t0_ms" -> t0, "fed" -> lines.length.toLong,
      "feeder" -> feederLog.toSeq,
      "progress" -> (progress("valid", q1) ++ progress("errors", q2)))
  }

  /** After the open loop: map each committed valid output file to its
    * batch and each batch to its commit time (trigger start + trigger
    * execution), and check routing and the sequence law.
    */
  private def attribute(spark: SparkSession, dir: String,
      prog: Seq[Map[String, Any]]): Map[String, Any] = {
    val fileBatch = new File(s"$dir/valid/_spark_metadata").listFiles()
      .filter(_.getName.forall(_.isDigit)).flatMap { f =>
        val b = f.getName.toLong
        "\"path\":\"([^\"]+)\"".r.findAllMatchIn(Files.readString(f.toPath))
          .map(m => m.group(1).split('/').last -> b)
      }.toMap
    val commitMs = prog.filter(_("query") == "valid").map { p =>
      p("batch").asInstanceOf[Long] ->
        (p("ts_ms").asInstanceOf[Long] +
          p("duration_ms").asInstanceOf[Map[String, Long]].getOrElse("triggerExecution", 0L))
    }.toMap
    val rows = spark.read.schema(RawSchema).text(s"$dir/valid")
      .select(input_file_name().as("f"),
        get_json_object(col("value"), "$.enrichedData.original_timestamp").cast("long").as("due"))
      .collect()
    val byBatch = rows.groupBy(r => fileBatch.get(r.getString(0).split('/').last))
    val batches = byBatch.toSeq.collect { case (Some(b), rs) =>
      Map("batch" -> b, "commit_ms" -> commitMs.getOrElse(b, -1L),
        "due_ms" -> rs.map(_.getLong(1)).toSeq)
    }
    val unmapped = byBatch.get(None).map(_.length).getOrElse(0)
    val errors = spark.read.schema(RawSchema).text(s"$dir/errors").count()
    val badSequence = readValid(spark, dir).groupBy("originalId")
      .agg(count(lit(1)).as("n"), max("sequence").as("mx"))
      .filter(col("mx") =!= col("n")).count()
    spark.conf.unset("spark.sql.streaming.fileSink.log.compactInterval")
    Map("valid" -> rows.length.toLong, "errors" -> errors, "unmapped" -> unmapped.toLong,
      "sequence_violations" -> badSequence, "batches" -> batches)
  }

  /** A run's inputs: the backlog and the open-loop events (event time =
    * offset from the phase start, replaced by the due time when fed).
    * Functions of the seed and the sizes alone.
    */
  case class Inputs(backlog: Array[String], open: Array[String])

  def inputs(spark: SparkSession, seed: Long, seconds: Double,
      cfg: Map[String, Double]): Inputs = {
    val backlog = cfg("backlog").toInt
    val rate = cfg("rate")
    // the open-loop phase lasts the run's seconds; the drains are a
    // fixed amount of work
    val openN = (rate * seconds).toInt
    // one payload job for both phases
    val lines = payload(spark, seqBase(seed), backlog + openN,
      Seq(BacklogTs0 -> 500.0, 0L -> 1000.0 / rate), Seq(backlog, openN))
    Inputs(lines.slice(0, backlog), lines.slice(backlog, lines.length))
  }

  def run(spark: SparkSession, tracer: Tracer, work: String, seed: Long,
      seconds: Double, cores: Int, cfg: Map[String, Double]): Map[String, Any] = {
    val in = inputs(spark, seed, seconds, cfg)
    val files = cfg("files").toInt
    // the same backlog drained `warmups` times untimed (a JVM's first
    // drain runs up to 1.3 times slower), then `drains` times, each into
    // fresh sinks and checkpoints, so the drain figures are medians
    val warmDirs = (0 until cfg("warmups").toInt).map(i => s"$work/warmup$i")
    val drainDirs = (0 until cfg("drains").toInt).map(i => s"$work/drain$i")
    (warmDirs ++ drainDirs).foreach(d => writeFiles(s"$d/input", in.backlog, files))
    warmDirs.foreach(d => drain(spark, tracer, d, cores))

    val firstOpMs = System.currentTimeMillis()
    val firstOpCpuS = Harness.cpuS
    tracer.start()
    val ds = drainDirs.map(d => drain(spark, tracer, d, cores))
    // the open loop's figures are all per-layer, so only the traced run
    // feeds it
    val o = if (tracer.enabled) Some(openLoop(spark, tracer, s"$work/openloop", in.open,
      cfg("rate"), cfg("tick_ms").toLong)) else None
    tracer.stop()
    // correctness and latency attribution, outside the traced window
    Map("first_op_ms" -> firstOpMs, "first_op_cpu_s" -> firstOpCpuS._1,
      "first_op_jit_s" -> firstOpCpuS._2,
      "drains" -> ds.zip(drainDirs).map { case (d, dir) =>
        d ++ checks(spark, dir, in.backlog.length) }) ++
      o.map(ol => "openloop" -> (ol ++ attribute(spark, s"$work/openloop",
        ol("progress").asInstanceOf[Seq[Map[String, Any]]])))
  }
}
