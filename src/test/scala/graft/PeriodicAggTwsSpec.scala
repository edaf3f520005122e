package graft

import graft.streaming.{EventStream, ParsedEvent, PeriodicAggTws, PeriodicMetrics}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** [[PeriodicAggTws]] — the reference's timer-cadence sliding metrics
  * (AggregationJob.kt:100): one row per interval per live key, the
  * EXPLICIT zero-count row when the window empties (the "went to
  * zero" signal a declarative windowed agg cannot emit), timer
  * shutdown on empty with data-anchored re-bootstrap, and state +
  * armed timer surviving a restart under RocksDB changelog
  * checkpointing.
  */
class PeriodicAggTwsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ev(id: String, t: String, ts: Long) =
    ParsedEvent(id, t, ts, Map.empty)

  // window = 10s of event time, emit cadence = 5s, watermark 2s
  private val W = 10000L
  private val I = 5000L

  test("one row per interval while live, zero row on empty, then timer silence") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ParsedEvent]
    val q = PeriodicAggTws.metrics(input.toDS(), W, I,
      watermarkDelay = "2 seconds")
      .writeStream.format("memory").queryName("pagg_cadence")
      .outputMode("append").start()
    try {
      def u1rows(): Seq[PeriodicMetrics] =
        spark.table("pagg_cadence").as[PeriodicMetrics]
          .collect().filter(_.userId == "u1").sortBy(_.windowEnd).toSeq

      input.addData(ev("u1", "click", 1000), ev("u1", "view", 6500))
      q.processAllAvailable()
      assert(u1rows().isEmpty, "watermark has not reached any deadline yet")

      // an unrelated key advances the watermark to 28000; one more
      // batch fires u1's timer, which catches up every elapsed
      // deadline in order
      input.addData(ev("w", "view", 30000))
      q.processAllAvailable()
      input.addData(ev("w", "view", 31000))
      q.processAllAvailable()
      val got = u1rows()
      assert(got === Seq(
        PeriodicMetrics("u1", -5000, 5000, 1, Map("click" -> 1L)),
        PeriodicMetrics("u1", 0, 10000, 2, Map("click" -> 1L, "view" -> 1L)),
        PeriodicMetrics("u1", 5000, 15000, 1, Map("view" -> 1L)),
        // the explicit went-to-zero signal
        PeriodicMetrics("u1", 10000, 20000, 0, Map.empty)),
        s"cadence rows: $got")

      // the heartbeat stopped at the zero row: pushing the watermark
      // much further emits NOTHING more for u1
      input.addData(ev("w", "view", 60000))
      q.processAllAvailable()
      input.addData(ev("w", "view", 61000))
      q.processAllAvailable()
      assert(u1rows() === got, "drained key must stay silent (timer stopped)")

      // a new event re-bootstraps, anchored to the DATA: no zero
      // back-fill for the silent 20s..65s gap
      input.addData(ev("u1", "click", 62000))
      q.processAllAvailable()
      input.addData(ev("w", "view", 80000))
      q.processAllAvailable()
      input.addData(ev("w", "view", 81000))
      q.processAllAvailable()
      val after = u1rows().drop(got.size)
      assert(after === Seq(
        PeriodicMetrics("u1", 55000, 65000, 1, Map("click" -> 1L)),
        PeriodicMetrics("u1", 60000, 70000, 1, Map("click" -> 1L)),
        PeriodicMetrics("u1", 65000, 75000, 0, Map.empty)),
        s"re-bootstrap rows: $after")
    } finally q.stop()
  }

  test("event-time gap: one zero signal, heartbeat jumps to where data resumes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ParsedEvent]
    val q = PeriodicAggTws.metrics(input.toDS(), W, I,
      watermarkDelay = "2 seconds")
      .writeStream.format("memory").queryName("pagg_gap")
      .outputMode("append").start()
    try {
      // both events in ONE batch, 40s apart: the state holds a
      // future bucket while the first window drains
      input.addData(ev("u1", "click", 1000), ev("u1", "click", 41000))
      q.processAllAvailable()
      input.addData(ev("w", "view", 60000))
      q.processAllAvailable()
      input.addData(ev("w", "view", 61000))
      q.processAllAvailable()
      val got = spark.table("pagg_gap").as[PeriodicMetrics]
        .collect().filter(_.userId == "u1").sortBy(_.windowEnd).toSeq
      assert(got === Seq(
        PeriodicMetrics("u1", -5000, 5000, 1, Map("click" -> 1L)),
        PeriodicMetrics("u1", 0, 10000, 1, Map("click" -> 1L)),
        // one went-to-zero signal, then NO heartbeats inside the gap
        PeriodicMetrics("u1", 5000, 15000, 0, Map.empty),
        PeriodicMetrics("u1", 35000, 45000, 1, Map("click" -> 1L)),
        PeriodicMetrics("u1", 40000, 50000, 1, Map("click" -> 1L)),
        PeriodicMetrics("u1", 45000, 55000, 0, Map.empty)),
        s"gap rows: $got")
    } finally q.stop()
  }

  test("event landing behind a gap-jumped timer re-arms earlier and is never lost") {
    // Regression: after a gap-jump arms a far-future timer, an event
    // arriving in an older (still above-watermark) bucket used to be
    // pruned before the far deadline ever counted it — no row anywhere
    // contained it, and the intermediate cadence rows were missing.
    // handleInputRows must re-arm the EARLIER deadline (clamped above
    // the last emitted interval, so nothing is emitted twice).
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ParsedEvent]
    val q = PeriodicAggTws.metrics(input.toDS(), W, I,
      watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("pagg_rearm")
      .outputMode("append").start()
    try {
      // one batch, 99s apart: catch-up emits through the zero row at
      // 15000, then jumps the heartbeat to 105000
      input.addData(ev("u1", "click", 1000), ev("u1", "view", 100000))
      q.processAllAvailable()
      input.addData(ev("w", "view", 101000))
      q.processAllAvailable()
      // the straggler: bucket 90000 — older than the armed 105000
      // deadline's window start (95000), yet above the watermark
      input.addData(ev("u1", "click", 92000))
      q.processAllAvailable()
      input.addData(ev("w", "view", 120000))
      q.processAllAvailable()
      input.addData(ev("w", "view", 121000))
      q.processAllAvailable()
      val got = spark.table("pagg_rearm").as[PeriodicMetrics]
        .collect().filter(_.userId == "u1").sortBy(_.windowEnd).toSeq
      // the straggler is counted in BOTH windows that contain it,
      // and the cadence resumes from the re-armed deadline
      assert(got.exists(m => m.windowEnd == 95000 && m.totalCount == 1 &&
        m.typeCounts == Map("click" -> 1L)),
        s"straggler's first window row missing: $got")
      // ts=100000 sits at exactly windowEnd=100000 and so belongs to
      // the NEXT window ([windowStart, windowEnd) semantics): the
      // 100000 row still holds only the straggler
      assert(got.exists(m => m.windowEnd == 100000 && m.totalCount == 1 &&
        m.typeCounts == Map("click" -> 1L)),
        s"straggler's second window row missing: $got")
      assert(got.exists(m => m.windowEnd == 105000 && m.totalCount == 1 &&
        m.typeCounts == Map("view" -> 1L)),
        s"gap event's window row missing: $got")
      // no deadline emitted twice (the lastEmitted clamp)
      val ends = got.map(_.windowEnd)
      assert(ends == ends.distinct, s"duplicate deadlines: $ends")
    } finally q.stop()
  }

  test("bucket state AND armed timer survive a restart via changelog checkpointing") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ParsedEvent]
    def agg() = PeriodicAggTws.metrics(
      input.toDS(), W, I, watermarkDelay = "2 seconds")
    val out = TestSpark.tempDir("graft_pagg_sink").toString
    val ckpt = TestSpark.tempDir("graft_pagg_ckpt").toString
    val q1 = EventStream.parquetSink(agg(), out, ckpt, triggerMs = 100L).start()
    try {
      input.addData(ev("u1", "click", 1000))
      q1.processAllAvailable()
    } finally q1.stop()
    // new query, same checkpoint: the bucket counts and the armed
    // 5000-deadline timer must come back from the changelog
    input.addData(ev("w", "view", 30000))
    val q2 = EventStream.parquetSink(agg(), out, ckpt, triggerMs = 100L).start()
    try {
      q2.processAllAvailable()
      input.addData(ev("w", "view", 31000))
      q2.processAllAvailable()
    } finally q2.stop()
    val rows = spark.read.parquet(out).as[PeriodicMetrics]
      .collect().filter(_.userId == "u1").sortBy(_.windowEnd).toSeq
    assert(rows === Seq(
      PeriodicMetrics("u1", -5000, 5000, 1, Map("click" -> 1L)),
      PeriodicMetrics("u1", 0, 10000, 1, Map("click" -> 1L)),
      PeriodicMetrics("u1", 5000, 15000, 0, Map.empty)),
      s"restored timer must drive the full cadence incl. the zero row, got $rows")
  }
}
