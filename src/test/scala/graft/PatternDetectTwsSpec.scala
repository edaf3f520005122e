package graft

import graft.streaming.{CepEvent, EventStream, ParsedEvent, PatternDetectTws}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** [[PatternDetectTws]] — CEP on transformWithState with event-time
  * timers. Proves the capability the flatMapGroupsWithState detector
  * lacks: a partial match expires FROM ITS TIMER (watermark passes
  * firstStage + window) without the key ever being seen again, is
  * emitted as a timed-out-pattern row, and the timer + prefix survive
  * a checkpoint restart under RocksDB changelog checkpointing.
  */
class PatternDetectTwsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ev(id: String, t: String, ts: Long) =
    ParsedEvent(id, t, ts, Map.empty)

  private val Pat = Seq("view", "click", "purchase")

  test("abandoned prefix is retired by its timer, key never seen again") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ParsedEvent]
    val q = PatternDetectTws.detect(input.toDS(), Pat, windowMs = 5000L,
      watermarkDelay = "2 seconds")
      .writeStream.format("memory").queryName("cep_tws_timer")
      .outputMode("append").start()
    try {
      def emitted(): Set[CepEvent] =
        spark.table("cep_tws_timer").as[CepEvent].collect().toSet

      // u1 parks a (view, click) prefix; deadline = 1000 + 5000
      input.addData(ev("u1", "view", 1000), ev("u1", "click", 2000))
      q.processAllAvailable()
      assert(emitted().isEmpty, "prefix still in-window: nothing emitted")

      // an unrelated key pushes the watermark (max - 2s) past 6000;
      // one more batch lets the timer fire on the advanced watermark
      input.addData(ev("w", "view", 100000))
      q.processAllAvailable()
      input.addData(ev("w", "click", 101000))
      q.processAllAvailable()
      val got = emitted()
      assert(got.contains(
        CepEvent("u1", isTimeout = true, 1000, 2000, Seq(1000, 2000))),
        s"u1's prefix must be timer-retired as a timeout row, got $got")
      assert(!got.exists(e => e.userId == "u1" && !e.isTimeout),
        "no completed match may exist for u1")
    } finally q.stop()
  }

  test("completed match emits once; its deleted timer never fires a timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ParsedEvent]
    val q = PatternDetectTws.detect(input.toDS(), Pat, windowMs = 5000L,
      watermarkDelay = "2 seconds")
      .writeStream.format("memory").queryName("cep_tws_match")
      .outputMode("append").start()
    try {
      // complete the whole pattern across two batches (prefix state
      // and its timer exist between them)
      input.addData(ev("u1", "view", 1000), ev("u1", "click", 2000))
      q.processAllAvailable()
      input.addData(ev("u1", "purchase", 3000))
      q.processAllAvailable()
      // push the watermark far past the (deleted) deadline
      input.addData(ev("w", "view", 100000))
      q.processAllAvailable()
      input.addData(ev("w", "click", 101000))
      q.processAllAvailable()
      val got = spark.table("cep_tws_match").as[CepEvent]
        .collect().filter(_.userId == "u1").toSeq
      assert(got === Seq(
        CepEvent("u1", isTimeout = false, 1000, 3000, Seq(1000, 2000, 3000))),
        s"exactly one match row and no timeout expected, got $got")
    } finally q.stop()
  }

  test("expired prefix discovered by a later same-key event times out inline") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ParsedEvent]
    val q = PatternDetectTws.detect(input.toDS(), Pat, windowMs = 5000L,
      watermarkDelay = "60 seconds") // watermark stays behind: timer can't fire
      .writeStream.format("memory").queryName("cep_tws_inline")
      .outputMode("append").start()
    try {
      input.addData(ev("u1", "view", 1000))
      q.processAllAvailable()
      // 19s later, far past the 5s window but ahead of the watermark:
      // the old prefix times out inline and this event starts a new one
      input.addData(ev("u1", "view", 20000))
      q.processAllAvailable()
      val got = spark.table("cep_tws_inline").as[CepEvent].collect().toSet
      assert(got === Set(CepEvent("u1", isTimeout = true, 1000, 1000, Seq(1000))),
        s"expired prefix must be emitted as an inline timeout, got $got")
      // the new prefix then completes — proving it really restarted
      input.addData(ev("u1", "click", 20001), ev("u1", "purchase", 20002))
      q.processAllAvailable()
      val after = spark.table("cep_tws_inline").as[CepEvent]
        .collect().filter(!_.isTimeout).toSeq
      assert(after === Seq(CepEvent("u1", isTimeout = false,
        20000, 20002, Seq(20000, 20001, 20002))), after.toString)
    } finally q.stop()
  }

  test("prefix AND armed timer survive a restart via changelog checkpointing") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ParsedEvent]
    def detector() = PatternDetectTws.detect(
      input.toDS(), Pat, windowMs = 5000L, watermarkDelay = "2 seconds")
    val out = TestSpark.tempDir("graft_cep_sink").toString
    val ckpt = TestSpark.tempDir("graft_cep_ckpt").toString
    val q1 = EventStream.parquetSink(detector(), out, ckpt, triggerMs = 100L).start()
    try {
      input.addData(ev("u1", "view", 1000), ev("u1", "click", 2000))
      q1.processAllAvailable()
    } finally q1.stop()
    // new query, same checkpoint: the prefix and its 6000-deadline
    // timer must come back from the changelog; watermark-advancing
    // batches then fire the RESTORED timer
    input.addData(ev("w", "view", 100000))
    val q2 = EventStream.parquetSink(detector(), out, ckpt, triggerMs = 100L).start()
    try {
      q2.processAllAvailable()
      input.addData(ev("w", "click", 101000))
      q2.processAllAvailable()
      input.addData(ev("w", "purchase", 102000))
      q2.processAllAvailable()
    } finally q2.stop()
    val rows = spark.read.parquet(out).as[CepEvent]
      .collect().filter(_.userId == "u1").toSeq
    assert(rows === Seq(
      CepEvent("u1", isTimeout = true, 1000, 2000, Seq(1000, 2000))),
      s"restored timer must retire the restored prefix, got $rows")
  }
}
