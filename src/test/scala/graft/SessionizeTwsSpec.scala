package graft

import graft.streaming.{GapSession, ParsedEvent, SessionizeTws}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** [[SessionizeTws]] — transformWithState gap sessions with
  * event-time timers (requires the RocksDB provider). Proves the
  * three emission paths: inline close when a later event reveals the
  * gap, TIMER close when the watermark passes end+gap with no
  * successor event, and the still-open session staying unemitted.
  */
class SessionizeTwsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ev(id: String, ts: Long) = ParsedEvent(id, "click", ts, Map.empty)

  test("sessions close inline on an observed gap and by timer on watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ParsedEvent]
    val q = SessionizeTws.sessions(input.toDS(), gapMs = 5000L,
      watermarkDelay = "2 seconds")
      .writeStream.format("memory").queryName("tws_sessions")
      .outputMode("append").start()
    try {
      def emitted(): Set[GapSession] =
        spark.table("tws_sessions").as[GapSession].collect().toSet

      // u1: two events 1s apart -> one open session; u3: two events
      // 7s apart IN ONE BATCH -> first session closes inline, and
      // the batch watermark (8000 - 2s = 6000) stays BELOW u1's
      // timer at end+gap = 7000, so nothing is timer-emitted yet
      input.addData(ev("u1", 1000), ev("u1", 2000),
        ev("u3", 1000), ev("u3", 8000))
      q.processAllAvailable()
      assert(emitted() === Set(GapSession("u3", 1000, 1000, 1)),
        "only u3's first session closes (inline); u1 still open")

      // u2 far in the future pushes the watermark (max - 2s) past
      // u1's and u3's timers -> both fire
      input.addData(ev("u2", 120000))
      q.processAllAvailable()
      input.addData(ev("u2", 121000))
      q.processAllAvailable()
      val got = emitted()
      assert(got.contains(GapSession("u1", 1000, 2000, 2)),
        s"u1's session should be timer-emitted, got $got")
      assert(got.contains(GapSession("u3", 8000, 8000, 1)),
        s"u3's second session should be timer-emitted, got $got")
      // u2's own session is still open: not emitted
      assert(!got.exists(s => s.userId == "u2"), got.toString)
    } finally q.stop()
  }

  test("a straggler more than gapMs before the open session is its own session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ParsedEvent]
    val q = SessionizeTws.sessions(input.toDS(), gapMs = 5000L,
      watermarkDelay = "20 seconds") // wide enough that the straggler isn't dropped
      .writeStream.format("memory").queryName("tws_straggler")
      .outputMode("append").start()
    try {
      input.addData(ev("u1", 20000))
      q.processAllAvailable()
      // 8s before the open session's start with a 5s gap: must NOT
      // merge into [20000,20000] (that session would then span a
      // gap larger than gapMs) — it closes immediately as a singleton
      input.addData(ev("u1", 12000))
      q.processAllAvailable()
      val got = spark.table("tws_straggler").as[GapSession].collect().toSet
      assert(got === Set(GapSession("u1", 12000, 12000, 1)),
        s"straggler must close as its own singleton, got $got")
    } finally q.stop()
  }

  test("a session extended across batches is emitted once with the full span") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ParsedEvent]
    val q = SessionizeTws.sessions(input.toDS(), gapMs = 5000L,
      watermarkDelay = "1 second")
      .writeStream.format("memory").queryName("tws_sessions2")
      .outputMode("append").start()
    try {
      input.addData(ev("u1", 1000))
      q.processAllAvailable()
      input.addData(ev("u1", 4000)) // extends; re-arms the timer
      q.processAllAvailable()
      input.addData(ev("w", 100000)) // watermark pushes past 4000+5000
      q.processAllAvailable()
      input.addData(ev("w", 101000))
      q.processAllAvailable()
      val got = spark.table("tws_sessions2").as[GapSession]
        .collect().filter(_.userId == "u1").toSeq
      assert(got === Seq(GapSession("u1", 1000, 4000, 2)),
        s"exactly one merged session expected, got $got")
    } finally q.stop()
  }
}
