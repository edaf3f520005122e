package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Drives the STATEFUL streaming rehearsal ([[ScaleStreamState]]) on
  * the 3x sf0.01 derivation — the five transformWithState / fMGWS /
  * carried-state loops (B19, B23, B24, B26, B28) through their real
  * starters under RocksDB, every law asserted, plus doctored-frame
  * negative cases for each law builder ("a gate that cannot fail is
  * not a gate").
  */
class ScaleStreamStateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val src = "/root/testdata/sf0.01"
  private val out = "/tmp/graft_scale3_sf001"
  private val copies = 3

  test("all stateful loops (incl. the restart rehearsals) hold their laws on the 3x tier under RocksDB") {
    ScaleCorpus.ensure(spark, src, out, copies)
    val work = TestSpark.tempDir("graft_scalestream_state_spec").toString
    try {
      val results = ScaleStreamState.runAll(spark, out, copies, slices = 3, work)
      assert(results.map(_.loop) == Seq("B19_sessionize_tws",
        "B23_anomaly_stream", "B24_pattern_tws", "B26_periodic_tws",
        "B19_sessionize_tws_restart", "B26_periodic_tws_restart",
        "B19_sessionize_paced", "B28_budget_stream"))
      // the restart rehearsals must really have run two phases
      results.filter(_.loop.endsWith("_restart")).foreach { r =>
        assert(r.checks.exists(_.invariant.contains("really split")),
          s"${r.loop} lost its phase-split check")
      }
      results.foreach { r =>
        assert(r.arrivals > 0 && r.batches >= 2,
          s"${r.loop}: expected a real multi-batch backlog, " +
            s"got ${r.arrivals} arrivals in ${r.batches} batches")
        val failed = r.checks.filterNot(_.pass)
        assert(failed.isEmpty, s"${r.loop} violated laws:\n" + failed
          .map(c => s"  ${c.invariant} (${c.detail})").mkString("\n"))
      }
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(work))
    }
  }

  // ----------------------------------------------------------------
  // Negatives: every law builder must reject its doctored frame.

  test("equalityLaw rejects extra, missing, and empty frames") {
    import spark.implicits._
    val a = Seq((1L, 2L), (3L, 4L)).toDF("x", "y")
    val b = Seq((1L, 2L), (3L, 5L)).toDF("x", "y")
    assert(ScaleStreamState.equalityLaw("l", "i", a, a).pass)
    assert(!ScaleStreamState.equalityLaw("l", "i", a, b).pass)
    assert(!ScaleStreamState.equalityLaw("l", "i",
      a.limit(0), a.limit(0)).pass, "a vacuously-equal empty pair must fail")
  }

  test("stateLaw enforces both relations") {
    assert(ScaleStreamState.stateLaw("l", "c", 10, 10, "==").pass)
    assert(!ScaleStreamState.stateLaw("l", "c", 9, 10, "==").pass)
    assert(ScaleStreamState.stateLaw("l", "c", 9, 10, "<=").pass)
    assert(!ScaleStreamState.stateLaw("l", "c", 11, 10, "<=").pass)
    assert(!ScaleStreamState.stateLaw("l", "c", 0, 10, "<=").pass,
      "a zero observation means the probe read nothing - fail loudly")
  }

  test("closedHourLaw rejects a lost or doubled verdict") {
    assert(ScaleStreamState.closedHourLaw("l", 7, 10, 3).pass)
    assert(!ScaleStreamState.closedHourLaw("l", 6, 10, 3).pass)
    assert(!ScaleStreamState.closedHourLaw("l", 8, 10, 3).pass)
  }

  test("cepStructuralLaws reject malformed matches and overlapping outcomes") {
    import spark.implicits._
    def f(rows: (String, Boolean, Long, Long, Seq[Long])*) =
      rows.toDF("userId", "isTimeout", "startTs", "endTs", "stageTs")
    val ok = f(("u", false, 10L, 20L, Seq(10L, 20L)),
      ("u", true, 30L, 30L, Seq(30L)))
    assert(ScaleStreamState.cepStructuralLaws("l", ok, 2, 100L).forall(_.pass))
    // a "match" with only one stage
    assert(ScaleStreamState.cepStructuralLaws("l",
      f(("u", false, 10L, 20L, Seq(10L))), 2, 100L).exists(!_.pass))
    // a match wider than the window
    assert(ScaleStreamState.cepStructuralLaws("l",
      f(("u", false, 10L, 200L, Seq(10L, 200L))), 2, 100L).exists(!_.pass))
    // overlapping outcomes for one key
    assert(ScaleStreamState.cepStructuralLaws("l",
      f(("u", false, 10L, 20L, Seq(10L, 20L)),
        ("u", true, 15L, 15L, Seq(15L))), 2, 100L).exists(!_.pass))
  }

  test("zeroRowLaw rejects a zero row over an occupied bucket") {
    import spark.implicits._
    val buckets = Seq(("u", 5L, 3L)).toDF("userId", "b", "cnt")
    val okZero = Seq(("u", 6L * 600000L)).toDF("userId", "windowStart")
    val badZero = Seq(("u", 5L * 600000L)).toDF("userId", "windowStart")
    assert(ScaleStreamState.zeroRowLaw("l", okZero, buckets).pass)
    assert(!ScaleStreamState.zeroRowLaw("l", badZero, buckets).pass)
  }

  test("cadenceLaw rejects duplicate deadlines and misaligned windows") {
    import spark.implicits._
    def f(rows: (String, Long, Long)*) =
      rows.map { case (u, s, e) => (u, s, e) }
        .toDF("userId", "windowStart", "windowEnd")
    val I = 600000L
    assert(ScaleStreamState.cadenceLaw("l",
      f(("u", 5 * I, 6 * I), ("u", 6 * I, 7 * I))).pass)
    assert(!ScaleStreamState.cadenceLaw("l",
      f(("u", 5 * I, 6 * I), ("u", 5 * I, 6 * I))).pass, "duplicate deadline")
    assert(!ScaleStreamState.cadenceLaw("l",
      f(("u", 5 * I, 6 * I + 1))).pass, "misaligned window")
  }

  test("budgetLaws reject kept-rule violations, torn prefix sums, and drifted state") {
    import spark.implicits._
    val budgets = Seq(("web", 5L)).toDF("source", "budget")
    def v(rows: (Long, Long, Long, Boolean)*) =
      rows.map { case (id, n, cum, k) => ("web", id, n, cum, k) }
        .toDF("source", "doc_id", "n_tokens", "cum_tokens", "kept")
    def carried(t: Long) = Seq(("web", t)).toDF("source", "carried")
    // the valid fill: 3 + 3 tokens, doc 2 crosses the budget (kept),
    // doc 3 dropped
    val ok = v((1L, 3L, 3L, true), (2L, 3L, 6L, true), (3L, 1L, 7L, false))
    assert(ScaleStreamState.budgetLaws("l", ok, budgets, carried(7L), 3L)
      .forall(_.pass))
    // doc 3 kept although the budget was spent
    assert(ScaleStreamState.budgetLaws("l",
      v((1L, 3L, 3L, true), (2L, 3L, 6L, true), (3L, 1L, 7L, true)),
      budgets, carried(7L), 3L).exists(!_.pass))
    // a carried-state reset between batches: doc 3's cum restarted
    assert(ScaleStreamState.budgetLaws("l",
      v((1L, 3L, 3L, true), (2L, 3L, 6L, true), (3L, 1L, 1L, true)),
      budgets, carried(7L), 3L).exists(!_.pass))
    // the persisted snapshot drifted from the streamed totals
    assert(ScaleStreamState.budgetLaws("l", ok, budgets, carried(9L), 3L)
      .exists(!_.pass))
    // a lost verdict
    assert(ScaleStreamState.budgetLaws("l", ok, budgets, carried(7L), 4L)
      .exists(!_.pass))
  }

  test("the anomaly recompute reproduces the streaming prefix algebra on a known sequence") {
    import spark.implicits._
    val H = 3600000L
    // one user, ten calm hours of count 1, then an hour of 100, then
    // the open final hour: with n=10 prior hours the z-test fires on
    // the spike ((n+1)c - t1 = 990, 990^2 = 980100 > 9*(11*10010 -
    // 110^2) = 882090 — hand-checked), while a shorter history (n=3)
    // legitimately does NOT clear 3 sigma; hour 11 must be absent
    val events = ((0 until 10).map(h => (7L, h * H)) ++
      Seq.tabulate(100)(i => (7L, 10 * H + i)) ++
      Seq((7L, 11 * H)))
      .toDF("user_id", "ms")
    val got = ScaleStreamState.anomalyRecompute(events)
      .orderBy("hour")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getBoolean(4)))
    assert(got.toSeq == (0 until 10).map(h => (h.toLong, 1L, false)) ++
      Seq((10L, 100L, true)))
  }

  test("the cep fold matches, times out, and restarts like the processor") {
    import spark.implicits._
    val W = ScaleStreamState.CepPattern // view -> purchase
    val events = Seq(
      (1L, 100L, "view"), (1L, 200L, "purchase"), // match
      (1L, 300L, "view"), // open at end -> timeout
      (2L, 100L, "view"), (2L, 100L + 200000L, "purchase") // out of window
    ).toDF("user_id", "ms", "event_type")
    val got = ScaleStreamState.cepFold(events, W, windowMs = 1000L)
      .orderBy("userId", "startTs")
      .collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("1", false, 100L, 200L), ("1", true, 300L, 300L),
      ("2", true, 100L, 100L)))
  }
}
