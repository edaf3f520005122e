package graft

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Drives the streaming scale rehearsal ([[ScaleStream]]) end-to-end
  * on the 3x sf0.01 derivation — the REAL stream starters
  * (checkpointed file-source `Trigger.AvailableNow` ingest through
  * DocStream / EmbStream flat / EmbStream blocked) with every family
  * law asserted, so `sbt test` exercises the same code path the 100x
  * artifact run uses. Includes doctored-frame negative cases for the
  * law suite.
  */
class ScaleStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val src = "/root/testdata/sf0.01"
  private val out = "/tmp/graft_scale3_sf001"
  private val copies = 3

  test("all three index-backed loops hold their laws on the 3x tier") {
    ScaleCorpus.ensure(spark, src, out, copies)
    val work = TestSpark.tempDir("graft_scalestream_spec").toString
    try {
      val results = ScaleStream.runAll(spark, out, copies, slices = 2, work)
      assert(results.map(_.loop) == Seq("B18_docstream",
        "B25_embstream_flat", "B29_embstream_blocked"))
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

  test("writeSlices lays out one file per slice and drive replays slice k as batch k") {
    import spark.implicits._
    val work = TestSpark.tempDir("graft_slices").toString
    val backlog = s"$work/backlog"
    // three partitions per frame: the writer must still emit one file
    val frames = Seq(1 to 5, 6 to 7, 8 to 15)
      .map(r => r.map(_.toLong).toDF("id").repartition(3))
    val counts = ScaleStream.writeSlices(backlog, frames)
    val now = System.currentTimeMillis()
    assert(counts == Seq(5L, 2L, 8L))
    val files = new java.io.File(backlog).listFiles().sortBy(_.getName).toSeq
    assert(files.map(_.getName) ==
      Seq("slice_0000.parquet", "slice_0001.parquet", "slice_0002.parquet"),
      "exactly one part file per slice, nothing else left behind")
    val mtimes = files.map(_.lastModified)
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b },
      s"mtimes must rise strictly: $mtimes")
    assert(mtimes.forall(_ <= now), s"mtimes must lie in the past: $mtimes")
    val replay = ScaleStream.drive(spark, backlog, src =>
      src.writeStream.format("noop")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow()).start())
    assert(replay.perBatch.map { case (id, n, _) => (id, n) } ==
      counts.zipWithIndex.map { case (n, k) => (k.toLong, n) },
      s"slice k must arrive as batch k: ${replay.perBatch}")
  }

  test("stream laws reject lost verdicts, cycles, and cross-replica partners (negative)") {
    import spark.implicits._
    val step = ScaleCorpus.Step
    def v(rows: (Long, Option[Long])*) =
      rows.map { case (id, p) => (id, p.map(java.lang.Long.valueOf).orNull) }
        .toDF("doc_id", "partner_id")
    def fails(checks: Seq[ScaleGate.Check], hint: String): Unit =
      assert(checks.exists(!_.pass), s"$hint must fail: $checks")
    // two arrivals, one verdict: conservation fires
    fails(ScaleStream.streamLaws("l", v((step + 1, None)),
      "doc_id", arrivals = 2, step, replicaLaws = true), "a lost verdict")
    // partner >= id: the first-copy-wins cycle
    fails(ScaleStream.streamLaws("l",
      v((step + 1, Some(step + 5)), (step + 5, None)),
      "doc_id", arrivals = 2, step, replicaLaws = true),
      "partner above its doc")
    // partner from another replica: the decorrelation law
    fails(ScaleStream.streamLaws("l",
      v((2 * step + 5, Some(step + 1)), (step + 1, None)),
      "doc_id", arrivals = 2, step, replicaLaws = true),
      "a cross-replica partner")
    // ...but the emb loops legitimately see cross-replica partners
    // (the shift derivation makes no containment promise): the base
    // laws alone must PASS the same frame
    assert(ScaleStream.streamLaws("l",
      v((2 * step + 5, Some(step + 1)), (step + 1, None)),
      "doc_id", arrivals = 2, step, replicaLaws = false).forall(_.pass))
    // a valid frame passes every law
    val ok = ScaleStream.streamLaws("l",
      v((step + 2, Some(step + 1)), (step + 1, None),
        (2 * step + 2, Some(2 * step + 1)), (2 * step + 1, None)),
      "doc_id", arrivals = 4, step, replicaLaws = true)
    assert(ok.forall(_.pass), s"valid frame must pass: $ok")
    // a partner never seen anywhere is a fabricated id
    assert(!ScaleStream.partnerSeenLaw("l",
      v((step + 2, Some(step + 1))), "doc_id",
      Seq(step + 2).toDF("doc_id")).pass)
    assert(ScaleStream.partnerSeenLaw("l",
      v((step + 2, Some(step + 1))), "doc_id",
      Seq(step + 1, step + 2).toDF("doc_id")).pass)
    // growth law: a double-admit (store larger than bootstrap +
    // survivors) fires
    assert(!ScaleStream.growthLaw("l", "store", acceptedAfter = 12,
      bootstrap = 8, survivors = 3).pass)
    assert(ScaleStream.growthLaw("l", "store", acceptedAfter = 11,
      bootstrap = 8, survivors = 3).pass)
  }
}
