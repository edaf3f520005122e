package graft

import graft.streaming.DocStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.DocStream]]: streaming incremental dedup over a
  * growing signature index — duplicates of the bootstrap corpus, of
  * EARLIER MICRO-BATCHES, and within a batch are all flagged with the
  * min-id surviving partner; survivors extend the index so the
  * accepted corpus is never re-paired with itself.
  */
class DocStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(tag: String): String =
    TestSpark.tempDir(s"graft_ds_$tag").toString

  private val dupText = "the quick brown fox jumps over the lazy dog again and again today"
  private val otherText = "completely different corpus text about streaming query engines"

  test("monotone-id watermark flags an out-of-order batch, skips replays") {
    import spark.implicits._
    val indexDir = tmp("wm")
    def batch(ids: Long*) = ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // batch 0 admits ids up to 100
    assert(graft.streaming.IdWatermark.checkAndAdvance(
      batch(10L, 100L), "doc_id", indexDir, 0L, "spec"))
    // batch 1 starting above 100 is fine
    assert(graft.streaming.IdWatermark.checkAndAdvance(
      batch(101L, 150L), "doc_id", indexDir, 1L, "spec"))
    // batch 2 dipping back to 120 violates first-copy-wins
    assert(!graft.streaming.IdWatermark.checkAndAdvance(
      batch(120L, 200L), "doc_id", indexDir, 2L, "spec"))
    // a REPLAY of batch 2 (same id) is not a violation
    assert(graft.streaming.IdWatermark.checkAndAdvance(
      batch(120L, 200L), "doc_id", indexDir, 2L, "spec"))
    // empty batches are ignored
    assert(graft.streaming.IdWatermark.checkAndAdvance(
      batch(), "doc_id", indexDir, 3L, "spec"))
  }

  test("absent watermark file seeds from the bootstrap index, not Long.MinValue") {
    import spark.implicits._
    val indexDir = tmp("wmboot") + "/idx"
    // bootstrap index admitted ids up to 500 — but NO watermark file
    // exists (the index predates the guard)
    DocStream.writeSignatureIndex(
      Seq((100L, dupText), (500L, otherText)).toDF("doc_id", "text"), indexDir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$indexDir.maxid")))
    // the FIRST stream batch dips below the bootstrap max -> flagged
    // (pre-fix this was waved through against Long.MinValue)
    assert(!graft.streaming.IdWatermark.checkAndAdvance(
      Seq((200L, "x")).toDF("doc_id", "text"), "doc_id", indexDir, 0L, "spec"),
      "first batch below bootstrap max(id) must be flagged")
    // and a batch strictly above the bootstrap max passes
    val indexDir2 = tmp("wmboot2") + "/idx"
    DocStream.writeSignatureIndex(
      Seq((100L, dupText), (500L, otherText)).toDF("doc_id", "text"), indexDir2)
    assert(graft.streaming.IdWatermark.checkAndAdvance(
      Seq((501L, "x")).toDF("doc_id", "text"), "doc_id", indexDir2, 0L, "spec"))
  }

  test("torn watermark file reinitializes instead of wedging the stream") {
    import spark.implicits._
    val indexDir = tmp("wmtorn") + "/idx"
    DocStream.writeSignatureIndex(
      Seq((50L, dupText)).toDF("doc_id", "text"), indexDir)
    // simulate a crash mid-write: garbage content
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$indexDir.maxid"), "3,garb".getBytes("UTF-8"))
    // does not throw; falls back to the index-seeded bootstrap (max 50)
    assert(graft.streaming.IdWatermark.checkAndAdvance(
      Seq((51L, "x")).toDF("doc_id", "text"), "doc_id", indexDir, 0L, "spec"))
    // and the rewritten file is well-formed again
    val parts = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$indexDir.maxid")), "UTF-8").trim.split(",")
    assert(parts(0).toLong == 0L && parts(1).toLong == 51L)
  }

  test("restart between the fallback's delete and rename recovers from the index") {
    import spark.implicits._
    val indexDir = tmp("wmswap") + "/idx"
    DocStream.writeSignatureIndex(
      Seq((50L, dupText), (300L, otherText)).toDF("doc_id", "text"), indexDir)
    // advance the watermark past the bootstrap: batch 0 admits up to 400
    assert(graft.streaming.IdWatermark.checkAndAdvance(
      Seq((400L, "x")).toDF("doc_id", "text"), "doc_id", indexDir, 0L, "spec"))
    // simulate a crash in the delete+rename fallback's absence window:
    // the old file is DELETED, the new content still sits in the temp
    // sibling — exactly the on-disk state a kill between the two
    // fallback calls leaves behind
    val wm = java.nio.file.Paths.get(s"$indexDir.maxid")
    val tmpFile = java.nio.file.Paths.get(s"$indexDir.maxid.tmp")
    java.nio.file.Files.move(wm, tmpFile,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(!java.nio.file.Files.exists(wm) &&
      java.nio.file.Files.exists(tmpFile))
    // restart: absent file -> reinit from the BOOTSTRAP INDEX (max id
    // 300; the pre-crash in-memory 400 is gone with the process, which
    // is the documented at-least-once floor — never below the index).
    // A batch dipping to the bootstrap ids is REFUSED...
    assert(!graft.streaming.IdWatermark.checkAndAdvance(
      Seq((299L, "x")).toDF("doc_id", "text"), "doc_id", indexDir, 1L, "spec"),
      "post-restart batch at or below the bootstrap max must be refused")
    // ...an above-the-index batch is ADMITTED, and the orphaned tmp
    // never shadows the real file
    assert(graft.streaming.IdWatermark.checkAndAdvance(
      Seq((500L, "x")).toDF("doc_id", "text"), "doc_id", indexDir, 2L, "spec"))
    val parts = new String(java.nio.file.Files.readAllBytes(wm), "UTF-8")
      .trim.split(",")
    assert(parts(0).toLong == 2L && parts(1).toLong == 500L,
      "recovered watermark must be well-formed and re-advanced")
  }

  test("cross-batch dedup through the index, survivors extend it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (indexDir, verdictsDir, ckpt) = (tmp("idx"), tmp("out"), tmp("ckpt"))

    // bootstrap corpus: docs 0 (dupText) and 2 (otherText)
    DocStream.writeSignatureIndex(
      Seq((0L, dupText), (2L, otherText)).toDF("doc_id", "text"), indexDir)

    val input = MemoryStream[(Long, String)]
    val q = DocStream.dedupIndexedStream(
      input.toDF().toDF("doc_id", "text"), indexDir, verdictsDir, ckpt)
    try {
      // batch 1: 10 = corpus dup; 11 = new unique; 12 = dup of 11
      // (same batch, larger id -> 11 wins)
      val novel = "a brand new document with words never seen in the corpus before now"
      input.addData((10L, dupText), (11L, novel), (12L, novel))
      q.processAllAvailable()
      // batch 2: 20 = dup of batch-1 SURVIVOR 11 (via the index
      // append); 21 = dup of corpus doc 2
      input.addData((20L, novel), (21L, otherText))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(verdictsDir)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got === Map(
      10L -> Some(0L),  // corpus duplicate
      11L -> None,      // survivor
      12L -> Some(11L), // within-batch dup, first copy wins
      20L -> Some(11L), // dup of an earlier batch's survivor
      21L -> Some(2L)), // corpus duplicate, second batch
      s"verdicts: $got")

    // index grew by exactly the survivor's band rows (4 bands/doc)
    val idxDocs = spark.read.parquet(indexDir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(idxDocs === Set(0L, 2L, 11L), s"index docs: $idxDocs")

    // replay stability (the exactly-once-effect claim): re-running
    // batch 1 against the index that ALREADY contains survivor 11's
    // band rows yields identical verdicts — the self-pair is excluded
    // by strict <, and duplicate index rows cannot change a MIN
    import spark.implicits._
    val replayed = DocStream.dedupBatch(
      Seq((10L, dupText),
        (11L, "a brand new document with words never seen in the corpus before now"),
        (12L, "a brand new document with words never seen in the corpus before now"))
        .toDF("doc_id", "text"),
      spark.read.parquet(indexDir))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(replayed === Map(10L -> Some(0L), 11L -> None, 12L -> Some(11L)),
      s"replayed verdicts drifted: $replayed")

    // forced batch replay through the ACTUAL sink path: re-running
    // micro-batch 0 with the same batchId overwrites its own
    // `batch=0` partition, so verdict ROW COUNTS in verdictsDir are
    // unchanged (exactly-once rows, not merely stable values)
    val countBefore = spark.read.parquet(verdictsDir).count()
    DocStream.processBatch(
      Seq((10L, dupText),
        (11L, "a brand new document with words never seen in the corpus before now"),
        (12L, "a brand new document with words never seen in the corpus before now"))
        .toDF("doc_id", "text"),
      indexDir, verdictsDir, batchId = 0L)
    val after = spark.read.parquet(verdictsDir)
    assert(after.count() === countBefore,
      "replayed batch duplicated verdict rows")
    val afterMap = after.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(afterMap === got, s"replay changed verdict values: $afterMap")
  }

  private def verdictMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

  /** Uninterrupted reference run of the two-batch scenario into fresh
    * dirs — the convergence target for both torn-recovery tests.
    */
  private def referenceRun(b1: Seq[(Long, String)], b2: Seq[(Long, String)])
      : (String, String) = {
    import spark.implicits._
    val (refIdx, refOut) = (tmp("refidx"), tmp("refout"))
    DocStream.writeSignatureIndex(
      Seq((0L, dupText), (2L, otherText)).toDF("doc_id", "text"), refIdx)
    DocStream.processBatch(b1.toDF("doc_id", "text"), refIdx, refOut, 0L)
    DocStream.processBatch(b2.toDF("doc_id", "text"), refIdx, refOut, 1L)
    (refIdx, refOut)
  }

  /** Drive the two-batch scenario through a REAL checkpointed stream,
    * crashing at `crashPoint` ("post-verdicts" = between the verdict
    * overwrite and the index append; "post-commit" = after both
    * writes but before Spark commits the batch to the checkpoint),
    * then restart from the checkpoint and let the replay converge.
    * Returns (indexDir, verdictsDir).
    */
  private def tornRun(b1: Seq[(Long, String)], b2: Seq[(Long, String)],
      crashPoint: String): (String, String) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (indexDir, verdictsDir, ckpt) = (tmp("tidx"), tmp("tout"), tmp("tckpt"))
    DocStream.writeSignatureIndex(
      Seq((0L, dupText), (2L, otherText)).toDF("doc_id", "text"), indexDir)
    val input = MemoryStream[(Long, String)]
    @volatile var armed = true
    def start() = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        DocStream.processBatch(batch, indexDir, verdictsDir, id,
          seam = pt => if (pt == "post-verdicts" && crashPoint == pt &&
            id == 1 && armed) {
            armed = false
            throw new RuntimeException("injected crash between the writes")
          })
        if (crashPoint == "post-commit" && id == 1 && armed) {
          armed = false
          throw new RuntimeException("injected crash before the batch commit")
        }
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    input.addData(b1: _*)
    q1.processAllAvailable()
    input.addData(b2: _*)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    q1.stop()
    // restart from the checkpoint: batch 1 was never committed, so it
    // replays with the SAME batchId against whatever the crash left
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    (indexDir, verdictsDir)
  }

  // The torn-batch recovery laws (r13 verdict #3): the per-batch loop
  // is verdict-overwrite THEN index-append with no transaction across
  // them. A crash between the writes leaves batch N's verdicts
  // visible with no index rows; a crash after both writes (before the
  // checkpoint commit) leaves BOTH, and the replay re-appends. Replay
  // from the checkpoint must converge to the uninterrupted run in
  // both cases: verdict rows identical, index identical as a SET
  // (duplicate band rows from the re-append are tolerated by
  // construction — min-id semantics — and must not change verdicts).
  private val tornB1 = Seq((10L, dupText),
    (11L, "a brand new document with words never seen in the corpus before now"),
    (12L, "a brand new document with words never seen in the corpus before now"))
  // batch 1 carries BOTH a dup (20 -> 11 via the index append) and a
  // fresh survivor (22) — so the crashed batch has index rows to lose
  // (post-verdicts) or to re-append (post-commit); a batch with no
  // survivors would make the tear vacuous
  private val tornB2 = Seq(
    (20L, "a brand new document with words never seen in the corpus before now"),
    (21L, otherText),
    (22L, "yet another entirely fresh page of prose sharing no shingles anywhere"))

  for (crashPoint <- Seq("post-verdicts", "post-commit"))
    test(s"a crash at $crashPoint converges on checkpoint replay") {
      val (refIdx, refOut) = referenceRun(tornB1, tornB2)
      val (idx, out) = tornRun(tornB1, tornB2, crashPoint)
      val gotVerdicts = verdictMap(spark.read.parquet(out))
      val refVerdicts = verdictMap(spark.read.parquet(refOut))
      assert(gotVerdicts === refVerdicts,
        s"recovered verdicts diverged: $gotVerdicts vs $refVerdicts")
      // row counts too: the map collapse would hide duplicated rows
      assert(spark.read.parquet(out).count() ===
        spark.read.parquet(refOut).count(),
        "recovery duplicated or dropped verdict rows")
      val gotIdx = spark.read.parquet(idx).distinct().collect()
        .map(_.mkString("|")).toSet
      val refIdxRows = spark.read.parquet(refIdx).distinct().collect()
        .map(_.mkString("|")).toSet
      assert(gotIdx === refIdxRows,
        "recovered index diverged from the uninterrupted run (as a set)")
    }
}
