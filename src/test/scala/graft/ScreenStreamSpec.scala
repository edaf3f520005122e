package graft

import graft.operators.{Contamination, TextAnalysis}
import graft.streaming.ScreenStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.ScreenStream]]: live contamination screening
  * against a static benchmark fingerprint set — the streaming twin of
  * `decontaminate_winnow`, sharing its fingerprint expression so the
  * two cannot drift.
  */
class ScreenStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir
  private def tmp(tag: String): String =
    TestSpark.tempDir(s"graft_ss_$tag").toString

  test("the live fingerprint expression IS the batch text_winnow fingerprint set") {
    val live = Tables.documents(spark, d)
      .select(col("doc_id"),
        explode(TextAnalysis.winnowFpsExpr(col("text"))).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = SparkEntry.queries("text_winnow")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live == batch,
      s"live-only: ${(live -- batch).take(5)}; batch-only: ${(batch -- live).take(5)}")
  }

  test("screening the train slice reproduces decontaminate_winnow exactly") {
    val benchDir = tmp("bench")
    val docs = Tables.documents(spark, d).select("doc_id", "text")
    ScreenStream.writeBenchFps(
      docs.filter(col("doc_id") % Contamination.BenchMod === 0), benchDir)
    val train = docs.filter(col("doc_id") % Contamination.BenchMod =!= 0)
    val verdicts = ScreenStream.screenBatch(
      train, spark.read.parquet(benchDir))
    assert(verdicts.count() == train.count(),
      "every arriving doc must receive a verdict row")
    val flagged = verdicts.filter(col("fps_shared") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("decontaminate_winnow")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(flagged == batch,
      s"live-only: ${(flagged -- batch).take(3)}; batch-only: ${(batch -- flagged).take(3)}")
  }

  test("streaming screen end-to-end, replay replaces its batch partition") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (benchDir, verdictsDir, ckpt) = (tmp("bench2"), tmp("out"), tmp("ckpt"))
    val leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ScreenStream.writeBenchFps(
      Seq((0L, leak)).toDF("doc_id", "text"), benchDir)

    val input = MemoryStream[(Long, String)]
    val q = ScreenStream.screenStream(
      input.toDF().toDF("doc_id", "text"), benchDir, verdictsDir, ckpt)
    try {
      // 10 contains the leaked run verbatim (>= w + 2 tokens of it),
      // 11 is clean
      input.addData(
        (10L, s"prefix words then $leak and a suffix"),
        (11L, "completely unrelated clean document about query engines"))
      q.processAllAvailable()
      input.addData((20L, "another clean one arriving later"))
      q.processAllAvailable()
    } finally q.stop()

    def verdictMap() = spark.read.parquet(verdictsDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = verdictMap()
    assert(got.keySet == Set(10L, 11L, 20L), s"verdicts: $got")
    assert(got(10L) > 0L, "the winnowing guarantee must flag the verbatim run")
    assert(got(11L) == 0L && got(20L) == 0L)

    // exactly-once: re-processing batch 0 (a replay) REPLACES its
    // partition — same row count, same verdicts
    ScreenStream.processBatch(
      Seq((10L, s"prefix words then $leak and a suffix"),
        (11L, "completely unrelated clean document about query engines"))
        .toDF("doc_id", "text"),
      benchDir, verdictsDir, batchId = 0L)
    assert(verdictMap() == got, "replayed batch must replace, not append")
  }
}
