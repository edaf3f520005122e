package graft

import graft.streaming.{EventStream, ParsedEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** [[EventStream.backfill]]: Trigger.AvailableNow over accumulated
  * history. Proves (1) the whole backlog is processed and the query
  * stops on its own, (2) ingest is actually BOUNDED (more than one
  * micro-batch for a multi-file backlog), (3) stateful sequence
  * numbering is continuous ACROSS ingest batches — a key whose events
  * span files still gets 1,2,3,... — and the result equals the same
  * transform run as one batch.
  */
class AvailableNowSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rawSchema = StructType(Seq(StructField("value", StringType)))

  private def pipeline(df: DataFrame): DataFrame = {
    val (valid, _) = EventStream.parseRoute(df)
    EventStream.enrich(valid.as[ParsedEvent]).toDF()
  }

  test("backfill drains a multi-file backlog in bounded batches with state continuity") {
    val srcDir = TestSpark.tempDir("graft_an_src").toString
    val outDir = TestSpark.tempDir("graft_an_out").toString
    val ckpt = TestSpark.tempDir("graft_an_ckpt").toString
    // 6 history files; file f carries the (f+1)-th event of EACH of 10
    // users, so every user's sequence spans all six files
    val users = (0 until 10).map(u => s"u$u")
    (0 until 6).foreach { f =>
      users.map { u =>
        s"""{"id":"$u","type":"login","timestamp":${1000L + f},"data":{"k":"v$f"}}"""
      }.toDF("value").coalesce(1)
        .write.mode("append").parquet(srcDir)
    }
    val q = EventStream.backfill(
      spark, srcDir, rawSchema, pipeline, outDir, ckpt, maxFilesPerTrigger = 2)
    q.awaitTermination(120000L)
    assert(!q.isActive, "AvailableNow query must stop after draining the backlog")
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"6 files at 2/trigger should take >=3 batches, got $batches")

    val got = spark.read.parquet(outDir)
      .select("originalId", "eventType", "sequence")
      .as[(String, String, Int)].collect().toSet
    // state continuity: each user counts 1..6 straight through
    val expected = (for (u <- users; s <- 1 to 6) yield (u, "login", s)).toSet
    assert(got === expected)

    // batch parity: the same composed transform over the same files in
    // ONE batch produces the same (id, type, sequence) rows
    val batchRows = pipeline(spark.read.schema(rawSchema).parquet(srcDir))
      .select("originalId", "eventType", "sequence")
      .as[(String, String, Int)].collect().toSet
    assert(batchRows === got)
  }

  test("a live continuation resumes the backfill's offsets and state") {
    val srcDir = TestSpark.tempDir("graft_cont_src").toString
    val outDir = TestSpark.tempDir("graft_cont_out").toString
    val ckpt = TestSpark.tempDir("graft_cont_ckpt").toString
    def writeFile(f: Int): Unit =
      Seq(s"""{"id":"u1","type":"login","timestamp":${1000L + f},"data":{}}""")
        .toDF("value").coalesce(1).write.mode("append").parquet(srcDir)
    // phase 1: backfill three history files (sequences 1..3)
    (0 until 3).foreach(writeFile)
    val q1 = EventStream.backfill(
      spark, srcDir, rawSchema, pipeline, outDir, ckpt, maxFilesPerTrigger = 2)
    assert(q1.awaitTermination(120000L),
      "backfill must drain and stop before the continuation starts (else q2 " +
        "would open the same checkpoint against a live query)")
    // phase 2: SAME builder, live trigger, same checkpoint — new file
    // continues u1's sequence at 4, old files are not reprocessed
    val q2 = EventStream.backfill(
      spark, srcDir, rawSchema, pipeline, outDir, ckpt,
      maxFilesPerTrigger = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
    try {
      writeFile(3)
      q2.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .select("originalId", "sequence")
        .as[(String, Int)].collect().sorted.toSeq
      assert(got === (1 to 4).map(s => ("u1", s)),
        s"live continuation must extend, not replay: $got")
    } finally q2.stop()
  }
}
