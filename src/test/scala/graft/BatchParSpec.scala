package graft

import graft.streaming.{BatchPar, DocStream}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.BatchPar]] — the index-backed loops' batch
  * parallelism policy (r15 verdict #3): a one-file-per-trigger file
  * source delivers each batch as ONE scan partition, serializing the
  * loop body onto a single core (the measured ~20 min/batch incident
  * at the 100x tier). The loop bodies spread every arriving batch
  * over the session's default parallelism.
  */
class BatchParSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(tag: String): String =
    TestSpark.tempDir(s"graft_bp_$tag").toString

  test("the seam spreads a one-partition batch over defaultParallelism") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .coalesce(1)
    assert(df.rdd.getNumPartitions == 1)
    assert(spark.sparkContext.defaultParallelism > 1)
    assert(BatchPar(df).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("a file-source micro-batch arrives one-partition-per-file and the seam restores >1 task") {
    import spark.implicits._
    val srcDir = tmp("src")
    // one single-file parquet = the one-file-per-trigger delivery shape
    (1L to 200L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(srcDir)
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Int]
    val seamed = scala.collection.mutable.ArrayBuffer.empty[Int]
    val schema = spark.read.parquet(srcDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        delivered += b.rdd.getNumPartitions
        seamed += BatchPar(b).rdd.getNumPartitions
        ()
      }
      .option("checkpointLocation", tmp("ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(delivered.nonEmpty && delivered.forall(_ == 1),
      s"the hazard: a one-file batch is ONE scan partition (got $delivered)")
    assert(seamed.forall(_ == spark.sparkContext.defaultParallelism),
      s"the seam plans the same batch with defaultParallelism tasks (got $seamed)")
  }

  test("dedupIndexedStream through the seam finds the fixture's known partners") {
    import spark.implicits._
    val dup = "the quick brown fox jumps over the lazy dog again and again today"
    def docs(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, if (i % 3 == 0) dup else s"unique text $i wholly distinct from others $i"))
        .toDF("doc_id", "text")
    val work = tmp("e2e")
    DocStream.writeSignatureIndex(docs(0L, 49L), s"$work/idx")
    docs(50L, 149L).coalesce(1).write.parquet(s"$work/in")
    val q = DocStream.dedupIndexedStream(
      spark.readStream.schema(docs(0L, 0L).schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/in"),
      s"$work/idx", s"$work/verdicts", s"$work/ckpt",
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
    val got = spark.read.parquet(s"$work/verdicts")
      .select("doc_id", "partner_id").sort("doc_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq
    // the bootstrap index holds ids 0-49, so every copy of `dup`
    // arriving later names 0, its smallest copy; the rest are unique
    assert(got == (50L to 149L).map(i => (i, if (i % 3 == 0) 0L else -1L)),
      s"verdicts: $got")
  }
}
