package graft

import graft.streaming.{BatchPar, DocStream}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.BatchPar]] — the production parallelism seam for
  * file-source micro-batches (r15 verdict #3): a one-file-per-trigger
  * file source delivers each batch as ONE scan partition, serializing
  * the loop body onto a single core (the measured ~20 min/batch
  * incident at the 100x tier). The seam repartitions the arriving
  * batch inside the loop body when asked and leaves Kafka-delivered
  * partitioning alone by default.
  */
class BatchParSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(tag: String): String =
    TestSpark.tempDir(s"graft_bp_$tag").toString

  test("the seam spreads a one-partition batch; None leaves partitioning alone") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .coalesce(1)
    assert(df.rdd.getNumPartitions == 1)
    assert(BatchPar(df, Some(4)).rdd.getNumPartitions == 4)
    assert(BatchPar(df, None).rdd.getNumPartitions == 1,
      "the Kafka default must not add an exchange")
    assert(BatchPar(df, Some(0)).rdd.getNumPartitions == 1,
      "a non-positive request is a no-op, not a crash")
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
        seamed += BatchPar(b, Some(4)).rdd.getNumPartitions
        ()
      }
      .option("checkpointLocation", tmp("ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(delivered.nonEmpty && delivered.forall(_ == 1),
      s"the hazard: a one-file batch is ONE scan partition (got $delivered)")
    assert(seamed.forall(_ == 4),
      s"the seam plans the same batch with >1 task (got $seamed)")
  }

  test("dedupIndexedStream through the seam produces the same verdicts as without") {
    import spark.implicits._
    val dup = "the quick brown fox jumps over the lazy dog again and again today"
    def docs(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, if (i % 3 == 0) dup else s"unique text $i wholly distinct from others $i"))
        .toDF("doc_id", "text")
    val results = Seq(Some(4), None).map { bp =>
      val work = tmp(s"e2e${bp.isDefined}")
      DocStream.writeSignatureIndex(docs(0L, 49L), s"$work/idx")
      docs(50L, 149L).coalesce(1).write.parquet(s"$work/in")
      val q = DocStream.dedupIndexedStream(
        spark.readStream.schema(docs(0L, 0L).schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$work/in"),
        s"$work/idx", s"$work/verdicts", s"$work/ckpt",
        trigger = Trigger.AvailableNow(), batchPartitions = bp)
      q.awaitTermination()
      spark.read.parquet(s"$work/verdicts")
        .select("doc_id", "partner_id").sort("doc_id")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSeq
    }
    assert(results(0) == results(1),
      "the seam is a physical-layout change only — verdicts are identical")
    assert(results(0).exists(_._2 >= 0), "the corpus has real duplicates")
  }
}
