package graft

import scala.sys.process._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Multimodal, MultimodalArrow}

/** Proves the Python/Arrow multimodal decode path (`mapInArrow`,
  * python/graft_multimodal.py) satisfies the Scala-side contract
  * (graft.operators.MultimodalArrow): bit-exact value parity with the
  * oracle-pinned `multimodal_meta` stub at sf0.01 — the driver's
  * correctness SF — plus the batch-shape and partitioning evidence.
  *
  * Environment-gated the way the sketch specs are: if `python3` with
  * pyspark+pyarrow+numpy is not importable, the suite CANCELS (does
  * not vacuously pass) — the boundary is then proven only to the
  * launch contract, like B4's load()/start() line. In this sandbox
  * the stack IS present, so the parity assertions run for real.
  */
class MultimodalArrowSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf01 = "/root/testdata/sf0.01"

  private lazy val pythonReady: Boolean =
    try Process(Seq("python3", "-c", "import pyspark, pyarrow, numpy")).! == 0
    catch { case _: Exception => false }

  // One subprocess run shared by every test: ~40 s of local-mode
  // PySpark startup is paid once. Lazily launched so a cancelled
  // suite never forks Python at all.
  private lazy val outDir: String = {
    val dir = TestSpark.tempDir("graft-arrow").toString
    val log = new StringBuilder
    val exit = Process(
      Seq("python3", MultimodalArrow.scriptPath, sf01, dir),
      new java.io.File(".")).!(ProcessLogger(l => log.append(l).append('\n')))
    assert(exit == 0, s"python arrow job failed (exit $exit):\n$log")
    dir
  }

  private def gated(name: String)(body: => Unit): Unit =
    test(name) {
      assume(pythonReady,
        "python3 with pyspark/pyarrow/numpy unavailable — Arrow path " +
          "proven to the launch boundary only (see MultimodalArrow Scaladoc)")
      body
    }

  gated("arrow path hash-matches the multimodal_meta stub oracle at sf0.01") {
    val (arrowOnly, scalaOnly) =
      MultimodalArrow.parityDiff(spark, s"$outDir/frames.parquet", sf01)
    val arrowRows = spark.read.parquet(s"$outDir/frames.parquet").count()
    val scalaRows = Multimodal.meta.fn(spark, sf01).count()
    assert(arrowRows == scalaRows, "row-count drift between the two paths")
    assert(arrowRows > 0, "parity would be vacuous on an empty result")
    assert(arrowOnly.isEmpty,
      s"rows only the Arrow path produced: ${arrowOnly.head(3).mkString("; ")}")
    assert(scalaOnly.isEmpty,
      s"rows only the Scala stub produced: ${scalaOnly.head(3).mkString("; ")}")
  }

  gated("arrow output schema equals the FrameFeature contract schema") {
    val got = spark.read.parquet(s"$outDir/frames.parquet").schema
    val want = MultimodalArrow.contractSchema
    assert(got.fields.map(f => f.name -> f.dataType).toSeq ==
      want.fields.map(f => f.name -> f.dataType).toSeq,
      s"schema drift: got $got, want $want")
  }

  gated("runtime actually chunked: batch shape obeys maxRecordsPerBatch") {
    val stats = spark.read.option("multiLine", "true")
      .json(s"$outDir/batch_stats.json")
      .select(col("input_rows"), col("partitions"),
        col("max_records_per_batch"), col("batch_rows"))
      .head()
    val inputRows = stats.getLong(0)
    val partitions = stats.getLong(1)
    val maxPer = stats.getLong(2)
    val batches = stats.getSeq[Long](3)
    val docCount = Tables.documents(spark, sf01).count()
    assert(inputRows == docCount, "the Arrow job must have seen every document")
    assert(batches.sum == inputRows, "batch rows must partition the input exactly")
    assert(batches.forall(_ <= maxPer),
      s"a batch exceeded the $maxPer-row pin: ${batches.max}")
    assert(partitions > 1 && batches.size > partitions,
      s"no real chunking: ${batches.size} batches over $partitions partitions " +
        "— a monolithic batch per partition would hide the streaming shape " +
        "a real codec depends on for memory bounds")
  }
}
