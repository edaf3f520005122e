package graft

import scala.sys.process._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ClassifyArrow, Select}

/** Proves the Python/Arrow NB scoring hook (`mapInArrow`,
  * python/graft_classify.py) satisfies the Scala-side contract
  * (graft.operators.ClassifyArrow): bit-exact value parity with the
  * registered, oracle-pinned `classify_nb` at sf0.01 — through the
  * EXPORTED model artifacts, so the round trip (train in Scala →
  * ship artifacts → score in Python) is what's proven, not just the
  * arithmetic — plus the batch-shape evidence. Second consumer of the
  * Arrow boundary pattern (MultimodalArrowSpec is the first).
  *
  * Environment-gated exactly like MultimodalArrowSpec: cancels (never
  * vacuously passes) without python3+pyspark+pyarrow.
  */
class ClassifyArrowSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf01 = "/root/testdata/sf0.01"

  private lazy val pythonReady: Boolean =
    try Process(Seq("python3", "-c", "import pyspark, pyarrow")).! == 0
    catch { case _: Exception => false }

  // One artifact export + one subprocess run shared by every test
  // (~40 s of local-mode PySpark startup paid once); lazily launched
  // so a cancelled suite never forks Python at all.
  private lazy val outDir: String = {
    val art = TestSpark.tempDir("graft-nb-art").toString
    ClassifyArrow.writeArtifacts(spark, sf01, art)
    val dir = TestSpark.tempDir("graft-nb-out").toString
    val log = new StringBuilder
    val exit = Process(
      Seq("python3", ClassifyArrow.scriptPath, sf01, art, dir),
      new java.io.File(".")).!(ProcessLogger(l => log.append(l).append('\n')))
    assert(exit == 0, s"python arrow job failed (exit $exit):\n$log")
    dir
  }

  private def gated(name: String)(body: => Unit): Unit =
    test(name) {
      assume(pythonReady,
        "python3 with pyspark/pyarrow unavailable — Arrow scoring hook " +
          "proven to the launch boundary only (see ClassifyArrow Scaladoc)")
      body
    }

  gated("arrow scoring through exported artifacts matches classify_nb bit-exactly") {
    val (arrowOnly, scalaOnly) =
      ClassifyArrow.parityDiff(spark, s"$outDir/scored.parquet", sf01)
    val arrowRows = spark.read.parquet(s"$outDir/scored.parquet").count()
    val scalaRows = Select.nbClassify.fn(spark, sf01).count()
    assert(arrowRows == scalaRows, "row-count drift between the two paths")
    assert(arrowRows > 0, "parity would be vacuous on an empty result")
    assert(arrowOnly.isEmpty,
      s"rows only the Arrow path produced: ${arrowOnly.head(3).mkString("; ")}")
    assert(scalaOnly.isEmpty,
      s"rows only the registered query produced: ${scalaOnly.head(3).mkString("; ")}")
  }

  gated("arrow output schema equals the scoring contract schema") {
    val got = spark.read.parquet(s"$outDir/scored.parquet").schema
    val want = ClassifyArrow.contractSchema
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
      s"no real chunking: ${batches.size} batches over $partitions partitions")
  }

  gated("exported artifacts carry the literal trained model") {
    // the handoff is the registered trainer's own frames — tok-level
    // llr9 and the two scoring constants — so the exported model and
    // the distributed scorer cannot drift (exceptAll both directions
    // against a fresh training run)
    val art = {
      val d = TestSpark.tempDir("graft-nb-art2").toString
      ClassifyArrow.writeArtifacts(spark, sf01, d); d
    }
    val (model, consts) = Select.nbArtifacts(spark, sf01)
    assert(spark.read.parquet(s"$art/model.parquet").exceptAll(model).isEmpty &&
      model.exceptAll(spark.read.parquet(s"$art/model.parquet")).isEmpty)
    assert(spark.read.parquet(s"$art/consts.parquet").exceptAll(consts).isEmpty &&
      consts.exceptAll(spark.read.parquet(s"$art/consts.parquet")).isEmpty)
  }
}
