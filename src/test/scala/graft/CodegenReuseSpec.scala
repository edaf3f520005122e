package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftOps

/** [[GraftRuntime.sessionConfs]]: a streaming query restarted on a
  * graft session reuses the generated classes the JVM already compiled,
  * and install sets each conf only where the session left it unset.
  * Every query start clones the session under a new UUID; with artifact
  * isolation on, each clone gets its own executor class loader, and
  * `CodeGenerator`'s cache (keyed by loader and source) misses.
  */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Key = "spark.sql.artifact.isolation.enabled"

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("kind", StringType),
    StructField("v", DoubleType)))

  /** Janino compiles of one file-source → from_json → filter → to_json
    * → text-sink AvailableNow run over `input`, with a fresh
    * checkpoint and output.
    */
  private def compilesOfOneRun(input: String): Long = {
    val out = TestSpark.tempDir("graft_cg_out").toFile
    val ckpt = TestSpark.tempDir("graft_cg_ckpt").toFile
    try {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val q = spark.readStream.schema(StructType(Seq(StructField("value", StringType))))
        .text(input)
        .select(from_json(col("value"), schema).as("r")).select("r.*")
        .filter(col("kind") === "a" && col("v") > 1.0)
        .select(to_json(struct(col("id"), col("v"))).as("value"))
        .writeStream.format("text")
        .option("path", out.getPath)
        .option("checkpointLocation", ckpt.getPath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000L)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(!q.isActive && q.exception.isEmpty, s"query failed: ${q.exception}")
      assert(spark.read.text(out.getPath).count() == 50)
      compiles
    } finally {
      FileUtils.deleteDirectory(out)
      FileUtils.deleteDirectory(ckpt)
    }
  }

  /** Compiles of the second of two identical runs over fresh input. */
  private def compilesOfSecondRun(): Long = {
    val input = TestSpark.tempDir("graft_cg_in").toFile
    try {
      val lines = (0 until 200).map { i =>
        s"""{"id":$i,"kind":"${if (i % 2 == 0) "a" else "b"}","v":${i % 4}.5}"""
      }
      Files.write(input.toPath.resolve("part-0.json"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      compilesOfOneRun(input.getPath)
      compilesOfOneRun(input.getPath)
    } finally FileUtils.deleteDirectory(input)
  }

  test("a restarted streaming query compiles no new classes") {
    assert(spark.conf.get(Key) == "false")
    val second = compilesOfSecondRun()
    assert(second == 0, s"second identical run compiled $second classes")
  }

  test("with artifact isolation on, the same restart recompiles") {
    var second = 0L
    TestSpark.withConfs(Key -> "true") {
      second = compilesOfSecondRun()
    }
    assert(spark.conf.get(Key) == "false")
    assert(second > 0, "an isolated session should recompile on every query start")
  }

  test("install keeps a value the session sets explicitly") {
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val explicit = Seq(Key -> "true", provider ->
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    val s = spark.newSession()
    explicit.foreach { case (k, v) => s.conf.set(k, v) }
    GraftOps.install(s)
    explicit.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
    val fresh = spark.newSession()
    GraftOps.install(fresh)
    assert(fresh.conf.get(Key) == "false")
    assert(fresh.conf.get(provider) ==
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }

  test("a second install changes no conf") {
    val s = spark.newSession()
    GraftOps.install(s)
    val before = s.conf.getAll
    GraftOps.install(s)
    assert(s.conf.getAll == before)
  }
}
