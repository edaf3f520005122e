package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftRuntime]]'s catalog resolves the same through both ways a
  * session gets it: injected by `spark.sql.extensions`
  * ([[GraftExtensions]]) and installed at runtime
  * ([[plans.GraftOps.install]], the test session's path).
  */
class RuntimeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** One SQL call per catalog function. */
  private val calls: Map[String, String] = Map(
    "graft_dot" -> "SELECT graft_dot(array(1L, 2L), array(3L, 4L))",
    "graft_rolling_minhash" ->
      "SELECT graft_rolling_minhash('the quick brown fox', 8)",
    "graft_approx_distinct" -> "SELECT graft_approx_distinct(id) FROM range(100)",
    "graft_approx_quantiles" -> "SELECT graft_approx_quantiles(id) FROM range(100)",
    "graft_heavy_hitters" ->
      "SELECT graft_heavy_hitters(CAST(id % 3 AS STRING)) FROM range(100)",
    "graft_bloom_agg" -> "SELECT graft_bloom_agg(id) FROM range(100)",
    "graft_bloom_contains" -> ("SELECT graft_bloom_contains(" +
      "(SELECT graft_bloom_agg(id) FROM range(100)), id) FROM range(7, 8)"),
    "graft_word_ngrams" -> "SELECT graft_word_ngrams('a b c', 2, true, false)",
    "graft_ln9" -> "SELECT graft_ln9(1000L)")

  private def state(s: SparkSession) =
    s.asInstanceOf[classic.SparkSession].sessionState

  /** `body` on a session over the test SparkContext (the JVM's one
    * running context, which the builder picks up) that gets the
    * catalog only from [[GraftExtensions]], the way a cluster session
    * configured with `spark.sql.extensions` does. Building it makes it
    * the active and default session, so both are restored afterwards.
    */
  private def withExtensionsSession(body: SparkSession => Unit): Unit = {
    val ext = new classic.SparkSession.Builder()
      .withExtensions(new GraftExtensions)
      .create()
    try {
      assert(ext.sparkContext eq spark.sparkContext)
      body(ext)
    }
    finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  /** The row_number-filter idiom InferTopKPerKey rewrites. */
  private def topK(s: SparkSession): DataFrame =
    s.range(100).select((col("id") % 3).as("k"), col("id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("k").orderBy(col("id").desc)).cast("long"))
      .filter(col("rn") <= 2)

  private def assertCatalog(s: SparkSession, which: String): Unit = {
    calls.foreach { case (name, sql) =>
      assert(s.catalog.functionExists(name), s"$which: $name does not resolve")
      assert(s.sql(sql).collect().length == 1, s"$which: $sql")
    }
    val planned = state(s).planner.strategies
    GraftRuntime.strategies.foreach(st =>
      assert(planned.contains(st), s"$which: strategy $st missing"))
    val optimized = topK(s).asInstanceOf[classic.Dataset[_]]
      .queryExecution.optimizedPlan
    assert(optimized.collectFirst { case t: plans.TopKPerKey => t }.nonEmpty,
      s"$which: InferTopKPerKey did not fire:\n$optimized")
  }

  test("every catalog function has a SQL call here") {
    assert(GraftRuntime.sqlFunctions.map(_.name).toSet == calls.keySet)
  }

  test("the catalog resolves in an extensions session and in the installed session") {
    assertCatalog(spark, "installed")
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    assert(exp.extraOptimizations.contains(plans.InferTopKPerKey))
    withExtensionsSession { ext =>
      assertCatalog(ext, "extensions")
      assert(state(ext).optimizer.extendedOperatorOptimizationRules
        .contains(plans.InferTopKPerKey))
      // same answers through both registrations
      calls.values.foreach(sql =>
        assert(ext.sql(sql).collect().toSeq == spark.sql(sql).collect().toSeq, sql))
    }
  }

  test("install twice lists each strategy and the rule once and replaces no function") {
    val registry = state(spark).functionRegistry
    val infos = GraftRuntime.sqlFunctions.map(f =>
      f.name -> registry.lookupFunction(f.identifier).get).toMap
    plans.GraftOps.install(spark)
    plans.GraftOps.install(spark)
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    GraftRuntime.strategies.foreach(st =>
      assert(exp.extraStrategies.count(_ == st) == 1, s"$st"))
    GraftRuntime.optimizerRules.foreach(r =>
      assert(exp.extraOptimizations.count(_ == r) == 1, s"$r"))
    GraftRuntime.sqlFunctions.foreach(f =>
      assert(registry.lookupFunction(f.identifier).get eq infos(f.name),
        s"${f.name} was re-registered"))
  }

  /** Names of the `.scala` files under `dir` whose text contains `needle`. */
  private def filesNaming(dir: String, needle: String): Seq[String] = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    files.filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => p.getFileName.toString)
  }

  test("GraftRuntime is the only file under src that builds a session") {
    assert(filesNaming("src", "SparkSession." + "builder") == Seq("GraftRuntime.scala"))
  }

  test("GraftRuntime is the only file under src/main that names the state-store provider") {
    assert(filesNaming("src/main", "stateStore." + "providerClass") ==
      Seq("GraftRuntime.scala"))
  }
}
