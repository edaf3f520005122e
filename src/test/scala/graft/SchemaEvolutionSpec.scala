package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift read discipline — the other half of the encoding
  * guards (EncodingSpec): a 100-TB table written over years gains
  * columns. Parquet handles this by per-file schemas; Spark only
  * reconciles them when asked (`mergeSchema`), otherwise the table
  * schema is ONE footer's — reading a mixed directory without the
  * option silently drops (or fails on) the new column depending on
  * which file wins. This spec pins the behaviors the engine relies
  * on.
  */
class SchemaEvolutionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mixedDir(): String = {
    val dir = TestSpark.tempDir("graft-evo").toString
    // v1 files: (id, a); v2 files add column b
    Seq((1L, "x"), (2L, "y")).toDF("id", "a")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((3L, "z", 30L), (4L, "w", 40L)).toDF("id", "a", "b")
      .coalesce(1).write.mode("append").parquet(dir)
    dir
  }

  test("mergeSchema unifies evolved partitions and null-fills old files") {
    val df = spark.read.option("mergeSchema", "true").parquet(mixedDir())
    assert(df.columns.sorted.toSeq == Seq("a", "b", "id"))
    val rows = df.orderBy("id")
      .select(col("id"), col("b")).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows.take(2).forall(_.isNullAt(1)), "v1 rows must null-fill b")
    assert(rows.drop(2).map(_.getLong(1)).toSeq == Seq(30L, 40L))
  }

  test("an explicit schema is the deterministic alternative to footer roulette") {
    // Projecting through a caller-supplied schema reads both file
    // generations consistently without a merge pass over all footers
    // (the cheap choice when the unified schema is known — e.g. from
    // a catalog), including null-fill of missing columns.
    val dir = mixedDir()
    val merged = spark.read.option("mergeSchema", "true").parquet(dir).schema
    val df = spark.read.schema(merged).parquet(dir)
    assert(df.count() == 4)
    assert(df.filter(col("b").isNull).count() == 2)
    // and column pruning still reaches the scan under the fixed schema
    val plan = df.select("id").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<id:bigint>"),
      s"pruning must survive an explicit schema:\n$plan")
  }
}
