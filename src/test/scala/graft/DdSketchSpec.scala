package graft

import graft.functions.DdSketchAgg
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DdSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Qs = Seq(0.5, 0.9, 0.99)

  private def sketch(df: org.apache.spark.sql.DataFrame, c: String,
      alpha: Double = 0.01): Seq[Double] =
    df.agg(DdSketchAgg.approxQuantiles(col(c), Qs, alpha).as("q"))
      .collect().head.getSeq[Double](0)

  private def exact(values: Seq[Double], q: Double): Double = {
    val sorted = values.sorted
    sorted(math.max(1, math.ceil(q * sorted.length).toInt) - 1)
  }

  test("every quantile is within the relative-error bound") {
    // log-uniform-ish values spanning several decades
    val vals = (1 to 20000).map(i => math.exp(i / 2000.0) * (1 + (i % 7) / 10.0))
    val df = spark.createDataFrame(vals.map(Tuple1(_))).toDF("v")
    val est = sketch(df, "v")
    Qs.zip(est).foreach { case (q, e) =>
      val t = exact(vals, q)
      assert(math.abs(e - t) / t <= 0.011,
        s"q=$q est=$e exact=$t relerr=${math.abs(e - t) / t}")
    }
  }

  test("estimate is independent of partitioning (merge determinism)") {
    val base = spark.range(30000).select((col("id") % 997 + 1).cast("double").as("v"))
    val e1 = sketch(base.repartition(1), "v")
    val e32 = sketch(base.repartition(32, col("v")), "v")
    val eRand = sketch(base.repartition(13), "v")
    assert(e1 == e32 && e32 == eRand,
      s"estimates must not depend on partitioning: $e1 / $e32 / $eRand")
  }

  test("determinism: same multiset, different row order, identical bits") {
    val fwd = spark.range(10000).select((col("id") + 1).cast("double").as("v"))
    val rev = spark.range(10000).select((lit(10000) - col("id")).cast("double").as("v"))
    assert(sketch(fwd, "v") == sketch(rev, "v"))
  }

  test("mixed-sign input ranks negatives, zero, positives in value order") {
    val df = spark.createDataFrame(
      Seq(-5.0, 0.0, 1.0, 2.0, 3.0).map(Tuple1(_))).toDF("v")
    val est = sketch(df, "v")
    // p50 of 5 values is rank 3 -> the value 1.0 (two values below)
    assert(math.abs(est.head - 1.0) <= 0.011)
    val withNulls = spark.range(100)
      .select(when(col("id") % 2 === 0, (col("id") + 1).cast("double")).as("v"))
    assert(sketch(withNulls, "v").forall(!_.isNaN))
  }

  test("all-negative input keeps the relative-error guarantee (mirrored store)") {
    val vals = (1 to 5000).map(i => -math.exp(i / 700.0))
    val df = spark.createDataFrame(vals.map(Tuple1(_))).toDF("v")
    val est = sketch(df, "v")
    Qs.zip(est).foreach { case (q, e) =>
      val t = exact(vals, q)
      assert(math.abs(e - t) / math.abs(t) <= 0.011,
        s"q=$q est=$e exact=$t")
    }
  }

  test("NaN values are skipped like NULLs, not counted") {
    val df = spark.createDataFrame(
      Seq(Double.NaN, 10.0, 20.0, 30.0).map(Tuple1(_))).toDF("v")
    val est = sketch(df, "v")
    // 3 real values; p50 rank 2 -> 20
    assert(math.abs(est.head - 20.0) / 20.0 <= 0.011, s"p50=${est.head}")
  }

  test("empty input returns NaN per quantile") {
    val empty = spark.range(0).select(col("id").cast("double").as("v"))
    assert(sketch(empty, "v").forall(_.isNaN))
  }

  test("values beyond the index window clamp to boundary buckets") {
    // 1e300 maps far above MaxIdx; the estimate must come back finite
    // (boundary bucket midpoint), never throw or overflow
    val df = spark.createDataFrame(
      Seq(1e-300, 1.0, 1e300).map(Tuple1(_))).toDF("v")
    val est = sketch(df, "v")
    assert(est.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("SQL registration: graft_approx_quantiles works end-to-end") {
    spark.range(1000).select((col("id") + 1).cast("double").as("v"))
      .createOrReplaceTempView("dd_sql_probe")
    val arr = spark.sql(
      "SELECT graft_approx_quantiles(v) AS q FROM dd_sql_probe")
      .collect().head.getSeq[Double](0)
    assert(arr.length == 3)
    assert(math.abs(arr.head - 500.0) / 500.0 <= 0.011)
  }

  test("q_approx_quantiles tracks exact per-group order statistics") {
    val rows = SparkEntry.queries("q_approx_quantiles")(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    val exactRows = SparkEntry.queries("q_percentiles")(spark, TestSpark.sfDir)
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("p50"), r.getAs[Double]("p90"), r.getAs[Double]("p99"))).toMap
    rows.foreach { r =>
      val t = exactRows(r.getAs[String]("event_type"))
      def ok(est: Double, ex: Double) = math.abs(est - ex) / ex <= 0.011
      assert(ok(r.getAs[Double]("p50_approx"), t._1), s"p50 ${r}")
      assert(ok(r.getAs[Double]("p90_approx"), t._2), s"p90 ${r}")
      assert(ok(r.getAs[Double]("p99_approx"), t._3), s"p99 ${r}")
    }
  }
}
