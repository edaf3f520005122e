package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LongArrayDotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("matches the interpreted higher-order-function result") {
    import spark.implicits._
    val df = spark.range(100).select(
      transform(sequence(lit(1), lit(64)),
        i => pmod(xxhash64(col("id") * i), lit(1000L)) - 500L).as("a"),
      transform(sequence(lit(1), lit(64)),
        i => pmod(xxhash64(col("id") + i), lit(1000L)) - 500L).as("b"))
    val got = df.select(GraftFunctions.dotLong(col("a"), col("b")).as("d"))
      .as[Long].collect().toSeq
    val ref = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0L), (s, v) => s + v).as("d"))
      .as[Long].collect().toSeq
    assert(got == ref)
  }

  test("graft_dot resolves in SQL on the installed session") {
    val r = spark.sql("SELECT graft_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .collect().head.getLong(0)
    assert(r == 32L)
  }

  test("norm via self-dot") {
    assert(spark.sql("SELECT graft_dot(array(3L, 4L), array(3L, 4L)) AS d")
      .collect().head.getLong(0) == 25L)
  }

  test("rolling minhash and HLL aggregate are SQL-registered too") {
    // SQL path agrees with the Column API path
    val viaSql = spark.sql(
      "SELECT graft_rolling_minhash('the quick brown fox', 8) AS h")
      .collect().head.getLong(0)
    val viaCol = spark.range(1)
      .select(graft.functions.RollingMinHash
        .rollingMinHash(lit("the quick brown fox"), 8).as("h"))
      .collect().head.getLong(0)
    assert(viaSql == viaCol)
    // aggregate: ~1000 distinct ids, p=12 sketch -> within 5%
    spark.range(1000).createOrReplaceTempView("hll_ids")
    val est = spark.sql(
      "SELECT graft_approx_distinct(id) AS d FROM hll_ids")
      .collect().head.getLong(0)
    assert(math.abs(est - 1000L) < 50, s"estimate $est")
    // null handling: nulls contribute nothing
    val estNull = spark.sql(
      "SELECT graft_approx_distinct(CASE WHEN id < 0 THEN id END) AS d FROM hll_ids")
      .collect().head.getLong(0)
    assert(estNull == 0L)
  }
}
