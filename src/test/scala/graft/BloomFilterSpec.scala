package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior of the graft_bloom_agg / graft_bloom_contains pair (the
  * manual runtime-filter surface behind q_bloom_prune).
  */
class BloomFilterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def bloomOf(filter: String): String =
    s"(SELECT graft_bloom_agg(id) FROM range(0, 1000) WHERE $filter)"

  test("no false negatives: every inserted key probes true") {
    val n = spark.sql(
      s"""SELECT COUNT(*) AS n FROM range(0, 1000)
          WHERE id % 7 = 0
            AND graft_bloom_contains(${bloomOf("id % 7 = 0")}, id)""")
      .head().getLong(0)
    assert(n == 143, s"all 143 multiples of 7 in [0,1000) must probe true, got $n")
  }

  test("false positives are rare and removable by an exact join") {
    // probe 100k keys against a 143-key filter: FPP should be far
    // below 5% at the default sizing (1M expected items)
    val fp = spark.sql(
      s"""SELECT COUNT(*) AS n FROM range(1000, 101000)
          WHERE graft_bloom_contains(${bloomOf("id % 7 = 0")}, id)""")
      .head().getLong(0)
    assert(fp < 5000, s"false-positive count $fp out of 100k is implausibly high")
  }

  test("bloom probe handles null without error and never admits it") {
    val rows = spark.sql(
      s"""SELECT graft_bloom_contains(${bloomOf("id % 7 = 0")},
                                      CAST(NULL AS BIGINT)) AS hit""")
      .collect()
    assert(rows.length == 1 && (rows(0).isNullAt(0) || !rows(0).getBoolean(0)),
      "null probe must not claim membership")
  }

  test("q_bloom_prune equals the plain semi-join it accelerates") {
    val d = TestSpark.sfDir
    val pruned = SparkEntry.queries("q_bloom_prune")(spark, d)
      .orderBy("l_returnflag").collect().toSeq
    val plain = spark.read.parquet(s"$d/lineitem.parquet")
      .join(spark.read.parquet(s"$d/orders.parquet")
        .filter(col("o_totalprice") > 400000).select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        Det.sumd(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("l_returnflag").collect().toSeq
    assert(pruned == plain)
  }

  test("literal and column probes compile: no CodeGenerator error, no interpreter fallback") {
    // xxhash64(7L) folds to a negative literal; spliced after the
    // probe's `(Long)` cast it read as a subtraction and failed to compile
    assert(spark.sql("SELECT xxhash64(7L) < 0").head().getBoolean(0))
    val probes = Seq(
      "literal" -> s"SELECT graft_bloom_contains(${bloomOf("id < 100")}, 7L)",
      "column" -> s"SELECT graft_bloom_contains(${bloomOf("id < 100")}, id) FROM range(7, 8)")
    for ((kind, sql) <- probes) {
      val errors = CodegenErrors.during(assert(spark.sql(sql).head().getBoolean(0), kind))
      assert(errors.isEmpty, s"$kind probe: ${errors.mkString("\n")}")
    }
  }
}

/** The ERROR lines Spark's `CodeGenerator` logs (one per generated
  * class janino rejects) while `body` runs.
  */
object CodegenErrors {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, Logger}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.Property

  def during(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-codegen-errors", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR)) seen.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator").asInstanceOf[Logger]
    appender.start()
    logger.addAppender(appender)
    try body
    finally logger.removeAppender(appender)
    seen.toArray(Array.empty[String]).toSeq
  }
}
