package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The V2 write path's two-phase commit protocol
  * ([[graft.sources.JsonCommitSink]]): committed output is complete
  * and exactly the task-committed files; a mid-job failure leaves NO
  * visible rows (abort sweeps staging); schema round-trips through
  * the JSON encoding including nested types.
  */
class JsonCommitSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fmt = "graft.sources.JsonCommitSink"

  test("committed write is complete, visible, and staging is swept") {
    val dir = TestSpark.tempDir("graft_sink").toString
    val df = spark.range(0, 1000, 1, 6)
      .select(col("id"), (col("id") * 2).cast("double").as("dbl"),
        concat(lit("s"), col("id")).as("str"),
        struct(col("id").as("a"), lit("x").as("b")).as("nested"))
    df.write.format(fmt).option("path", dir).mode("append").save()

    val back = spark.read.schema(df.schema).json(dir)
    assert(back.count() === 1000)
    assert(back.select(sum("id")).as[Long].head() === (0L until 1000L).sum)
    assert(back.filter(col("nested.b") =!= "x").count() === 0)
    // one visible file per input partition; no staging left behind
    val files = new java.io.File(dir).listFiles().map(_.getName).toSeq
    assert(files.count(_.startsWith("part-")) === 6, files.toString)
    assert(!files.contains("_temp"), files.toString)
  }

  test("a failed job commits NOTHING (abort sweeps all staging)") {
    val dir = TestSpark.tempDir("graft_sink_abort").toString
    val df = spark.range(0, 1000, 1, 6).select(col("id"))
    val e = intercept[Exception] {
      df.write.format(fmt).option("path", dir)
        .option("poisonValue", "700") // fails the task holding id=700
        .mode("append").save()
    }
    assert(e.getMessage != null)
    val root = new java.io.File(dir)
    val visible = Option(root.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.getName.startsWith("part-"))
    assert(visible.isEmpty, s"aborted job must leave no visible files: $visible")
    val temp = new java.io.File(root, "_temp")
    assert(!temp.exists() || temp.listFiles().isEmpty,
      "abort must sweep the staging directory")
  }
}
