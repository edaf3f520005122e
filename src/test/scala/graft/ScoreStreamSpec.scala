package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.ScoreStream]]: the streamed margins must be
  * bit-identical to the batch `classify_nb` query for the same
  * documents, and a fully-OOV document must score exactly the
  * closed-form n·corr9 + prior9 (the add-one algebra the artifacts
  * contract promises).
  */
class ScoreStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  test("stream scoring equals batch classify_nb; OOV rides the corr9 term") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = TestSpark.tempDir("graft_score").toString
    try {
      val (model, consts) = operators.Select.nbArtifacts(spark, d)
      val corpus = Tables.documents(spark, d).select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)))

      val input = MemoryStream[(Long, String)]
      val q = streaming.ScoreStream.scoreStream(
        input.toDF().toDF("doc_id", "text"), model, consts,
        s"$dir/out", s"$dir/ckpt")
      try {
        input.addData(corpus.take(5).toSeq)
        q.processAllAvailable()
        val oov = (9999L, "zzqx1 zzqx2 zzqx3 zzqx4")
        input.addData(corpus.slice(5, 10).toSeq :+ oov)
        q.processAllAvailable()
      } finally q.stop()

      val got = spark.read.parquet(s"$dir/out")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      assert(got.size == 11)

      // batch parity: identical margins for the shared doc_ids
      val batch = SparkEntry.queries("classify_nb")(spark, d)
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      corpus.take(10).foreach { case (id, _) =>
        assert(got(id)._2 == batch(id),
          s"doc $id: stream margin ${got(id)._2} != batch ${batch(id)}")
      }

      // OOV: every token unseen, so margin9 = 4*corr9 + prior9 exactly
      val c = consts.collect().head
      val expected9 = 4L * c.getLong(0) + c.getLong(1)
      assert(got(9999L)._1 == 4L)
      assert(got(9999L)._2 == expected9.toDouble / 1e9,
        s"OOV margin ${got(9999L)._2} != closed form ${expected9 / 1e9}")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("a replayed batch replaces its output instead of duplicating it") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_score2").toString
    try {
      val (model, consts) = operators.Select.nbArtifacts(spark, d)
      val batch = Tables.documents(spark, d).select("doc_id", "text").limit(3)
      streaming.ScoreStream.scoreBatch(batch, model, consts, s"$dir/out", 7L)
      val first = spark.read.parquet(s"$dir/out")
        .select("doc_id", "nb_margin").as[(Long, Double)].collect().sorted
      // the replay: same batch id, same data
      streaming.ScoreStream.scoreBatch(batch, model, consts, s"$dir/out", 7L)
      val second = spark.read.parquet(s"$dir/out")
        .select("doc_id", "nb_margin").as[(Long, Double)].collect().sorted
      assert(second.length == 3, s"replay duplicated rows: ${second.length}")
      assert(first.toSeq == second.toSeq)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }
}
