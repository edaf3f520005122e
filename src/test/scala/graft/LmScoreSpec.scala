package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[graft.operators.TextAnalysis.lmScore]]: the self-scored MLE
  * bigram LM assigns higher (less negative) average log-probability
  * to documents made of COMMON continuations of a history than to
  * rare ones, with exactly the quantized-ln values the table
  * construction predicts.
  */
class LmScoreSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private var dir: String = _

  override def afterAll(): Unit = if (dir != null) {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("common continuations outscore rare ones, at predicted values") {
    import spark.implicits._
    dir = TestSpark.tempDir("graft_lm").toString
    // history "h" has 10 total continuations: 8 distinct rare words
    // (count 1 each) and one word "c" seen twice
    val docs =
      (0 until 8).map(i => (i.toLong, s"h r$i")) ++
        Seq((8L, "h c"), (9L, "h c"))
    docs.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val got = operators.TextAnalysis.lmScore.fn(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    def ln9(i: Int): Long = math.floor(math.log(i.toDouble) * 1e9).toLong
    // rare doc: p = 1/10 -> lnp9 = L[1] - L[10]; common: p = 2/10
    val rareExpected = (ln9(1) - ln9(10)).toDouble / 1e9
    val commonExpected = (ln9(2) - ln9(10)).toDouble / 1e9
    (0 until 8).foreach { i =>
      assert(got(i.toLong) === ((1L, rareExpected)), s"doc $i: ${got(i.toLong)}")
    }
    Seq(8L, 9L).foreach { i =>
      assert(got(i) === ((1L, commonExpected)), s"doc $i: ${got(i)}")
    }
    assert(commonExpected > rareExpected)
  }

  test("text_lm3_heldout scores only held-out docs and its backoff genuinely fires") {
    import org.apache.spark.sql.functions._
    val d = TestSpark.sfDir
    val got = SparkEntry.queries("text_lm3_heldout")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // exactly the hash-split held-out docs with >= 3 tokens
    val heldOut = Tables.documents(spark, d)
      .select(col("doc_id"), operators.Sampling.splitCol(col("text")).as("sp"),
        size(split(col("text"), " ")).as("n"))
      .filter(col("sp") =!= "train" && col("n") >= 3)
      .collect().map(_.getLong(0)).toSet
    assert(got.map(_._1).toSet == heldOut,
      "output docs must be exactly the held-out >=3-token set")
    got.foreach { case (id, n, b1, b2, avg) =>
      assert(b1 + b2 <= n, s"doc $id: backoff counts exceed positions")
      assert(avg <= 0, s"doc $id: avg log-prob must be non-positive, got $avg")
      assert(!avg.isNaN && !avg.isInfinite)
    }
    assert(got.map(_._5).min < 0, "no doc scored strictly below zero")
    // the whole point of the held-out split: some trigram contexts are
    // unseen (backoff fires), yet not all (the model has real hits)
    val totalBo = got.map(t => t._3 + t._4).sum
    val totalN = got.map(_._2).sum
    assert(totalBo > 0, "backoff never fired — held-out split is broken")
    assert(totalBo < totalN, "every position backed off — model learned nothing")
  }
}
