package graft

import org.scalatest.funsuite.AnyFunSuite

/** Correctness of the distributed BPE trainer (`bpe_train`, rows-only
  * by design) against an independent single-machine reference
  * implementation — on a hand-computable corpus and on the real
  * sf0.001 corpus.
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Naive reference BPE: word-frequency form, leftmost-greedy merge,
    * ties broken (count desc, left asc, right asc).
    */
  private def referenceBpe(
      words: Map[String, Long], numMerges: Int): Seq[(Int, String, String, Long)] = {
    var state: Map[Vector[String], Long] =
      words.map { case (w, f) => w.split("").toVector -> f }
    val out = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    for (rank <- 1 to numMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      state.foreach { case (syms, f) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      if (counts.nonEmpty) {
        val ((a, b), cnt) = counts.toSeq
          .sortBy { case ((a, b), c) => (-c, a, b) }.head
        out += ((rank, a, b, cnt))
        state = state.groupMapReduce(
          { case (syms, _) => merge(syms, a, b) })(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  private def merge(syms: Vector[String], a: String, b: String): Vector[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, x) =>
      if (acc.nonEmpty && acc.last == a && x == b)
        acc.init :+ (a + b)
      else acc :+ x
    }

  test("hand-computable corpus: merges match the worked example") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_bpe").toString
    try {
      // "aaab" x2 + "aab" x1: round 1 counts (a,a)=5 (a,b)=3 -> merge aa;
      // round 2 counts (aa,a)=2 (a,b)=2 (aa,b)=1 -> tie broken to (a,b)
      Seq((0L, "aaab aaab aab", "en", "src", 13L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("bpe_train")(spark, dir)
        .collect().map(r => (r.getLong(0).toInt, r.getString(1),
          r.getString(2), r.getAs[Long]("cnt")))
      assert(got(0) == ((1, "a", "a", 5L)), s"round 1: ${got.toSeq}")
      assert(got(1) == ((2, "a", "b", 2L)), s"round 2: ${got.toSeq}")
      val expect = referenceBpe(Map("aaab" -> 2L, "aab" -> 1L), 10)
      assert(got.toSeq == expect, s"full reference disagreement: ${got.toSeq} vs $expect")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("tokenization partitions every word and matches reference totals") {
    import org.apache.spark.sql.functions._
    val d = TestSpark.sfDir
    // round-trip inside Spark: symbols must concatenate back to the
    // word for EVERY word occurrence (tokenization is a partition)
    val merges = operators.Bpe.train(spark, d).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val words = spark.read.parquet(s"$d/documents.parquet")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val broken = words
      .select(col("word"), operators.Bpe.applyMerges(split(col("word"), ""), merges).as("toks"))
      .filter(concat_ws("", col("toks")) =!= col("word"))
      .count()
    assert(broken == 0, s"$broken words do not round-trip through tokenization")
    // corpus totals match the reference tokenizer
    val wordFreqs = words.groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val refMerges = referenceBpe(wordFreqs, 10).map { case (_, a, b, _) => (a, b) }
    assert(refMerges == merges)
    val refTotal = wordFreqs.map { case (w, f) =>
      refMerges.foldLeft(w.split("").toVector) {
        case (syms, (a, b)) => merge(syms, a, b)
      }.size * f
    }.sum
    val gotTotal = SparkEntry.queries("text_tokenize_bpe")(spark, d)
      .agg(sum(col("n_bpe_tokens"))).head().getLong(0)
    assert(gotTotal == refTotal, s"corpus BPE token totals differ: $gotTotal vs $refTotal")
  }

  test("real corpus: all 10 merges match the reference implementation") {
    import org.apache.spark.sql.functions._
    val d = TestSpark.sfDir
    val words = spark.read.parquet(s"$d/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = referenceBpe(words, 10)
      .map { case (r, a, b, c) => (r.toLong, a, b, a + b, c) }
    val got = SparkEntry.queries("bpe_train")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getAs[Long]("cnt"))).toSeq
    assert(got == expect)
  }
}
