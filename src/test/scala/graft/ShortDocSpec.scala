package graft

import org.scalatest.funsuite.AnyFunSuite

/** The dedup family must handle documents with fewer than 3 words
  * (whole-text fallback shingle) — exercised on a synthetic corpus
  * because the driver testdata has none.
  */
class ShortDocSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private var dir: String = _

  override def afterAll(): Unit = if (dir != null) {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("identical short docs are found by the shingle dedup family") {
    import spark.implicits._
    dir = TestSpark.tempDir("graft_short").toString
    Seq(
      (0L, "tiny doc", "en", "srcA", 8L),
      (1L, "tiny doc", "en", "srcB", 8L), // exact 2-word duplicate of 0
      (2L, "the quick brown fox jumps over the lazy dog again today", "en", "srcA", 55L),
      (3L, "the quick brown fox jumps over the lazy dog again tomorrow", "en", "srcB", 58L),
      (4L, "solo", "en", "srcC", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val pairs = operators.Dedup.ngramJaccard.fn(spark, dir)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"short-doc duplicate pair missing from $pairs")
    assert(pairs.contains((2L, 3L)), "regular near-dup pair missing")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "singleton matched something")

    val fps = operators.Dedup.simhash.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fps.contains((0L, 1L)), "simhash missed the identical short docs")
  }
}
