package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[graft.operators.TextAnalysis.winnow]]: the winnowing GUARANTEE —
  * two documents sharing a contiguous token run long enough to hold a
  * full window share at least one fingerprint — plus the selection
  * density that makes the scheme worth running (far fewer
  * fingerprints than grams).
  */
class WinnowSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private var dir: String = _

  override def afterAll(): Unit = if (dir != null) {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("shared runs guarantee a shared fingerprint; density ~ 2/(w+1)") {
    import spark.implicits._
    dir = TestSpark.tempDir("graft_winnow").toString
    // docs 0 and 1: disjoint word streams EXCEPT a shared 8-token run
    // (>= w + 2 = 6 tokens, so one full window fits inside it)
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val doc0 = s"a0 a1 a2 a3 a4 $run a5 a6 a7 a8"
    val doc1 = s"b0 b1 b2 $run b3 b4 b5 b6 b7 b8 b9"
    // doc 2: unrelated, no shared runs with anyone
    val doc2 = (0 until 30).map(i => s"c$i").mkString(" ")
    Seq((0L, doc0), (1L, doc1), (2L, doc2))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val fps = operators.TextAnalysis.winnow.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    assert((byDoc(0L) & byDoc(1L)).nonEmpty,
      "docs sharing an 8-token run must share a fingerprint")
    assert((byDoc(0L) & byDoc(2L)).isEmpty && (byDoc(1L) & byDoc(2L)).isEmpty,
      "unrelated docs should not collide at this scale")

    // density: doc 2 has 28 grams; winnowing w=4 should keep roughly
    // 2/(w+1) = 40% of them, far fewer than all — allow a loose upper
    // bound that still fails if selection silently becomes keep-all
    assert(byDoc(2L).size < 20, s"doc2 kept ${byDoc(2L).size} of 28 grams")
    assert(byDoc(2L).size >= 5, s"doc2 kept implausibly few: ${byDoc(2L).size}")
  }

  test("dedup_winnow pairs docs sharing a long run and matches a brute-force sweep") {
    import spark.implicits._
    val dir2 = TestSpark.tempDir("graft_winnow2").toString
    try {
      // docs 0/1 share a 12-token run — long enough for >= 2 windows,
      // so they must share >= WinnowMinShared = 2 fingerprints and pair
      val run = (0 until 12).map(i => s"shared$i").mkString(" ")
      val doc0 = s"a0 a1 a2 a3 $run a4 a5 a6"
      val doc1 = s"b0 b1 $run b2 b3 b4 b5"
      val doc2 = (0 until 30).map(i => s"c$i").mkString(" ")
      Seq((0L, doc0), (1L, doc1), (2L, doc2))
        .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$dir2/documents.parquet")

      val pairs = SparkEntry.queries("dedup_winnow")(spark, dir2)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      assert(pairs.map(_._1).toSet == Set((0L, 1L)),
        s"expected exactly the (0,1) run-sharing pair, got ${pairs.toSeq}")
      assert(pairs.head._2 >= 2)

      // brute-force cross-check on the real sf0.001 corpus: recompute
      // the pair table from the winnow output in plain Scala
      val fps = operators.TextAnalysis.winnow.fn(spark, TestSpark.sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val byFp = fps.groupBy(_._2).filter(_._2.length <= 100) // df cap
      val sizes = byFp.values.flatten.groupBy(_._1).view.mapValues(_.size).toMap
      val refPairs = byFp.values.flatMap { rows =>
        val ids = rows.map(_._1).toSeq.sorted
        for (x <- ids; y <- ids if x < y) yield (x, y)
      }.groupBy(identity).view.mapValues(_.size).filter(_._2 >= 2).toMap
      val got = SparkEntry.queries("dedup_winnow")(spark, TestSpark.sfDir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      assert(got.keySet == refPairs.keySet,
        s"pair sets differ: extra=${got.keySet -- refPairs.keySet} missing=${refPairs.keySet -- got.keySet}")
      got.foreach { case (k @ (x, y), (shared, cont)) =>
        assert(shared == refPairs(k).toLong, s"pair $k shared count")
        val expect = math.floor(
          shared.toDouble / math.min(sizes(x), sizes(y)) * 1e6) / 1e6
        assert(cont == expect, s"pair $k containment $cont != $expect")
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir2)).deleteRecursively()
    }
  }
}
