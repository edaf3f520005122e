package graft

import graft.operators.Substring
import org.scalatest.funsuite.AnyFunSuite

/** The suffix-sort substring dedup (graft.operators.Substring) on
  * synthetic corpora: maximal-span semantics, the segment-boundary
  * case dedup_segments misses, and the cross-partition boundary
  * handoff on handcrafted partitions.
  */
class SubstringSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val L = 20 // must match Substring.MinRepeatTokens

  /** Run dedup_substring over an ad-hoc documents table. */
  private def spansOf(docs: Seq[(Long, String)]): Set[(Long, Long, Long, Long)] = {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_substr").toString
    try {
      docs.map { case (id, text) => (id, text, "en", "src", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      SparkEntry.queries("dedup_substring")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  private def words(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$prefix$i")

  test("cross-doc repeat straddling segment boundaries is found at full extent") {
    // A 25-token run shared by two docs at DIFFERENT offsets (3 vs 1
    // tokens of prefix) — so it straddles every fixed word-8 segment
    // grid and dedup_segments cannot match it segment-for-segment.
    val common = words("c", 25)
    val docA = (words("a", 3) ++ common ++ words("x", 2)).mkString(" ")
    val docB = (words("b", 1) ++ common ++ words("y", 3)).mkString(" ")
    val spans = spansOf(Seq((1L, docA), (2L, docB)))
    // doc 1: tokens 4..28 (1-based), doc 2: tokens 2..26 — both length 25
    assert(spans == Set((1L, 4L, 28L, 25L), (2L, 2L, 26L, 25L)))

    // the fixed-granularity operator misses it: word-8 segments of A
    // and B never line up (offsets differ by 2 mod 8)
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_substr_seg").toString
    try {
      Seq((1L, docA, "en", "src", docA.length.toLong),
        (2L, docB, "en", "src", docB.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      val segKept = SparkEntry.queries("dedup_segments")(spark, dir)
        .filter("n_segs > n_kept_segs").count()
      assert(segKept == 0L,
        "dedup_segments should NOT see the offset-shifted repeat (that's the gap this operator closes)")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("within-doc self-repeat yields two separate maximal spans") {
    val common = words("c", 25)
    val doc = (words("p", 5) ++ common ++ words("q", 30) ++ common ++ words("r", 5)).mkString(" ")
    val spans = spansOf(Seq((7L, doc)))
    // occurrences at tokens 6..30 and 61..85; the 30-token gap > L
    // keeps them separate islands
    assert(spans == Set((7L, 6L, 30L, 25L), (7L, 61L, 85L, 25L)))
  }

  test("overlapping repeats merge into one maximal span") {
    // doc 2 contains tokens 1..30 of doc 1's 40-token run twice is
    // overkill — simpler: two docs sharing a 40-token run produce ONE
    // 40-token span, not two 20-token windows
    val common = words("c", 40)
    val docA = (words("a", 2) ++ common).mkString(" ")
    val docB = (common ++ words("b", 2)).mkString(" ")
    val spans = spansOf(Seq((1L, docA), (2L, docB)))
    assert(spans == Set((1L, 3L, 42L, 40L), (2L, 1L, 40L, 40L)))
  }

  test("below-threshold overlap and unique text report nothing") {
    val common = words("c", L - 1) // 19 tokens: one below threshold
    val docA = (words("a", 5) ++ common ++ words("x", 5)).mkString(" ")
    val docB = (words("b", 5) ++ common ++ words("y", 5)).mkString(" ")
    val docC = words("z", 60).mkString(" ")
    assert(spansOf(Seq((1L, docA), (2L, docB), (3L, docC))).isEmpty)
  }

  test("boundary handoff: equal-key blocks straddling partitions are detected") {
    import spark.implicits._
    // handcrafted 4-partition layout; h=5 block straddles partitions
    // 0/1, h=9 block straddles 1/2/3 (middle partition entirely one
    // key), h=1 and h=12 are singletons -> never covered. Partition 2
    // being single-row checks the first==last edge; the (h=12)-only
    // tail checks the no-next-neighbour edge.
    val parts: Seq[Seq[(Long, Long, Long)]] = Seq(
      Seq((1L, 10L, 1L), (5L, 11L, 1L)),
      Seq((5L, 12L, 1L), (9L, 13L, 1L)),
      Seq((9L, 14L, 1L)),
      Seq((9L, 15L, 1L), (12L, 16L, 1L)))
    // one index per partition, mapped back to its handcrafted rows —
    // parallelize(0..3, 4) pins exactly one element per partition
    val byIndex = spark.sparkContext.parallelize(parts.indices, parts.size)
      .flatMap(i => parts(i))
    val df = byIndex.toDF("h", "doc_id", "pos")
    val covered = Substring.coveredPositions(df)
      .collect().map(r => r.getLong(0)).toSet
    assert(covered == Set(11L, 12L, 13L, 14L, 15L),
      s"straddling blocks must be fully covered, singletons never: $covered")
  }
}
