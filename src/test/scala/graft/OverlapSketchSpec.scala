package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.operators.Corpus.overlapSketch]] estimator quality — the
  * oracle proves the sketch arithmetic bit-for-bit; this spec proves
  * the ESTIMATES mean something: distinct counts within KMV error
  * bounds of exact, intersection tracking truth on corpora with
  * known overlap (identical halves ~ full overlap, disjoint halves =
  * zero).
  */
class OverlapSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def run(dir: String) =
    operators.Corpus.overlapSketch.fn(spark, dir).collect().head

  /** Exact per-side distinct shingle counts + exact intersection. */
  private def exact(dir: String): (Long, Long, Long) = {
    val sh = operators.TextAnalysis.shingles(col("text"))
    val sides = spark.read.parquet(s"$dir/documents.parquet")
      .select((col("doc_id") % 2).as("side"), explode(sh).as("g"))
      .distinct()
    val a = sides.filter(col("side") === 0).select("g")
    val b = sides.filter(col("side") === 1).select("g")
    (a.distinct.count(), b.distinct.count(), a.intersect(b).count())
  }

  test("distinct estimates are within 4 sigma of exact on real data") {
    val d = TestSpark.sfDir
    val r = run(d)
    val (ea, eb, ei) = exact(d)
    // KMV relative std error ~ 1/sqrt(k-2) = 6.3% at k=256; 4 sigma = 25%
    def within(est: Long, ex: Long): Boolean =
      math.abs(est - ex).toDouble / ex < 0.25
    assert(within(r.getLong(0), ea), s"train est ${r.getLong(0)} vs exact $ea")
    assert(within(r.getLong(1), eb), s"valid est ${r.getLong(1)} vs exact $eb")
    // intersection error scales with 1/overlap-fraction — looser bound,
    // but it must be the right order of magnitude
    assert(ei == 0 || math.abs(r.getLong(2) - ei).toDouble / ei < 0.6,
      s"intersection est ${r.getLong(2)} vs exact $ei")
  }

  test("identical halves: intersection tracks the distinct counts") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_kmv_same").toString
    // even doc 2i and odd doc 2i+1 carry the SAME text -> both sides
    // have identical shingle sets -> intersection == each side
    val texts = (0 until 40).map(i =>
      s"shared document number $i with words w${i}a w${i}b w${i}c w${i}d w${i}e")
    texts.zipWithIndex.flatMap { case (t, i) =>
      Seq((2L * i, t, "en", "src", t.length.toLong),
        (2L * i + 1, t, "en", "src", t.length.toLong))
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r = run(dir)
    val (a, b, inter) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(a === b, s"identical sides must estimate identically: $r")
    // n < k here, so the side counts are exact and theta = max sample:
    // every sample below theta matches -> estimate ~ the distinct count
    assert(math.abs(inter - a).toDouble / a < 0.15, s"inter $inter vs side $a")
    assert(r.getDouble(3) > 0.8, s"jaccard of identical sides: ${r.getDouble(3)}")
  }

  test("disjoint halves: intersection estimates zero") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_kmv_disj").toString
    (0 until 80).map { i =>
      val side = i % 2
      (i.toLong, s"side$side doc $i tokens s${side}t${i}a s${side}t${i}b s${side}t${i}c",
        "en", "src", 40L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r = run(dir)
    assert(r.getLong(2) === 0L, s"disjoint corpora must estimate 0 overlap: $r")
    assert(r.getDouble(3) === 0.0)
  }
}
