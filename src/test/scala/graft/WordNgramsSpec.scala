package graft

import graft.functions.WordNgrams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[graft.functions.WordNgrams]] (r18's compiled single-pass
  * gram builder) to the reference semantics of the r17 projection it
  * replaced: `split(text, " ")` (limit -1, empty words kept), grams =
  * `concat_ws(" ", ws[i..i+n-1])`, optional `array_distinct`
  * (first-occurrence order), short-doc fallback `[text]`, null -> null.
  * The test corpora contain no sub-n-word docs and no nulls, so the
  * fallback/null branches are covered HERE with synthetic rows.
  */
class WordNgramsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The r17 HOF reference, verbatim semantics in plain Scala. */
  private def reference(text: String, n: Int, fallback: Boolean,
      distinct: Boolean): Seq[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < n) { if (fallback) Seq(text) else Seq.empty }
    else {
      val grams = (0 to ws.length - n).map(i => ws.slice(i, i + n).mkString(" "))
      if (distinct) grams.distinct else grams
    }
  }

  private val cases = Seq(
    "the quick brown fox jumps",
    "a b",                       // under n=3: fallback territory
    "a b c",                     // exactly n words
    "",                          // empty text: one empty word
    " ",                         // two empty words
    "x  y z",                    // consecutive spaces -> empty word kept
    " lead and trail ",          // leading/trailing spaces
    "dup dup dup dup dup",       // duplicate grams (distinct order)
    "héllo wörld ünïcode ünïcode wörld héllo bytes", // multi-byte UTF-8
    "a a a b a a a")             // duplicates with interleaving

  test("matches the r17 HOF reference on every (n, fallback, distinct) combo") {
    import spark.implicits._
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    for (n <- Seq(1, 2, 3, 5); fb <- Seq(true, false); dist <- Seq(true, false)) {
      val got = df.select(col("id"),
          WordNgrams.wordNgrams(col("t"), n, fb, dist).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      cases.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == reference(t, n, fb, dist),
          s"n=$n fb=$fb dist=$dist text='$t'")
      }
    }
  }

  test("null text yields null (explode drops the row)") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, null)).toDF("id", "t")
    val exploded = df.select(col("id"),
      explode(WordNgrams.wordNgrams(col("t"), 3, shortDocFallback = true,
        distinct = true)).as("g"))
    assert(exploded.filter(col("id") === 2L).count() == 0)
    assert(exploded.filter(col("id") === 1L).count() == 2)
  }

  test("interpreted eval matches the codegen path") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    // eval() directly (interpreted), vs the DataFrame path above which
    // runs through whole-stage codegen (doGenCode)
    for (t <- cases; n <- Seq(1, 3); fb <- Seq(true, false); dist <- Seq(true, false)) {
      val e = WordNgrams(BoundReference(0, StringType, nullable = true), n, fb, dist)
      val out = e.eval(InternalRow(UTF8String.fromString(t)))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val got = (0 until out.numElements())
        .map(i => out.getUTF8String(i).toString)
      assert(got == reference(t, n, fb, dist), s"interp n=$n fb=$fb dist=$dist '$t'")
    }
  }

  test("SQL registration builds the expression") {
    import spark.implicits._
    val df = Seq((1L, "a b c d")).toDF("id", "t")
    df.createOrReplaceTempView("wn_t")
    val rows = spark.sql(
      "SELECT graft_word_ngrams(t, 3, true, true) AS g FROM wn_t").collect()
    assert(rows.head.getSeq[String](0) == Seq("a b c", "b c d"))
  }

  test("matches the reference on real documents (sf test data)") {
    val rows = Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("text"),
        WordNgrams.wordNgrams(col("text"), 3, shortDocFallback = true,
          distinct = true).as("g"))
      .limit(100).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](2) == reference(r.getString(1), 3,
        fallback = true, distinct = true), s"doc ${r.getLong(0)}")
    }
  }
}
