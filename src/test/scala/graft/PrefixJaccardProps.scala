package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

/** Property: on RANDOM corpora, `dedup_jaccard_prefix` returns exactly
  * the pairs a brute-force in-memory Jaccard computes over the same
  * df-capped 3-shingle universe — the losslessness of the prefix
  * filter proven beyond the fixed test corpus (the driver oracle) on
  * adversarially small vocabularies, where shared shingles and
  * boundary-sized prefixes are dense.
  */
object PrefixJaccardProps extends Properties("PrefixJaccard") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark

  private val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
  private val doc = Gen.choose(3, 10).flatMap(n => Gen.listOfN(n, word))
  private val corpus = Gen.choose(4, 10).flatMap(n => Gen.listOfN(n, doc))

  /** Reference: word-3-shingle sets (distinct), df-cap never hit at
    * these sizes, exact Jaccard >= 0.5 pairs.
    */
  private def reference(docs: List[List[String]]): Set[(Long, Long)] = {
    val sets = docs.zipWithIndex.map { case (ws, i) =>
      val sh =
        if (ws.length < 3) Set(ws.mkString(" "))
        else ws.sliding(3).map(_.mkString(" ")).toSet
      (i.toLong, sh)
    }
    (for {
      (i, a) <- sets; (j, b) <- sets if i < j
      inter = (a & b).size
      if inter > 0 && inter.toDouble / (a.size + b.size - inter) >= 0.5
    } yield (i, j)).toSet
  }

  property("equals brute-force Jaccard on random corpora") =
    forAllNoShrink(corpus) { docs =>
      import spark.implicits._
      val dir = TestSpark.tempDir("graft_pfx_prop").toString
      try {
        docs.zipWithIndex.map { case (ws, i) =>
          val t = ws.mkString(" ")
          (i.toLong, t, "en", "src", t.length.toLong)
        }.toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.parquet(s"$dir/documents.parquet")
        val got = operators.Dedup.prefixJaccard.fn(spark, dir)
          .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val want = reference(docs)
        if (got != want) {
          println(s"MISMATCH docs=$docs got=$got want=$want")
        }
        got == want
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(dir)).deleteRecursively()
      }
    }
}
