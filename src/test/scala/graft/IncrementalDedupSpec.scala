package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[graft.operators.Dedup.incremental]] semantics the oracle's real
  * corpus can't isolate: corpus-vs-corpus duplicates are NEVER
  * re-paired (the whole point of incremental dedup), and among
  * identical shard docs the FIRST copy survives — later ones all
  * point at the earliest duplicate as their partner.
  */
class IncrementalDedupSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private var dir: String = _

  override def afterAll(): Unit = if (dir != null) {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
  }

  // even doc_id = already-deduped corpus, odd = newly-arrived shard
  test("shard dedups against corpus and earlier shard docs only") {
    import spark.implicits._
    dir = TestSpark.tempDir("graft_incr").toString
    val dup = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "completely different text about distributed query engines at scale"
    Seq(
      (0L, dup, "en", "srcA", 60L),   // corpus original
      (2L, dup, "en", "srcB", 60L),   // corpus-internal duplicate of 0
      (4L, other, "en", "srcA", 60L), // corpus singleton
      (1L, dup, "en", "srcC", 60L),   // shard dup of corpus 0/2
      (3L, dup, "en", "srcD", 60L),   // shard dup of corpus AND shard 1
      (5L, "unique shard document with its own words entirely", "en", "srcE", 49L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val out = operators.Dedup.incremental.fn(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // only shard (odd) docs can be dropped, and only the duplicated ones
    assert(out.keySet === Set(1L, 3L), s"got $out")
    // the corpus-internal duplicate (0,2) must NOT appear: those ids
    // are already settled; re-flagging them is the quadratic re-pair
    // this operator exists to avoid
    assert(!out.contains(0L) && !out.contains(2L) && !out.contains(4L))
    // partner = minimum matching id: the corpus original, not the
    // corpus duplicate and not a fellow shard doc
    assert(out(1L) === 0L, s"1's partner should be corpus doc 0: $out")
    assert(out(3L) === 0L, s"3's partner should be corpus doc 0: $out")
    // unique shard doc survives untouched
    assert(!out.contains(5L))
  }
}
