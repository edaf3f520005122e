package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[graft.jobs.LocalCorpusPipelineMain]] — the D-side composition
  * (ingest → D64 norm-exact dedup → B29 blocked embedding dedup via
  * the streaming store → D16 curate → D75 shard) driven end-to-end on
  * sf0.01 inside `sbt test`, every self-check asserted. The checks
  * themselves are the factored gate laws, whose negatives live in
  * ScaleGateSpec / ScaleStreamSpec / ScaleStreamStateSpec.
  */
class LocalCorpusPipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("the corpus lifecycle composition holds every gate law on sf0.01") {
    val dir = TestSpark.tempDir("graft_corpus_pipeline_spec").toString
    try {
      val s = graft.jobs.LocalCorpusPipelineMain.run(spark, dir,
        "/root/testdata/sf0.01")
      assert(s.totalDocs == 500)
      assert(s.normKept <= s.totalDocs && s.normKept > 0)
      assert(s.bootstrapVecs + s.streamedVecs == s.normKept,
        "the bootstrap/stream split partitions the norm keepers")
      assert(s.survivorDocs <= s.normKept && s.survivorDocs > 0)
      assert(s.curated <= s.survivorDocs && s.shardRows <= s.curated &&
        s.shardRows > 0,
        s"monotone pipeline: ${s.survivorDocs} -> ${s.curated} -> ${s.shardRows}")
      val failed = s.checks.filterNot(_.pass)
      assert(failed.isEmpty, "violated composition laws:\n" + failed
        .map(c => s"  ${c.invariant} (${c.detail})").mkString("\n"))
      assert(s.checks.size >= 10,
        s"expected the full law sweep, got ${s.checks.size}")
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }
}
