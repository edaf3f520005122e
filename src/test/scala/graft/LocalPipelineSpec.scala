package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drives [[graft.jobs.LocalPipelineMain]] — the full reference
  * pipeline (generator → parse/route/enrich → watermarked sliding
  * metrics → latest-state upsert) as four checkpointed streaming
  * queries over local files — inside `sbt test`, so the A/B family
  * has a single end-to-end entrypoint run in CI (r14 verdict #7).
  * The main is self-checking; this spec asserts its summary.
  */
class LocalPipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("the composed pipeline holds its laws end-to-end on local files") {
    val dir = TestSpark.tempDir("graft_local_pipeline").toString
    try {
      val s = graft.jobs.LocalPipelineMain.run(spark, dir, rows = 2000)
      assert(s.generated == 2000)
      assert(s.valid > 0 && s.errors > 0,
        s"both routes must carry rows: valid=${s.valid} errors=${s.errors}")
      assert(s.metricsRows > 0, "the flush must close and emit real windows")
      val failed = s.checks.filterNot(_.pass)
      assert(failed.isEmpty, "pipeline law violations:\n" + failed
        .map(c => s"  ${c.invariant} (${c.detail})").mkString("\n"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
