package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[DiskGuard]] — the pre-flight refusal that replaces the r15
  * 78-GB-shuffle-fills-the-disk failure mode, plus the banded-join
  * candidate projection the flat emb loop guards on.
  */
class DiskGuardSpec extends AnyFunSuite {

  private val p = DiskGuard.Projection("spec write", 60L << 30,
    "lower SPARK_GRAFT_SCALE_COPIES")

  test("a projection over the budget refuses loudly, naming the recovery") {
    // 60 GB projected against 100 GB usable at 50%: refuse
    val msg = DiskGuard.check(100L << 30, p, 0.5)
    assert(msg.isDefined)
    assert(msg.get.contains("spec write") &&
      msg.get.contains("lower SPARK_GRAFT_SCALE_COPIES") &&
      msg.get.contains("SPARK_GRAFT_DISK_GUARD_FRACTION"),
      s"the refusal must name the projection, the recovery, and the knob: $msg")
  }

  test("a projection inside the budget passes; the fraction moves the line") {
    assert(DiskGuard.check(200L << 30, p, 0.5).isEmpty)
    assert(DiskGuard.check(100L << 30, p, 0.7).isEmpty,
      "a raised fraction admits the same projection")
    assert(DiskGuard.check(100L << 30, p, 0.1).isDefined)
  }

  test("require throws against the real filesystem on a doctored projection") {
    val huge = DiskGuard.Projection("doctored",
      Long.MaxValue / 4, "free disk")
    val e = intercept[IllegalStateException] {
      DiskGuard.require("/tmp", huge, 0.5)
    }
    assert(e.getMessage.contains("doctored") &&
      e.getMessage.contains("free disk"))
    // a tiny projection against a not-yet-created work dir passes
    // (the guard walks up to the nearest existing ancestor)
    DiskGuard.require("/tmp/graft_no_such_dir/yet/deeper",
      DiskGuard.Projection("tiny", 1L, "n/a"), 0.5)
  }

  test("dirBytes sums a tree and returns 0 for a missing path") {
    val d = TestSpark.tempDir("graft_dg").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/a"),
      Array.fill[Byte](100)(1))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$d/sub"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/sub/b"),
      Array.fill[Byte](50)(1))
    assert(DiskGuard.dirBytes(d) == 150L)
    assert(DiskGuard.dirBytes("/tmp/graft_definitely_missing") == 0L)
  }

  test("the banded-join candidate projection matches the bucket algebra") {
    val spark = TestSpark.spark
    import spark.implicits._
    // buckets: (0,"x") holds 2 index rows, (0,"y") holds 3 -> sumSq =
    // 4 + 9 = 13, idxRows = 5; 10 arrival band rows hashing
    // proportionally meet 10 * 13 / 5 = 26 candidates
    val index = Seq((1L, 0, "x"), (2L, 0, "x"), (3L, 0, "y"),
      (4L, 0, "y"), (5L, 0, "y"))
      .toDF("vec_id", "band_id", "band_val")
    assert(ScaleStream.projectedJoinCandidates(index, 10L) == 26L)
    assert(ScaleStream.projectedJoinCandidates(index.limit(0), 10L) == 0L,
      "an empty index projects zero, not a division error")
  }
}
