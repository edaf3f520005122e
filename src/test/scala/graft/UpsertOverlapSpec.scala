package graft

import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The OVERLAPPING-writer hazard of the plain-parquet upsert sink,
  * demonstrated rather than merely documented (r7 verdict item 4).
  *
  * EventStreamSpec's interleaved-writer test pins what SERIALIZED
  * bodies guarantee (last-writer-wins, nothing lost). This spec pins
  * the other side of the contract: two writer bodies whose
  * read-prior..swap windows OVERLAP both read the same prior snapshot,
  * and the second swap silently drops the first writer's rows — the
  * classic lost update a transactional table format's optimistic
  * commit (Iceberg/Delta MERGE) exists to prevent, and exactly why the
  * Scaladoc names table formats the production answer for multi-driver
  * deployments.
  *
  * It also asserts the snapshot-swap invariant that BOUNDS the damage:
  * because the swap is a pair of atomic renames of complete snapshot
  * directories, the surviving view after any overlap is ONE writer's
  * complete, per-key-consistent merge output — a lost update, never a
  * torn mix of half-written files, duplicate keys, or a view regressed
  * below the prior snapshot.
  */
class UpsertOverlapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(tag: String): String =
    TestSpark.tempDir(s"graft_ov_$tag").toString

  private def view(path: String): Map[String, (Long, String)] =
    spark.read.parquet(path).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap

  test("overlapping bodies lose the first writer's update — and ONLY that") {
    import spark.implicits._
    val path = tmp("lost") + "/view"
    // batch 0 (serialized): seed the view with k0
    EventStream.upsertBatch(
      Seq(("k0", 1L, "seed")).toDF("userId", "ver", "state"),
      Seq("userId"), "ver", path, 0L)

    // OVERLAP WINDOW: both writers resolve (and pin) the SAME prior
    // snapshot before either swaps — what two drivers racing on one
    // view dir do. localCheckpoint() eagerly materializes each body's
    // read so the later file renames cannot lazily redirect it (on a
    // real cluster the overlapped scans would have consumed the same
    // files); unlike persist(), it cannot plan-match other reads.
    val prior1 = spark.read.parquet(path).localCheckpoint()
    val prior2 = spark.read.parquet(path).localCheckpoint()
    // writer A merges {a1} against the pinned prior and swaps
    EventStream.upsertMergeSwap(
      Seq(("a1", 1L, "from-A")).toDF("userId", "ver", "state"),
      Seq("userId"), "ver", path, 1L, Some(prior1))
    assert(view(path) ==
      Map("k0" -> ((1L, "seed")), "a1" -> ((1L, "from-A"))))
    // writer B merges {b1} against the SAME prior (it never saw a1)
    EventStream.upsertMergeSwap(
      Seq(("b1", 1L, "from-B")).toDF("userId", "ver", "state"),
      Seq("userId"), "ver", path, 1L, Some(prior2))

    val got = view(path)
    // THE HAZARD, DEMONSTRATED: A's row is gone — plain parquet has no
    // commit conflict detection, so B's swap silently superseded A's
    assert(!got.contains("a1"),
      s"expected the lost update the doc warns about; view: $got")
    // THE BOUNDING INVARIANT: what survives is exactly writer B's
    // complete consistent merge (prior + B's batch) — no torn mix, no
    // partial snapshot, nothing regressed below the shared prior
    assert(got == Map("k0" -> ((1L, "seed")), "b1" -> ((1L, "from-B"))),
      s"view must be ONE writer's complete merge, got: $got")
    // swap atomicity left no litter and no duplicate keys
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(s"$path.tmp-*")).isEmpty)
    val df = spark.read.parquet(path)
    assert(df.groupBy("userId").count().filter(col("count") > 1).isEmpty,
      "overlap must never produce duplicate keys in the view")
  }

  test("overlap on the SAME key: one writer's value survives intact (no merge tearing)") {
    import spark.implicits._
    val path = tmp("key") + "/view"
    EventStream.upsertBatch(
      Seq(("shared", 1L, "v1")).toDF("userId", "ver", "state"),
      Seq("userId"), "ver", path, 0L)
    val prior1 = spark.read.parquet(path).localCheckpoint()
    val prior2 = spark.read.parquet(path).localCheckpoint()
    EventStream.upsertMergeSwap(
      Seq(("shared", 2L, "A2")).toDF("userId", "ver", "state"),
      Seq("userId"), "ver", path, 1L, Some(prior1))
    EventStream.upsertMergeSwap(
      Seq(("shared", 3L, "B3")).toDF("userId", "ver", "state"),
      Seq("userId"), "ver", path, 1L, Some(prior2))
    // B's body never saw ver=2, so the survivor is B's merge of
    // (v1, B3) — a consistent value from one body, version 3, exactly
    // one row. A's ver=2 is the lost update.
    assert(view(path) == Map("shared" -> ((3L, "B3"))))
  }
}
