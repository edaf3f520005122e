package graft

import graft.operators.Similarity
import graft.streaming.EmbStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.EmbStream]]: streaming embedding near-dup (live
  * SemDeDup) over a growing band index + vector store. Proves (1)
  * BATCH PARITY — one batch over the whole test corpus yields exactly
  * the verdicts implied by the batch `dedup_embedding` pair graph
  * (same quantization/banding/threshold by shared code), (2)
  * cross-batch dedup against bootstrap corpus and earlier-batch
  * survivors with index growth by survivors only, (3) replay-stable
  * verdicts when a batch re-runs against an index that already
  * contains its survivors.
  */
class EmbStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(tag: String): String =
    TestSpark.tempDir(s"graft_es_$tag").toString

  test("single-batch verdicts match the batch dedup_embedding pair graph") {
    val d = TestSpark.sfDir
    val corpus = Tables.embeddings(spark, d).select("vec_id", "embedding")
    val (bandDir, vecDir) = (tmp("band"), tmp("vec"))
    EmbStream.writeIndex(corpus.limit(0), bandDir, vecDir) // empty bootstrap
    val got = EmbStream.dedupBatch(
      Similarity.quantizeCols(corpus),
      spark.read.parquet(bandDir), spark.read.parquet(vecDir))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

    // expected: v is a dup iff the batch pair graph has some (i, v),
    // partner = min such i (pairs are i < j)
    val pairs = SparkEntry.queries("dedup_embedding")(spark, d)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = corpus.select("vec_id").collect().map(_.getLong(0)).map { v =>
      val pred = pairs.filter(_._2 == v).map(_._1)
      v -> (if (pred.isEmpty) None else Some(pred.min))
    }.toMap
    assert(got === expect,
      s"stream/batch drift on ${got.count { case (k, p) => expect(k) != p }} vecs")
    assert(expect.values.exists(_.nonEmpty), "corpus has no near-dups: vacuous")
  }

  test("cross-batch dedup through the growing index, replay-stable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // orthogonal by construction: disjoint support -> integer dot = 0
    val base: Seq[Double] = Seq.tabulate(64)(i => if (i % 2 == 0) 0.5 + 0.01 * i else 0.0)
    val orth: Seq[Double] = Seq.tabulate(64)(i => if (i % 2 == 1) 0.5 + 0.01 * i else 0.0)
    val (bandDir, vecDir, verdictsDir, ckpt) =
      (tmp("band2"), tmp("vec2"), tmp("out2"), tmp("ckpt2"))
    EmbStream.writeIndex(
      Seq((0L, base)).toDF("vec_id", "embedding"), bandDir, vecDir)

    val input = MemoryStream[(Long, Seq[Double])]
    val q = EmbStream.dedupIndexedStream(
      input.toDF().toDF("vec_id", "embedding"),
      bandDir, vecDir, verdictsDir, ckpt)
    try {
      // batch 1: 10 = corpus dup; 11 = novel direction (survivor);
      // 12 = dup of 11 (same batch, larger id -> 11 wins)
      input.addData((10L, base), (11L, orth), (12L, orth))
      q.processAllAvailable()
      // batch 2: 20 = dup of batch-1 SURVIVOR 11 via the index append;
      // 21 = dup of corpus vec 0
      input.addData((20L, orth), (21L, base))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(verdictsDir)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got === Map(
      10L -> Some(0L), 11L -> None, 12L -> Some(11L),
      20L -> Some(11L), 21L -> Some(0L)), s"verdicts: $got")

    // identical vectors verify at cosine ~1.0 (d/(sqrt(n)*sqrt(n)) can
    // land one ulp above 1.0 — the threshold compare is unaffected)
    val cosines = spark.read.parquet(verdictsDir)
      .filter("partner_id is not null")
      .collect().map(_.getDouble(2))
    assert(cosines.nonEmpty && cosines.forall(c => math.abs(c - 1.0) < 1e-12),
      s"exact-dup cosines must be ~1.0: ${cosines.toSet}")

    // index grew by survivors only
    val idxVecs = spark.read.parquet(vecDir)
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(idxVecs === Set(0L, 11L), s"vector store: $idxVecs")

    // replay stability: batch 1 re-run against the grown index (which
    // now contains survivor 11) yields identical verdicts
    val replayed = EmbStream.dedupBatch(
      Similarity.quantizeCols(
        Seq((10L, base), (11L, orth), (12L, orth)).toDF("vec_id", "embedding")),
      spark.read.parquet(bandDir), spark.read.parquet(vecDir))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(replayed === Map(10L -> Some(0L), 11L -> None, 12L -> Some(11L)),
      s"replayed verdicts drifted: $replayed")

    // forced batch replay through the ACTUAL sink path: re-running
    // micro-batch 0 with the same batchId overwrites its own
    // `batch=0` partition, so verdict ROW COUNTS in verdictsDir are
    // unchanged (exactly-once rows, not merely stable values)
    val countBefore = spark.read.parquet(verdictsDir).count()
    EmbStream.processBatch(
      Seq((10L, base), (11L, orth), (12L, orth)).toDF("vec_id", "embedding"),
      bandDir, vecDir, verdictsDir, batchId = 0L)
    val after = spark.read.parquet(verdictsDir)
    assert(after.count() === countBefore,
      "replayed batch duplicated verdict rows")
    val afterMap = after.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(afterMap === got, s"replay changed verdict values: $afterMap")
  }

  // Torn-batch recovery for the BANDED loop (r13 verdict #3; the
  // blocked twin's cases live in EmbStreamBlockedSpec): a crash
  // between the verdict overwrite and the band append, or between the
  // band append and the vector append, must converge on checkpoint
  // replay to the uninterrupted run — verdicts identical, stores
  // identical as sets.
  for (crashPoint <- Seq("post-verdicts", "mid-append"))
    test(s"banded loop: a crash at $crashPoint converges on checkpoint replay") {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      def quarter(qi: Int): Seq[Double] =
        Seq.tabulate(64)(i => if (i / 16 == qi) 0.5 + 0.01 * i else 0.0)
      // batch 0: survivor 10 + dup 11; batch 1 (the crashed one):
      // dup-of-survivor 20, dup-of-corpus 21, AND fresh survivor 22 —
      // so the torn appends have rows to lose
      val b1 = Seq((10L, quarter(2)), (11L, quarter(2)), (12L, quarter(0)))
      val b2 = Seq((20L, quarter(2)), (21L, quarter(1)), (22L, quarter(3)))
      def bootstrap(): (String, String) = {
        val (bandDir, vecDir) = (tmp("tnb"), tmp("tnv"))
        EmbStream.writeIndex(
          Seq((0L, quarter(0)), (1L, quarter(1))).toDF("vec_id", "embedding"),
          bandDir, vecDir)
        (bandDir, vecDir)
      }
      def verdictMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      // uninterrupted reference
      val (refBand, refVec) = bootstrap()
      val refOut = tmp("tnrefout")
      EmbStream.processBatch(b1.toDF("vec_id", "embedding"),
        refBand, refVec, refOut, 0L)
      EmbStream.processBatch(b2.toDF("vec_id", "embedding"),
        refBand, refVec, refOut, 1L)
      // torn run
      val (bandDir, vecDir) = bootstrap()
      val (verdictsDir, ckpt) = (tmp("tnout"), tmp("tnckpt"))
      val input = MemoryStream[(Long, Seq[Double])]
      @volatile var armed = true
      def start() = input.toDF().toDF("vec_id", "embedding").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          EmbStream.processBatch(batch, bandDir, vecDir, verdictsDir, id,
            seam = pt => if (pt == crashPoint && id == 1 && armed) {
              armed = false
              throw new RuntimeException(s"injected crash at $pt")
            })
        }
        .option("checkpointLocation", ckpt).start()
      val q1 = start()
      input.addData(b1: _*)
      q1.processAllAvailable()
      input.addData(b2: _*)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
        q1.awaitTermination()
      }
      q1.stop()
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()

      assert(verdictMap(spark.read.parquet(verdictsDir)) ===
        verdictMap(spark.read.parquet(refOut)),
        "recovered verdicts diverged from the uninterrupted run")
      def rowSet(dir: String) = spark.read.parquet(dir)
        .distinct().collect().map(_.mkString("|")).toSet
      assert(rowSet(bandDir) === rowSet(refBand),
        "recovered band index diverged (as a set)")
      assert(spark.read.parquet(vecDir).select("vec_id").distinct()
        .collect().map(_.getLong(0)).toSet ===
        spark.read.parquet(refVec).select("vec_id").distinct()
          .collect().map(_.getLong(0)).toSet,
        "recovered vector store diverged (as a set)")
    }
}
