package graft

import graft.operators.Similarity
import graft.streaming.EmbStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The CELL-BLOCKED [[graft.streaming.EmbStream]] loop — the streaming
  * twin of the batch 100-TB default (r10/r11 verdict task: EmbStream
  * banded the whole index per batch while the registered batch path
  * went blocked/hier). Proves (1) the full cross-batch loop on the
  * cell-keyed index — corpus dups, in-batch first-copy-wins, dup of an
  * earlier batch's survivor via the index append, index growth by
  * survivors only; (2) replay idempotence through the real sink path
  * (same batchId overwrites, rows AND values stable); (3) candidate
  * generation is genuinely CELL-CONFINED — identical band values in a
  * non-probed cell produce no candidate, the property a banded index
  * does not have; (4) the frozen-codebook roundtrip (bootstrap train →
  * parquet → per-batch read) is exact.
  */
class EmbStreamBlockedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(tag: String): String =
    TestSpark.tempDir(s"graft_esb_$tag").toString

  // three mutually orthogonal directions (disjoint support -> exact
  // integer dot = 0): near-dups exist only within a direction
  private val dirA: Seq[Double] = Seq.tabulate(64)(i => if (i < 21) 0.5 + 0.01 * i else 0.0)
  private val dirB: Seq[Double] = Seq.tabulate(64)(i => if (i >= 21 && i < 42) 0.5 + 0.01 * i else 0.0)
  private val dirC: Seq[Double] = Seq.tabulate(64)(i => if (i >= 42) 0.5 + 0.01 * i else 0.0)

  private def verdictMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

  test("cross-batch blocked dedup through the cell-keyed index, replay-stable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (centDir, bandDir, vecDir, verdictsDir, ckpt) =
      (tmp("cent"), tmp("band"), tmp("vec"), tmp("out"), tmp("ckpt"))
    // bootstrap: two accepted vectors on dense ids 0, 1 -> k = 2 cells
    EmbStream.writeIndexBlocked(
      Seq((0L, dirA), (1L, dirB)).toDF("vec_id", "embedding"),
      centDir, bandDir, vecDir)

    val input = MemoryStream[(Long, Seq[Double])]
    val q = EmbStream.dedupIndexedStreamBlocked(
      input.toDF().toDF("vec_id", "embedding"),
      centDir, bandDir, vecDir, verdictsDir, ckpt)
    try {
      // batch 1: 10 = corpus dup of 0; 11 = novel direction
      // (survivor); 12 = dup of 11 (same batch, larger id -> 11 wins)
      input.addData((10L, dirA), (11L, dirC), (12L, dirC))
      q.processAllAvailable()
      // batch 2: 20 = dup of batch-1 SURVIVOR 11 via the index
      // append; 21 = dup of corpus vec 1
      input.addData((20L, dirC), (21L, dirB))
      q.processAllAvailable()
    } finally q.stop()

    val got = verdictMap(spark.read.parquet(verdictsDir))
    assert(got === Map(
      10L -> Some(0L), 11L -> None, 12L -> Some(11L),
      20L -> Some(11L), 21L -> Some(1L)), s"verdicts: $got")

    // index grew by survivors only, and every index row cites a
    // codebook cell (the frozen-quantizer invariant)
    val idxVecs = spark.read.parquet(vecDir)
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(idxVecs === Set(0L, 1L, 11L), s"vector store: $idxVecs")
    val (cellIds, _) = EmbStream.readCodebook(spark, centDir)
    val idxCells = spark.read.parquet(bandDir)
      .select("cell").distinct().collect().map(_.getLong(0)).toSet
    assert(idxCells.subsetOf(cellIds.toSet),
      s"index cites unknown cells: ${idxCells -- cellIds.toSet}")

    // forced batch replay through the ACTUAL sink path: re-running
    // micro-batch 0 with the same batchId overwrites its own
    // batch=0 partition — rows and values both stable
    val before = spark.read.parquet(verdictsDir).count()
    EmbStream.processBatchBlocked(
      Seq((10L, dirA), (11L, dirC), (12L, dirC)).toDF("vec_id", "embedding"),
      centDir, bandDir, vecDir, verdictsDir, batchId = 0L)
    val after = spark.read.parquet(verdictsDir)
    assert(after.count() === before, "replayed batch duplicated verdict rows")
    assert(verdictMap(after) === got, "replay changed verdict values")

    // the FROZEN codebook was loaded from storage exactly once across
    // two streamed batches + the direct readCodebook above + the
    // forced replay (r12 verdict: it used to re-collect k·Dim rows
    // every micro-batch)
    assert(EmbStream.codebookLoads(centDir) === 1,
      s"codebook re-loaded per batch: ${EmbStream.codebookLoads(centDir)}")
  }

  test("candidate generation is cell-confined: same bands, wrong cell, no candidate") {
    import spark.implicits._
    val (centDir, bandDir, vecDir) = (tmp("cent2"), tmp("band2"), tmp("vec2"))
    EmbStream.writeIndexBlocked(
      Seq((0L, dirA), (1L, dirB)).toDF("vec_id", "embedding"),
      centDir, bandDir, vecDir)
    val (cellIds, cents) = EmbStream.readCodebook(spark, centDir)
    val arrival = Similarity.quantizeCols(
      Seq((30L, dirA)).toDF("vec_id", "embedding"))

    // sanity: against the real index the exact dup IS flagged
    val sane = verdictMap(EmbStream.dedupBatchBlocked(arrival,
      spark.read.parquet(bandDir), spark.read.parquet(vecDir),
      cellIds, cents))
    assert(sane === Map(30L -> Some(0L)), s"sanity flag failed: $sane")

    // corrupt ONLY the index rows' cell column: band values stay
    // bit-identical to the arrival's, so a banded join would still
    // match — the blocked join must not (cell equality is a join key,
    // not advisory metadata)
    val wrongCell = spark.read.parquet(bandDir)
      .withColumn("cell", lit(-999L))
    val confined = verdictMap(EmbStream.dedupBatchBlocked(arrival,
      wrongCell, spark.read.parquet(vecDir), cellIds, cents))
    assert(confined === Map(30L -> None),
      s"candidates leaked across cells: $confined")
  }

  test("frozen codebook roundtrip is exact; band rows follow the block plan") {
    import spark.implicits._
    val (centDir, bandDir, vecDir) = (tmp("cent3"), tmp("band3"), tmp("vec3"))
    val corpus = Seq((0L, dirA), (1L, dirB)).toDF("vec_id", "embedding")
    EmbStream.writeIndexBlocked(corpus, centDir, bandDir, vecDir)
    val q = Similarity.quantizeCols(corpus)
    val k = Similarity.requireBlockCells(2L)
    val (trainIds, trainCents) = Similarity.lloydCells(q, k)
    val (readIds, readCents) = EmbStream.readCodebook(spark, centDir)
    assert(readIds.toSeq === trainIds.toSeq, "cell ids drifted through parquet")
    assert(readCents.map(_.toSeq).toSeq === trainCents.map(_.toSeq).toSeq,
      "centroids drifted through parquet")

    // every vector contributes exactly probes * BlockBands index rows
    // under the CONSTANT in-cell plan (two live cells here, so both
    // probes are real)
    val (bands, _) = Similarity.blockBandPlan
    val perVec = spark.read.parquet(bandDir)
      .groupBy("vec_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perVec === Map(0L -> (bands.toLong * Similarity.blockProbe),
      1L -> (bands.toLong * Similarity.blockProbe)),
      s"band-row fan-out off the block plan: $perVec")
  }

  test("past-guard bootstrap trains the hier quantizer; loop semantics unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (centDir, bandDir, vecDir, verdictsDir, ckpt) =
      (tmp("hcent"), tmp("hband"), tmp("hvec"), tmp("hout"), tmp("hckpt"))
    // 600 corpus vectors, ids dense from 0, three directions — k =
    // ceil(600/256) = 3 exceeds the LOWERED guard seam (maxCells = 2),
    // so bootstrap must take the two-level hier path instead of
    // throwing (r12 verdict: this move was scaladoc prose, now code)
    val corpus = (0L until 600L).map { id =>
      val base = (id % 3) match {
        case 0 => dirA; case 1 => dirB; case _ => dirC
      }
      (id, base.map(_ * (1.0 + 0.0001 * id)))
    }.toDF("vec_id", "embedding")
    EmbStream.writeIndexBlocked(corpus, centDir, bandDir, vecDir, maxCells = 2)

    // the codebook IS two-level: super rows exist, and the flat
    // reader refuses it (flat arrays past the guard are exactly the
    // driver state the hier regime avoids)
    val cb = spark.read.parquet(centDir)
    assert(cb.where(col("level") === 0).count() > 0, "no super rows")
    assert(cb.where(col("level") === 1).count() === 3, "expected 3 child cells")
    intercept[IllegalStateException](EmbStream.readCodebook(spark, centDir))
    // the index SCHEMA is unchanged — the past-guard move's contract
    assert(spark.read.parquet(bandDir).columns.toSet ===
      Set("vec_id", "cell", "band_id", "band_val"))
    // every index row cites a codebook CHILD cell
    val childCells = cb.where(col("level") === 1)
      .select("cell").collect().map(_.getLong(0)).toSet
    val cited = spark.read.parquet(bandDir)
      .select("cell").distinct().collect().map(_.getLong(0)).toSet
    assert(cited.subsetOf(childCells), s"unknown cells: ${cited -- childCells}")
    // totality: every corpus vector banded in >= 1 cell
    assert(spark.read.parquet(bandDir)
      .select("vec_id").distinct().count() === 600)

    // the LIVE loop dedups through the hier assignment: a corpus dup,
    // a novel survivor, then a dup of that survivor via the append
    val alt: Seq[Double] =
      Seq.tabulate(64)(i => if (i < 21) (if (i % 2 == 0) 1.0 else -1.0) * (0.5 + 0.01 * i) else 0.0)
    val input = MemoryStream[(Long, Seq[Double])]
    val q = EmbStream.dedupIndexedStreamBlocked(
      input.toDF().toDF("vec_id", "embedding"),
      centDir, bandDir, vecDir, verdictsDir, ckpt)
    try {
      input.addData((1000L, dirA.map(_ * 1.01)), (1001L, alt))
      q.processAllAvailable()
      input.addData((2000L, alt.map(_ * 1.02)))
      q.processAllAvailable()
    } finally q.stop()
    val got = verdictMap(spark.read.parquet(verdictsDir))
    assert(got(1000L) === Some(0L), s"corpus dup missed via hier cells: $got")
    assert(got(1001L) === None, s"novel direction flagged: $got")
    assert(got(2000L) === Some(1001L), s"dup of appended survivor missed: $got")
  }

  test("re-block preserves verdicts: same accepted set, retrained cells, cache refreshed") {
    import spark.implicits._
    val (centDir, bandDir, vecDir, verdictsDir) =
      (tmp("rcent"), tmp("rband"), tmp("rvec"), tmp("rout"))
    EmbStream.writeIndexBlocked(
      Seq((0L, dirA), (1L, dirB)).toDF("vec_id", "embedding"),
      centDir, bandDir, vecDir)
    // batch 0: corpus dup + a novel survivor
    EmbStream.processBatchBlocked(
      Seq((10L, dirA), (11L, dirC)).toDF("vec_id", "embedding"),
      centDir, bandDir, vecDir, verdictsDir, batchId = 0L)
    assert(EmbStream.codebookLoads(centDir) === 1)
    val cbBefore = spark.read.parquet(centDir)
      .select("cell", "cvec").collect().map(_.toSeq).toSet
    val acceptedBefore = spark.read.parquet(vecDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(acceptedBefore === Set(0L, 1L, 11L))

    // RE-BLOCK: retrain on the accepted store (SPARSE ids — survivor
    // 11 — exercising the lowestIdSeeds rule), atomic swap of codebook
    // + band index; the accepted VECTOR STORE is the invariant
    EmbStream.reblockIndex(spark, centDir, bandDir, vecDir)
    assert(spark.read.parquet(vecDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet === acceptedBefore,
      "re-block must not touch the accepted set")
    // the quantizer genuinely RETRAINED: survivor 11 moved a centroid
    val cbAfter = spark.read.parquet(centDir)
      .select("cell", "cvec").collect().map(_.toSeq).toSet
    assert(cbAfter !== cbBefore, "re-block left every centroid unchanged")
    // the rewritten index covers every accepted vector and cites only
    // new-codebook cells
    val newCells = spark.read.parquet(centDir)
      .select("cell").collect().map(_.getLong(0)).toSet
    val idx = spark.read.parquet(bandDir)
    assert(idx.select("vec_id").distinct().collect().map(_.getLong(0)).toSet
      === acceptedBefore, "re-banded index must cover the accepted set")
    assert(idx.select("cell").distinct().collect().map(_.getLong(0)).toSet
      .subsetOf(newCells), "index cites cells outside the new codebook")

    // VERDICT PRESERVATION: dups of each accepted vector keep their
    // pre-re-block partners through the new cells
    EmbStream.processBatchBlocked(
      Seq((20L, dirA), (21L, dirC), (22L, dirB)).toDF("vec_id", "embedding"),
      centDir, bandDir, vecDir, verdictsDir, batchId = 1L)
    val got = verdictMap(spark.read.parquet(verdictsDir))
    assert(got(20L) === Some(0L) && got(21L) === Some(11L) &&
      got(22L) === Some(1L), s"verdicts drifted across the re-block: $got")
    // the swap refreshed the cache: exactly one NEW storage load
    assert(EmbStream.codebookLoads(centDir) === 2,
      "re-block must invalidate the cached codebook")

    // a corpus that grew past the guard re-blocks INTO the hier
    // regime (lowered seam); per-batch assignment follows the codebook
    EmbStream.reblockIndex(spark, centDir, bandDir, vecDir, maxCells = 1)
    assert(spark.read.parquet(centDir).where(col("level") === 0).count() > 0,
      "past-guard re-block should write a hier codebook")
    EmbStream.processBatchBlocked(
      Seq((30L, dirA), (31L, dirC)).toDF("vec_id", "embedding"),
      centDir, bandDir, vecDir, verdictsDir, batchId = 2L)
    val got3 = verdictMap(spark.read.parquet(verdictsDir))
    assert(got3(30L) === Some(0L) && got3(31L) === Some(11L),
      s"verdicts drifted across the hier re-block: $got3")
    assert(EmbStream.codebookLoads(centDir) === 3)
  }

  test("indexCellSkew matches the hand computation and trips on a hot cell") {
    import spark.implicits._
    val bandDir = tmp("skew")
    // occupancies 3 and 1 (band fan-out must not inflate the count:
    // vec 0 appears in cell 1 under TWO bands)
    Seq((0L, 1L, 0, 7L), (0L, 1L, 1, 9L), (1L, 1L, 0, 7L), (2L, 1L, 0, 7L),
      (3L, 2L, 0, 5L))
      .toDF("vec_id", "cell", "band_id", "band_val")
      .write.mode("overwrite").parquet(bandDir)
    val r = EmbStream.indexCellSkew(spark, bandDir).collect().head
    assert(r.getLong(r.fieldIndex("cells")) === 2L)
    assert(r.getLong(r.fieldIndex("n_vecs")) === 4L)
    assert(r.getLong(r.fieldIndex("max_occ")) === 3L)
    assert(r.getLong(r.fieldIndex("min_occ")) === 1L)
    assert(r.getDouble(r.fieldIndex("avg_occ")) === 2.0)
    assert(r.getDouble(r.fieldIndex("skew")) === 1.5)
    assert(!r.getBoolean(r.fieldIndex("retrain")))

    // a hot cell past the 4x discipline trips the trigger: occupancies
    // 17,1,1,1,1 -> skew = 17*5/21 = 4.05
    val hotDir = tmp("skewhot")
    ((0L until 17L).map(v => (v, 100L, 0, 1L)) ++
      (17L until 21L).map(v => (v, 100L + v, 0, 1L)))
      .toDF("vec_id", "cell", "band_id", "band_val")
      .write.mode("overwrite").parquet(hotDir)
    val hot = EmbStream.indexCellSkew(spark, hotDir).collect().head
    assert(hot.getBoolean(hot.fieldIndex("retrain")),
      s"skew ${hot.getDouble(hot.fieldIndex("skew"))} should trip retrain")
  }

  test("a pre-r13 codebook (no level column) loads as flat, not as a crash") {
    import spark.implicits._
    val (centDir, bandDir, vecDir) = (tmp("legacyc"), tmp("legacyb"), tmp("legacyv"))
    EmbStream.writeIndexBlocked(
      Seq((0L, dirA), (1L, dirB), (2L, dirC)).toDF("vec_id", "embedding"),
      centDir, bandDir, vecDir)
    val (ids, cents) = EmbStream.readCodebook(spark, centDir)
    // rewrite the codebook in the PRE-r13 layout: (idx, cell, cvec)
    // only — the upgrade scenario is a durable store bootstrapped
    // before the hier regime existed ("run once; the stream appends")
    val legacyDir = tmp("legacyold")
    spark.read.parquet(centDir).select("idx", "cell", "cvec")
      .write.mode("overwrite").parquet(legacyDir)
    val (ids2, cents2) = EmbStream.readCodebook(spark, legacyDir)
    assert(ids2.toSeq == ids.toSeq, "legacy codebook cell ids must roundtrip")
    assert(cents2.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq,
      "legacy codebook centroids must roundtrip")
  }

  test("a torn re-block (mismatched epochs) fails the next batch loudly") {
    import spark.implicits._
    val (centDir, bandDir, vecDir, verdictsDir) =
      (tmp("tornc"), tmp("tornb"), tmp("tornv"), tmp("torno"))
    EmbStream.writeIndexBlocked(
      Seq((0L, dirA), (1L, dirB)).toDF("vec_id", "embedding"),
      centDir, bandDir, vecDir)
    // the bootstrap stamped one shared epoch into both dirs
    assert(EmbStream.readEpoch(spark, centDir).nonEmpty &&
      EmbStream.readEpoch(spark, centDir) == EmbStream.readEpoch(spark, bandDir),
      "bootstrap must stamp the same epoch into codebook and index")
    val batch = Seq((100L, dirA)).toDF("vec_id", "embedding")
    // healthy store: the batch processes
    EmbStream.processBatchBlocked(batch, centDir, bandDir, vecDir,
      verdictsDir, batchId = 0L)
    // simulate the crash between reblockIndex's two swaps: the
    // codebook carries a NEW epoch, the index still the old one
    // (written through the same FS writer — a raw file overwrite would
    // trip LocalFileSystem's .crc sidecar, not the epoch check)
    EmbStream.writeEpoch(spark, centDir, "torn-retrain-epoch")
    val e = intercept[IllegalStateException] {
      EmbStream.processBatchBlocked(batch, centDir, bandDir, vecDir,
        verdictsDir, batchId = 1L)
    }
    assert(e.getMessage.contains("reblockIndex"),
      s"the torn-state error must name the recovery: ${e.getMessage}")
    // a PRE-epoch store (neither marker) must still process — the
    // check is an upgrade-compatible guard, not a new requirement
    for (d <- Seq(centDir, bandDir); f <- Seq("_graft_epoch", "._graft_epoch.crc")) {
      val p = java.nio.file.Paths.get(d, f)
      if (java.nio.file.Files.exists(p)) java.nio.file.Files.delete(p)
    }
    EmbStream.processBatchBlocked(batch, centDir, bandDir, vecDir,
      verdictsDir, batchId = 2L)
    // HALF-UPGRADED torn state (r13 review): a crash between
    // reblockIndex's two swaps on a PRE-epoch store leaves exactly one
    // marker — (Some, None) when centDir swapped first, (None, Some)
    // for the mirror-ordered maintenance job. Both are the same
    // new-codebook/old-index hazard and must fail, not fall through as
    // "pre-epoch store".
    EmbStream.writeEpoch(spark, centDir, "half-upgrade-epoch")
    val eHalf = intercept[IllegalStateException] {
      EmbStream.processBatchBlocked(batch, centDir, bandDir, vecDir,
        verdictsDir, batchId = 3L)
    }
    assert(eHalf.getMessage.contains("reblockIndex"),
      s"the (Some, None) torn state must name the recovery: ${eHalf.getMessage}")
    for (f <- Seq("_graft_epoch", "._graft_epoch.crc")) {
      val p = java.nio.file.Paths.get(centDir, f)
      if (java.nio.file.Files.exists(p)) java.nio.file.Files.delete(p)
    }
    EmbStream.writeEpoch(spark, bandDir, "half-upgrade-epoch")
    val eMirror = intercept[IllegalStateException] {
      EmbStream.processBatchBlocked(batch, centDir, bandDir, vecDir,
        verdictsDir, batchId = 3L)
    }
    assert(eMirror.getMessage.contains("reblockIndex"),
      s"the (None, Some) torn state must name the recovery: ${eMirror.getMessage}")
  }

  test("the maintenance lock fences appenders out of a re-block window") {
    import spark.implicits._
    val (centDir, bandDir, vecDir, verdictsDir) =
      (tmp("mlc"), tmp("mlb"), tmp("mlv"), tmp("mlo"))
    EmbStream.writeIndexBlocked(
      Seq((0L, dirA), (1L, dirB)).toDF("vec_id", "embedding"),
      centDir, bandDir, vecDir)
    val batch = Seq((100L, dirC)).toDF("vec_id", "embedding")
    EmbStream.processBatchBlocked(batch, centDir, bandDir, vecDir,
      verdictsDir, batchId = 0L)
    // a lock on the band index (an in-flight or crashed reblockIndex)
    // must refuse the appending batch with the recovery-naming message
    val lockFile = java.nio.file.Paths.get(s"$bandDir.maintenance")
    java.nio.file.Files.writeString(lockFile, "EmbStream.reblockIndex pid=0")
    val e = intercept[IllegalStateException] {
      EmbStream.processBatchBlocked(batch, centDir, bandDir, vecDir,
        verdictsDir, batchId = 1L)
    }
    assert(e.getMessage.contains("maintenance lock") &&
      e.getMessage.contains("delete the lock"),
      s"batch refusal must name the lock and recovery: ${e.getMessage}")
    java.nio.file.Files.delete(lockFile) // the documented operator recovery
    // the real job takes and releases the lock itself — and batches
    // run again after it
    EmbStream.reblockIndex(spark, centDir, bandDir, vecDir)
    assert(!java.nio.file.Files.exists(lockFile),
      "reblockIndex must release its lock on completion")
    EmbStream.processBatchBlocked(batch, centDir, bandDir, vecDir,
      verdictsDir, batchId = 1L)
  }

  test("a vector-store maintenance lock fences both batch loops (r14 advice)") {
    import spark.implicits._
    // compact(vecDir) locks at <vecDir>.maintenance — a bandDir-only
    // probe would sail past it and the append racing the compact swap
    // would be silently dropped when the swap installs the pre-append
    // snapshot; both loops must refuse on EVERY dir they append to
    val (centDir, bandDir, vecDir, verdictsDir) =
      (tmp("vlc"), tmp("vlb"), tmp("vlv"), tmp("vlo"))
    EmbStream.writeIndexBlocked(
      Seq((0L, dirA), (1L, dirB)).toDF("vec_id", "embedding"),
      centDir, bandDir, vecDir)
    val batch = Seq((100L, dirC)).toDF("vec_id", "embedding")
    val lockFile = java.nio.file.Paths.get(s"$vecDir.maintenance")
    java.nio.file.Files.writeString(lockFile, "Layout.compact pid=0")
    val eBlocked = intercept[IllegalStateException] {
      EmbStream.processBatchBlocked(batch, centDir, bandDir, vecDir,
        verdictsDir, batchId = 0L)
    }
    assert(eBlocked.getMessage.contains("maintenance lock"),
      s"blocked loop must refuse on the vector-store lock: ${eBlocked.getMessage}")
    // the FLAT loop appends to the same two stores — same fence
    val (bandDir2, vecDir2, verdictsDir2) = (tmp("vfb"), tmp("vfv"), tmp("vfo"))
    EmbStream.writeIndex(
      Seq((0L, dirA)).toDF("vec_id", "embedding"), bandDir2, vecDir2)
    val lock2 = java.nio.file.Paths.get(s"$vecDir2.maintenance")
    java.nio.file.Files.writeString(lock2, "Layout.compact pid=0")
    val eFlat = intercept[IllegalStateException] {
      EmbStream.processBatch(batch, bandDir2, vecDir2, verdictsDir2,
        batchId = 0L)
    }
    assert(eFlat.getMessage.contains("maintenance lock"),
      s"flat loop must refuse on the vector-store lock: ${eFlat.getMessage}")
    // recovery: delete the locks, both loops run
    java.nio.file.Files.delete(lockFile)
    java.nio.file.Files.delete(lock2)
    EmbStream.processBatchBlocked(batch, centDir, bandDir, vecDir,
      verdictsDir, batchId = 0L)
    EmbStream.processBatch(batch, bandDir2, vecDir2, verdictsDir2,
      batchId = 0L)
  }

  // ------------------------------------------------------------------
  // Torn-BATCH recovery (r13 verdict #3): the per-batch loop is
  // verdict-overwrite THEN band-append THEN vector-append with no
  // transaction across them. A crash can land between any two
  // (post-verdicts / mid-append) or after all three but before the
  // checkpoint commit (post-commit). Replay from the checkpoint must
  // converge to the uninterrupted run: verdict rows identical, band
  // index and vector store identical as SETS (the post-commit replay
  // re-appends — duplicates are tolerated by min-id semantics and
  // must not change verdicts).
  // ------------------------------------------------------------------

  // four mutually orthogonal quarter-support directions: near-dups
  // exist only within a quarter, so batch 1 carries both a dup of an
  // earlier survivor AND a fresh survivor of its own (a batch with no
  // survivors would make the append tear vacuous)
  private def quarter(qi: Int): Seq[Double] =
    Seq.tabulate(64)(i => if (i / 16 == qi) 0.5 + 0.01 * i else 0.0)
  private val tornB1 = Seq((10L, quarter(2)), (11L, quarter(2)), (12L, quarter(0)))
  private val tornB2 = Seq((20L, quarter(2)), (21L, quarter(1)), (22L, quarter(3)))

  private def bootstrapTorn(): (String, String, String) = {
    import spark.implicits._
    val (centDir, bandDir, vecDir) = (tmp("tbc"), tmp("tbb"), tmp("tbv"))
    EmbStream.writeIndexBlocked(
      Seq((0L, quarter(0)), (1L, quarter(1))).toDF("vec_id", "embedding"),
      centDir, bandDir, vecDir)
    (centDir, bandDir, vecDir)
  }

  for (crashPoint <- Seq("post-verdicts", "mid-append", "post-commit"))
    test(s"blocked loop: a crash at $crashPoint converges on checkpoint replay") {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      // uninterrupted reference
      val (refCent, refBand, refVec) = bootstrapTorn()
      val refOut = tmp("tbrefout")
      EmbStream.processBatchBlocked(tornB1.toDF("vec_id", "embedding"),
        refCent, refBand, refVec, refOut, 0L)
      EmbStream.processBatchBlocked(tornB2.toDF("vec_id", "embedding"),
        refCent, refBand, refVec, refOut, 1L)
      // torn run through a real checkpointed stream
      val (centDir, bandDir, vecDir) = bootstrapTorn()
      val (verdictsDir, ckpt) = (tmp("tbout"), tmp("tbckpt"))
      val input = MemoryStream[(Long, Seq[Double])]
      @volatile var armed = true
      def start() = input.toDF().toDF("vec_id", "embedding").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          EmbStream.processBatchBlocked(batch, centDir, bandDir, vecDir,
            verdictsDir, id,
            seam = pt => if (pt == crashPoint && id == 1 && armed) {
              armed = false
              throw new RuntimeException(s"injected crash at $pt")
            })
          if (crashPoint == "post-commit" && id == 1 && armed) {
            armed = false
            throw new RuntimeException("injected crash before the batch commit")
          }
        }
        .option("checkpointLocation", ckpt).start()
      val q1 = start()
      input.addData(tornB1: _*)
      q1.processAllAvailable()
      input.addData(tornB2: _*)
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
      assert(spark.read.parquet(verdictsDir).count() ===
        spark.read.parquet(refOut).count(),
        "recovery duplicated or dropped verdict rows")
      def rowSet(dir: String, cols: String*) =
        spark.read.parquet(dir).select(cols.head, cols.tail: _*)
          .distinct().collect().map(_.mkString("|")).toSet
      assert(rowSet(bandDir, "vec_id", "cell", "band_id", "band_val") ===
        rowSet(refBand, "vec_id", "cell", "band_id", "band_val"),
        "recovered band index diverged (as a set)")
      assert(rowSet(vecDir, "vec_id") === rowSet(refVec, "vec_id"),
        "recovered vector store diverged (as a set)")
    }

  test("a re-block by ANOTHER JVM refreshes this JVM's cached codebook (epoch-validated)") {
    import spark.implicits._
    val (centDir, bandDir, vecDir) = (tmp("xjvmc"), tmp("xjvmb"), tmp("xjvmv"))
    EmbStream.writeIndexBlocked(
      Seq((0L, dirA), (1L, dirB)).toDF("vec_id", "embedding"),
      centDir, bandDir, vecDir)
    val (ids1, _) = EmbStream.readCodebook(spark, centDir)
    val loads1 = EmbStream.codebookLoads(centDir)
    // same epoch: a second read serves from cache, no new load
    EmbStream.readCodebook(spark, centDir)
    assert(EmbStream.codebookLoads(centDir) === loads1,
      "same-epoch read must hit the cache")
    // simulate an offline maintenance re-block in a DIFFERENT JVM:
    // rewrite codebook + index + epochs directly, WITHOUT touching
    // this JVM's invalidation path (which only same-JVM writers call)
    val q2 = Similarity.quantizeCols(
      Seq((0L, dirB), (1L, dirC)).toDF("vec_id", "embedding"))
    val (ids2w, cents2w) = Similarity.lloydCellsSeeded(
      q2, q2.filter(col("vec_id") < 2))
    ids2w.zipWithIndex
      .map { case (id, i) => (1, i, id, cents2w(i).toSeq,
        None: Option[Long]) }
      .toSeq.toDF("level", "idx", "cell", "cvec", "super")
      .write.mode("overwrite").parquet(centDir)
    EmbStream.writeEpoch(spark, centDir, "other-jvm-retrain")
    EmbStream.writeEpoch(spark, bandDir, "other-jvm-retrain")
    // the stale cache entry must NOT be served: the epoch changed, so
    // the next load re-reads storage and sees the retrained centroids
    val (ids3, cents3) = EmbStream.readCodebook(spark, centDir)
    assert(EmbStream.codebookLoads(centDir) === loads1 + 1,
      "epoch change must force a storage reload")
    assert(ids3.toSeq == ids2w.toSeq &&
      cents3.map(_.toSeq).toSeq == cents2w.map(_.toSeq).toSeq,
      "the reload must surface the other JVM's retrained codebook")
    assert(ids3.toSeq == ids1.toSeq,
      "seed rule unchanged: cell ids still the two lowest vec_ids")
  }
}
