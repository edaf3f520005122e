package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming embedding near-dup deduplication — the LIVE SemDeDup
  * shape: vectors arrive on a stream and are deduped against
  * everything already accepted, the embedding-space counterpart of
  * [[DocStream]]'s minhash index loop and the streaming twin of the
  * batch `dedup_embedding` / `dedup_embedding_keep` queries. It shares
  * the batch operators' quantization, hyperplane banding, and verify
  * threshold through [[graft.operators.Similarity]]'s column helpers,
  * so live and batch verdicts cannot drift.
  *
  * Architecture (same MERGE-loop shape as [[DocStream]] — state is
  * DATA on storage, not a state store): the cross-batch memory is TWO
  * tables, the band index (vec_id, band_id, band_val) for candidate
  * generation and the accepted-vector store (vec_id, qa, na) for the
  * exact verify (the one piece the minhash loop does not need: a
  * banded candidate is only a duplicate if the EXACT quantized cosine
  * clears tau). Each micro-batch, inside `foreachBatch`:
  *
  *  1. quantize the arriving vectors (per-row, no shuffle);
  *  2. band equi-join against index ∪ batch bands, `j < i` (dups vs
  *     the accepted corpus and within the batch, first copy wins);
  *  3. exact cosine rerank of the candidates against the accepted
  *     vectors ∪ batch vectors; survivors of tau get their min-id
  *     partner;
  *  4. verdicts OVERWRITE their own `batch=<id>` partition of
  *     `verdictsDir` — every vec, with its surviving partner +
  *     cosine or NULLs;
  *  5. the SURVIVORS' band rows and vectors appended to the index,
  *     so later batches dedup against them.
  *
  * Failure semantics mirror [[DocStream]]: a replayed batch re-reads
  * an index that may already contain its survivors — harmless (strict
  * `<` excludes the self-pair; duplicate index rows cannot change the
  * min-struct partner) — so verdict VALUES are replay-stable, and
  * verdict ROWS are exactly-once because each batch overwrites its
  * own `batch=<id>` partition dir; the index/vector appends stay
  * at-least-once by the min-struct argument.
  *
  * "Deduped against everything already accepted" additionally assumes
  * vec_ids are MONOTONICALLY INCREASING across the bootstrap corpus
  * and the stream: strict `j < i` keeps the first copy as the
  * smallest id, so a late-arriving vector with an id SMALLER than an
  * accepted near-dup's would be admitted as a second survivor.
  *
  * At scale: the band join carries (vec_id, band_id, band_val) only —
  * 16 rows of three longs per vector, never the vector; vectors are
  * fetched once per VERIFIED-CANDIDATE id on the equi-join back to the
  * stores. The index grows by survivors only. A deployment reads the
  * stream from Kafka and keeps both tables in a table format with
  * compaction; here they are parquet directories.
  *
  * OVERLAPPING-WRITER BOUND: identical to [[DocStream]]'s (see there;
  * IndexOverlapSpec demonstrates both halves on this stream too) —
  * committed plain-parquet appends are never replaced or torn, and
  * duplicated band/vector rows are tolerated (min-struct verdicts are
  * duplicate-stable, so a suspected-partial append is safely
  * re-appended whole), but concurrent commit windows on one dir are
  * unsafe with the vanilla committer (serialize appends per dir, as
  * foreachBatch does), and overlapped read..append windows can admit a
  * near-dup pair twice; table-format optimistic commit is the
  * multi-driver answer, `dedup_embedding_keep` the post-hoc collapse.
  */
object EmbStream {

  /** Bootstrap both stores from an already-deduped corpus
    * (vec_id, embedding). Run once; the stream appends. An empty
    * corpus (`df.limit(0)`) is a valid bootstrap — the schema is
    * still written.
    */
  def writeIndex(corpus: DataFrame, bandDir: String, vecDir: String): Unit = {
    val q = Similarity.quantizeCols(corpus)
    Similarity.dedupBandRows(q).write.mode("overwrite").parquet(bandDir)
    q.write.mode("overwrite").parquet(vecDir)
  }

  /** Per-batch incremental near-dup verdicts (also usable directly on
    * a batch). `batchQ` is quantized (vec_id, qa, na); returns
    * (vec_id, partner_id, partner_cos) where a non-null partner is
    * the min-id earlier vector (index or smaller-id batch vector)
    * whose exact cosine clears `tau`.
    */
  def dedupBatch(
      batchQ: DataFrame, bandIndex: DataFrame, vecs: DataFrame,
      tau: Double = Similarity.nearDupTau): DataFrame = {
    val bandRows = Similarity.dedupBandRows(batchQ)
    val arriving = bandRows
      .select(col("band_id"), col("band_val"), col("vec_id").as("i"))
    val prior = bandIndex.unionByName(bandRows)
      .select(col("band_id"), col("band_val"), col("vec_id").as("j"))
    val cand = arriving.join(prior, Seq("band_id", "band_val"))
      .filter(col("j") < col("i"))
      .select("i", "j").dropDuplicates("i", "j")
    verdictsOf(cand, batchQ, vecs, tau)
  }

  /** Exact-cosine verify + min-id partner + every-arrival outer join —
    * the tail both candidate generators ([[dedupBatch]],
    * [[dedupBatchBlocked]]) share, so the banded and cell-blocked
    * loops cannot drift in verify semantics.
    */
  private def verdictsOf(cand: DataFrame, batchQ: DataFrame,
      vecs: DataFrame, tau: Double): DataFrame = {
    val qi = batchQ
      .select(col("vec_id").as("i"), col("qa").as("qi"), col("na").as("ni"))
    val qj = vecs.unionByName(batchQ)
      .select(col("vec_id").as("j"), col("qa").as("qj"), col("na").as("nj"))
    // min-id partner via the bounded-heap TopKPerKey (k=1), not
    // min(struct(..)): the struct fold plans as SortAggregate — a full
    // sort of the per-batch candidate stream, which scales with the
    // index, not the batch (the same wall HIERTIER_r12.json priced
    // batch-side; HierTierProbe main at commit 89505f5). foreachBatch
    // bodies execute as ordinary batch plans, so
    // the custom operator applies. Ordering: lowest j wins; j is
    // unique per (i, j) candidate after dropDuplicates, so the old
    // struct's cos component never tie-broke — the tie column is j
    // itself, for determinism only.
    val verified = graft.plans.GraftOps.topKPerKey(
      cand.join(qi, "i").join(qj, "j")
        .withColumn("cos",
          Similarity.cosineCol(
            Similarity.dotCol(col("qi"), col("qj")), col("ni"), col("nj")))
        .filter(col("cos") >= tau)
        .select(col("i").as("vec_id"), col("j"), col("cos")),
      Seq(col("vec_id")), -col("j"), col("j"), 1)
      .select(col("vec_id"),
        col("j").as("partner_id"), col("cos").as("partner_cos"))
    batchQ.select(col("vec_id")).join(verified, Seq("vec_id"), "left_outer")
  }

  /** One micro-batch of the near-dup loop: verdicts overwrite their
    * own `batch=<id>` partition dir (so calling it again with the
    * same batchId — a replay — REPLACES the previous output, row
    * counts included; idempotence is spec-proven by invoking this
    * twice), survivors' band rows and vectors append to the stores.
    *
    * `seam` is the crash-injection surface for the torn-batch
    * recovery specs (r13 verdict #3): `"post-verdicts"` fires between
    * the verdict overwrite and the band append, `"mid-append"`
    * between the band append and the vector append — the two tears a
    * crash can leave in this three-write batch. Production callers
    * leave the no-op default.
    */
  def processBatch(batch: DataFrame, bandDir: String, vecDir: String,
      verdictsDir: String, batchId: Long,
      tau: Double = Similarity.nearDupTau,
      seam: String => Unit = _ => ()): Unit = {
    val spark = batch.sparkSession
    // fence EVERY directory this batch appends to — compact(vecDir)
    // locks at <vecDir>.maintenance, which a bandDir-only probe would
    // sail past (r14 advice: an append racing compact's read-then-swap
    // window is silently dropped when the swap installs the pre-append
    // snapshot)
    graft.sources.Layout.requireNoMaintenance(spark, bandDir)
    graft.sources.Layout.requireNoMaintenance(spark, vecDir)
    // [[BatchPar]]: the quantize below is the dominant per-batch CPU —
    // a one-partition file-source batch would run it on one core
    val q = Similarity.quantizeCols(BatchPar(batch))
      .persist()
    try {
      IdWatermark.checkAndAdvance(q, "vec_id", bandDir, batchId, "embstream")
      val verdicts = dedupBatch(q,
        spark.read.parquet(bandDir), spark.read.parquet(vecDir), tau)
        .persist()
      try {
        verdicts.write.mode("overwrite")
          .parquet(s"$verdictsDir/batch=$batchId")
        seam("post-verdicts")
        val survivors = q.join(
          verdicts.filter(col("partner_id").isNull).select("vec_id"),
          Seq("vec_id"), "left_semi").persist()
        try {
          // re-probe at the append seam: the batch-start probe is
          // one-shot, so a lock acquired while the verdict write ran
          // would otherwise race the rest of this batch (see the
          // residual-race contract on requireNoMaintenance)
          graft.sources.Layout.requireNoMaintenance(spark, bandDir)
          Similarity.dedupBandRows(survivors)
            .write.mode("append").parquet(bandDir)
          seam("mid-append")
          graft.sources.Layout.requireNoMaintenance(spark, vecDir)
          survivors.write.mode("append").parquet(vecDir)
        } finally survivors.unpersist()
      } finally verdicts.unpersist()
    } finally q.unpersist()
  }

  // --------------------------------------------------------------
  // Cell-blocked variant — the streaming twin of the batch 100-TB
  // default (dedup_embedding_blocked / _hier), closing the shape gap
  // between this loop and the registered batch path: [[writeIndex]]
  // bands the WHOLE corpus under one log(n)-scaled plan, so every
  // arriving vector's band bucket grows with the accepted index and
  // the per-batch join degenerates as it fills. Here candidates are
  // confined to the arrival's blockProbe nearest Lloyd cells under
  // the CONSTANT BlockBands x BlockBits in-cell plan (collisions
  // bounded by the cell cap, not n) — per-arrival candidate work
  // tracks cell occupancy, the same move the batch side measured and
  // registered as its default.
  //
  // The quantizer is TRAINED AT BOOTSTRAP and FROZEN: cells cannot
  // move once index rows cite them (re-assigning would orphan every
  // banded row). Distribution drift therefore costs RECALL, never
  // correctness (verify stays exact cosine) — the standard IVF
  // operating discipline, and all three lifecycle steps are CODE
  // here, not prose: the `emb_cell_skew` oracle-checked summary
  // ([[indexCellSkew]] for a live index) is the retrain trigger, and
  // [[reblockIndex]] is the offline retrain + atomic re-index job.
  // Bootstrap k is bounded by the same MaxBlockCells ceiling as the
  // batch path, but past the bound the bootstrap does NOT throw: it
  // trains the two-level hier quantizer ([[Similarity.hierTrain]],
  // the literal dedup_embedding_hier training) and assigns through
  // [[Similarity.hierCellsOf]] — the index schema is unchanged
  // (vec_id, cell, band_id, band_val), only the codebook gains the
  // super level and per-batch assignment becomes a join instead of a
  // reference-object expression.
  // --------------------------------------------------------------

  /** The frozen quantizer, decoded from `centDir`: FLAT codebooks are
    * k (cell id, centroid) rows small enough to ship as a codegen
    * reference object; HIER codebooks stay ON STORAGE (supers +
    * children as joined tables — the documented past-guard state
    * placement) and only the regime flag lives in memory.
    */
  private[graft] sealed trait Codebook
  private[graft] final case class FlatCodebook(
      cellIds: Array[Long], cents: Array[Array[Long]]) extends Codebook
  private[graft] case object HierCodebook extends Codebook

  // Session-lifetime cache of the FROZEN codebook, keyed by centDir
  // (r12 verdict: readCodebook re-collected k·Dim centroid rows to the
  // driver EVERY micro-batch for an artifact that cannot change
  // between batches — bounded, but a long-running stream paid the
  // collect + rebuild per batch). The load runs OUTSIDE any lock (the
  // PqCodes discipline): a racing first touch reads the frozen parquet
  // twice, harmlessly, and putIfAbsent keeps one canonical entry.
  // [[reblockIndex]] and [[writeIndexBlocked]] invalidate their dir's
  // entry — the ONLY two writers of a codebook IN THIS JVM. A writer
  // in ANOTHER JVM (the maintenance re-block is an offline job) cannot
  // invalidate here, so each entry also carries the store EPOCH it was
  // loaded under and is revalidated against the marker on every hit —
  // a cross-JVM re-block would otherwise leave this JVM assigning with
  // the stale quantizer against the NEW index, the exact mixed state
  // the epoch check exists to prevent, undetected because the two
  // DIRS agree (r13 review of the r13 fix). The marker read is one
  // tiny FS stat per batch, paid alongside requireConsistentEpochs.
  private val codebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Option[String], Codebook)]()
  private val codebookLoadCounts =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()

  private def cbKey(centDir: String): String = centDir.stripSuffix("/")

  /** How many times `centDir`'s codebook has been LOADED from storage
    * (not served from cache) this JVM — the spec seam proving one
    * load per query lifetime.
    */
  private[graft] def codebookLoads(centDir: String): Long = {
    val c = codebookLoadCounts.get(cbKey(centDir))
    if (c == null) 0L else c.get()
  }

  /** Drop `centDir`'s cached codebook — called by the two writers
    * after a rewrite so the next batch reads the new quantizer.
    */
  private[graft] def invalidateCodebook(centDir: String): Unit =
    codebookCache.remove(cbKey(centDir))

  /** The frozen codebook, loaded once per JVM per dir PER EPOCH and
    * cached (the regime probe + for flat codebooks the k-row collect
    * both happen only on the first batch after a load or a re-block).
    */
  private def loadCodebook(
      spark: org.apache.spark.sql.SparkSession, centDir: String): Codebook = {
    val key = cbKey(centDir)
    val epoch = readEpoch(spark, centDir)
    val cached = codebookCache.get(key)
    if (cached != null && cached._1 == epoch) return cached._2
    codebookLoadCounts
      .computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicLong)
      .incrementAndGet()
    val src = spark.read.parquet(centDir)
    // A pre-r13 codebook has no `level` column at all (flat was the
    // only regime) — it must load as flat, not crash the first batch
    // after an upgrade on an AnalysisException (r13 review).
    val cb: Codebook =
      if (src.columns.contains("level") &&
          !src.where(col("level") === 0).limit(1).isEmpty) HierCodebook
      else {
        // k rows collected ONCE per query lifetime, bounded by the
        // same MaxBlockCells ceiling the batch path's stage-1 collect
        // obeys (a flat codebook past the guard is never written)
        val rows = src.select("idx", "cell", "cvec").collect()
          .sortBy(_.getInt(0))
        FlatCodebook(rows.map(_.getLong(1)),
          rows.map(_.getSeq[Long](2).toArray))
      }
    // plain put, not putIfAbsent: an epoch-mismatched stale entry must
    // be REPLACED (racing same-epoch loads put identical content)
    codebookCache.put(key, (epoch, cb))
    cb
  }

  /** The flat codebook in codebook order — the historical accessor
    * (spec surface); loads through the cache. Throws on a hier
    * codebook: flat arrays past the guard are exactly the driver
    * state the hier regime exists to avoid.
    */
  private[graft] def readCodebook(
      spark: org.apache.spark.sql.SparkSession,
      centDir: String): (Array[Long], Array[Array[Long]]) =
    loadCodebook(spark, centDir) match {
      case FlatCodebook(ids, cents) => (ids, cents)
      case HierCodebook => throw new IllegalStateException(
        s"$centDir holds a two-level (hier) codebook - its centroids are " +
          "joined tables, never driver arrays; assign through hierCellsOf")
    }

  /** The hier codebook back as the (supLive, children) JOINED TABLES
    * [[Similarity.hierCellsOf]] consumes — lazy plans over `centDir`,
    * never collected.
    */
  private def hierCodebookFrames(
      spark: org.apache.spark.sql.SparkSession,
      centDir: String): (DataFrame, DataFrame) = {
    val src = spark.read.parquet(centDir)
    val supLive = src.where(col("level") === 0)
      .select(col("cell").as("super"), col("cvec").as("svec"))
      .withColumn("sn", Similarity.dotCol(col("svec"), col("svec")))
    val children = src.where(col("level") === 1)
      .select(col("cell").as("child"), col("cvec"), col("super"))
      .withColumn("nc", Similarity.dotCol(col("cvec"), col("cvec")))
    (supLive, children)
  }

  /** (vec_id, cells, qa) of a quantized frame under the frozen
    * quantizer — flat: the codegen'd multi-probe expression against
    * the reference-object centroid matrix; hier: the two-stage probe
    * join ([[Similarity.hierCellsOf]], the literal batch assignment).
    */
  private def cellsOf(spark: org.apache.spark.sql.SparkSession,
      centDir: String, cb: Codebook, q: DataFrame): DataFrame = cb match {
    case FlatCodebook(cellIds, cents) =>
      q.select(col("vec_id"),
        graft.functions.GraftFunctions.pqCells(
          col("qa"), Array(cents), cellIds, Similarity.blockProbe).as("cells"),
        col("qa"))
    case HierCodebook =>
      val (supLive, children) = hierCodebookFrames(spark, centDir)
      q.join(
        Similarity.hierCellsOf(q, supLive, children, Similarity.blockProbe)
          .select("vec_id", "cells"),
        "vec_id")
        .select(col("vec_id"), col("cells"), col("qa"))
  }

  // --------------------------------------------------------------
  // Codebook/index EPOCH markers: writeQuantizer stamps the same
  // token into both dirs, and every batch requires the tokens to
  // match. The two atomicReplace swaps in reblockIndex are each
  // atomic but not atomic TOGETHER — a crash between them would
  // install a new codebook against the old band index, and arrivals
  // would then probe cells the index rows never cite: candidate
  // recall silently collapses to ~0 with no error (r13 review). The
  // marker turns that torn state into a loud first-batch failure
  // naming the recovery (re-run reblockIndex). Underscore-prefixed,
  // so parquet listing ignores it; a pre-epoch store (neither marker)
  // skips the check.
  // --------------------------------------------------------------

  private val EpochFile = "_graft_epoch"

  private def epochFs(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(dir.stripSuffix("/"), EpochFile)
    (p.getFileSystem(org.apache.spark.sql.graft.Bridge.newHadoopConf(spark)), p)
  }

  private[graft] def writeEpoch(spark: org.apache.spark.sql.SparkSession,
      dir: String, token: String): Unit = {
    val (fs, p) = epochFs(spark, dir)
    val out = fs.create(p, true)
    try out.write(token.getBytes("UTF-8")) finally out.close()
  }

  private[graft] def readEpoch(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[String] = {
    val (fs, p) = epochFs(spark, dir)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        Some(new String(bytes, "UTF-8"))
      } finally in.close()
    }
  }

  private[graft] def requireConsistentEpochs(
      spark: org.apache.spark.sql.SparkSession,
      centDir: String, bandDir: String): Unit =
    (readEpoch(spark, centDir), readEpoch(spark, bandDir)) match {
      case (Some(a), Some(b)) if a == b => () // consistent post-epoch store
      case (None, None) => () // legitimate pre-epoch store: skip the check
      // EXACTLY-ONE marker is also torn (r13 review): reblockIndex
      // installs centDir first, so a crash between its two swaps on a
      // PRE-epoch store leaves (Some, None) — the same new-codebook/
      // old-index pair the two-token mismatch arm catches, and letting
      // it fall through as "pre-epoch" would process batches with
      // silently collapsed candidate recall, the exact failure this
      // marker exists to catch.
      case (a, b) =>
        throw new IllegalStateException(
          s"codebook ($centDir, epoch ${a.getOrElse("<none>")}) and band " +
            s"index ($bandDir, epoch ${b.getOrElse("<none>")}) carry " +
            "inconsistent retrain epochs - a re-block was torn between its " +
            "two directory swaps; re-run EmbStream.reblockIndex to converge " +
            "before processing batches (a mixed quantizer/index pair would " +
            "silently collapse candidate recall, never fail verify)")
    }

  /** Write the codebook + cell-keyed band index for corpus `q`
    * (quantized, ids dense from 0 under `seeds` = the dense rule; a
    * re-block passes [[Similarity.lowestIdSeeds]] because survivor ids
    * are sparse) into the given dirs. k <= maxCells trains the flat
    * Lloyd quantizer; past it, the two-level hier quantizer — the same
    * regime split as the registered batch operators, sharing their
    * literal training code.
    */
  private def writeQuantizer(spark: org.apache.spark.sql.SparkSession,
      q: DataFrame, n: Long, centDir: String, bandDir: String,
      maxCells: Int, seeds: Int => DataFrame): Unit = {
    import org.apache.spark.sql.types.LongType
    import spark.implicits._
    val kL = ((n + Similarity.cellCap - 1) / Similarity.cellCap) max 2L
    if (kL <= maxCells) {
      val (cellIds, cents) = Similarity.lloydCellsSeeded(q, seeds(kL.toInt))
      cellIds.zipWithIndex
        .map { case (id, i) => (1, i, id, cents(i).toSeq, None: Option[Long]) }
        .toSeq.toDF("level", "idx", "cell", "cvec", "super")
        .write.mode("overwrite").parquet(centDir)
      blockedBandRows(q, cellIds, cents)
        .write.mode("overwrite").parquet(bandDir)
    } else {
      val (supC1, childC1) = Similarity.hierTrain(spark, q, n, seeds)
      val supLive = supC1.join(childC1.select("super").distinct(), "super")
      supLive
        .select(lit(0).as("level"), lit(-1).as("idx"),
          col("super").as("cell"), col("svec").as("cvec"),
          lit(null).cast(LongType).as("super"))
        .unionByName(childC1
          .select(lit(1).as("level"), lit(-1).as("idx"),
            col("child").as("cell"), col("cvec"), col("super")))
        .write.mode("overwrite").parquet(centDir)
      bandRowsOfCells(
        q.join(Similarity.hierCellsOf(q, supLive, childC1,
          Similarity.blockProbe).select("vec_id", "cells"), "vec_id")
          .select(col("vec_id"), col("cells"), col("qa")))
        .write.mode("overwrite").parquet(bandDir)
    }
    // both artifacts just came from THIS train: stamp the shared epoch
    // (after the parquet writes — mode("overwrite") clears the dirs)
    val epoch = java.util.UUID.randomUUID().toString
    writeEpoch(spark, centDir, epoch)
    writeEpoch(spark, bandDir, epoch)
    invalidateCodebook(centDir)
  }

  /** Bootstrap the BLOCKED stores from an already-deduped corpus
    * (vec_id, embedding) with ids dense from 0 (the Lloyd seed rule):
    * trains the frozen quantizer through the literal batch stage-1
    * code ([[Similarity.lloydCellsSeeded]] up to the cell guard,
    * [[Similarity.hierTrain]] past it), writes the codebook to
    * `centDir` and the cell-keyed band index to `bandDir`. Run once;
    * the stream appends. `maxCells` is the flat/hier regime split
    * (production default [[Similarity.maxBlockCells]]; the spec seam
    * lowers it to drive the hier path on a small synthetic).
    */
  def writeIndexBlocked(corpus: DataFrame, centDir: String,
      bandDir: String, vecDir: String,
      maxCells: Int = Similarity.maxBlockCells): Unit = {
    val spark = corpus.sparkSession
    val q = Similarity.quantizeCols(corpus).persist()
    try {
      writeQuantizer(spark, q, q.count(), centDir, bandDir, maxCells,
        m => q.filter(col("vec_id") < m))
      q.write.mode("overwrite").parquet(vecDir)
    } finally q.unpersist()
  }

  /** The frozen-quantizer MAINTENANCE job — the retrain + re-index
    * step the blocked loop's operating discipline calls for when
    * [[indexCellSkew]] (or the registered `emb_cell_skew` trigger)
    * reports drift: retrain the quantizer on the current
    * ACCEPTED-VECTOR store (`vecDir`, which a re-block never touches —
    * the accepted SET is the invariant), rewrite codebook + band index
    * into fresh dirs, and atomically install both via the
    * [[graft.sources.Layout.atomicReplace]] two-rename pattern, then
    * drop the cached codebook so the next batch reads the new
    * quantizer.
    *
    * Seeds come from [[Similarity.lowestIdSeeds]] (survivor ids are
    * sparse — the dense `vec_id < k` rule would under-select); the
    * regime split is the same as bootstrap, so a corpus that grew past
    * the cell guard since bootstrap re-blocks INTO the hier regime —
    * per-batch assignment follows the codebook automatically.
    *
    * Safety: the maintenance window (no concurrent appender) is
    * ENFORCED via [[graft.sources.Layout.withMaintenanceLock]] on the
    * band index (r14 — was documented discipline): appending batches
    * refuse while the lock is held, and a crashed job leaves the lock
    * behind so everything refuses conservatively until the operator
    * verifies consistency and deletes it. The fence is directional
    * (see the residual-race contract on
    * [[graft.sources.Layout.requireNoMaintenance]]): a batch already
    * past its final re-probe when the lock lands can still race one
    * append — the operational "drain streams first" discipline covers
    * that last write; the lock covers every other ordering. Each dir's swap is
    * atomic, and a READER between the two swaps degrades candidate
    * RECALL only (verify stays exact cosine), never correctness. The
    * two swaps are NOT atomic together: a crash between them would
    * install the new codebook against the old index — a torn state
    * the shared EPOCH marker turns into a loud first-batch failure
    * ([[requireConsistentEpochs]]) naming the recovery (re-run this
    * job) instead of a silent recall collapse. Verdict preservation —
    * same accepted set, new cells — is spec-proven
    * (EmbStreamBlockedSpec).
    */
  def reblockIndex(spark: org.apache.spark.sql.SparkSession,
      centDir: String, bandDir: String, vecDir: String,
      maxCells: Int = Similarity.maxBlockCells): Unit =
    // The maintenance window is ENFORCED since r14 (was documented
    // discipline): one lock on the band index covers the whole
    // codebook+index job — processBatchBlocked probes it at batch
    // start and again before each append, so an appender that starts
    // after the lock lands refuses, and a second re-block refuses.
    graft.sources.Layout.withMaintenanceLock(spark, bandDir,
      "EmbStream.reblockIndex") {
      val q = spark.read.parquet(vecDir).persist()
      try {
        val centTmp = centDir.stripSuffix("/") + "_reblock_tmp"
        val bandTmp = bandDir.stripSuffix("/") + "_reblock_tmp"
        writeQuantizer(spark, q, q.count(), centTmp, bandTmp, maxCells,
          m => Similarity.lowestIdSeeds(q, m))
        graft.sources.Layout.atomicReplace(spark, centDir, centTmp)
        graft.sources.Layout.atomicReplace(spark, bandDir, bandTmp)
        invalidateCodebook(centDir)
      } finally q.unpersist()
    }

  /** Occupancy-skew summary of a LIVE band index — the streaming twin
    * of the oracle-checked `emb_cell_skew` trigger (same summary
    * helper, parity by construction): one row of (cells, n_vecs,
    * max_occ, min_occ, avg_occ, skew, retrain). Occupancy counts every
    * (vector, probed cell) membership — the population the in-cell
    * join actually pays. `retrain = true` is the documented
    * [[reblockIndex]] trigger.
    */
  def indexCellSkew(spark: org.apache.spark.sql.SparkSession,
      bandDir: String): DataFrame =
    Similarity.occupancySummary(
      spark.read.parquet(bandDir).select("vec_id", "cell").distinct()
        .groupBy("cell").agg(count(lit(1)).as("occ")))

  /** Band rows (vec_id, cell, band_id, band_val) of a (vec_id, cells,
    * qa) frame: one row per probed cell per band under the batch
    * side's constant in-cell plan — the quantized vector itself never
    * enters the index. Factored (r13) so the flat expression
    * assignment and the hier join assignment band identically.
    */
  private[graft] def bandRowsOfCells(qc: DataFrame): DataFrame = {
    val (bands, bits) = Similarity.blockBandPlan
    qc.select(col("vec_id"), explode(col("cells")).as("cell"),
      posexplode(graft.functions.GraftFunctions
        .hyperplaneBands(col("qa"), bands, bits)))
      .select(col("vec_id"), col("cell"),
        col("pos").as("band_id"), col("col").as("band_val"))
  }

  /** Cell-keyed band rows under a FLAT codebook (the historical
    * accessor — spec surface).
    */
  private[graft] def blockedBandRows(q: DataFrame,
      cellIds: Array[Long], cents: Array[Array[Long]]): DataFrame =
    bandRowsOfCells(q.select(col("vec_id"),
      graft.functions.GraftFunctions.pqCells(
        col("qa"), Array(cents), cellIds, Similarity.blockProbe).as("cells"),
      col("qa")))

  /** [[dedupBatch]] with cell-blocked candidate generation over a
    * pre-assigned (vec_id, cells, qa) frame: arrivals meet prior rows
    * only inside a shared probed cell. Verify tail is [[verdictsOf]] —
    * identical exact-cosine semantics to the banded loop and the
    * batch operators.
    */
  private def dedupBatchBlockedFrom(
      batchQ: DataFrame, qCells: DataFrame, bandIndex: DataFrame,
      vecs: DataFrame, tau: Double): DataFrame = {
    val bandRows = bandRowsOfCells(qCells)
    val arriving = bandRows
      .select(col("cell"), col("band_id"), col("band_val"), col("vec_id").as("i"))
    val prior = bandIndex.unionByName(bandRows)
      .select(col("cell"), col("band_id"), col("band_val"), col("vec_id").as("j"))
    val cand = arriving.join(prior, Seq("cell", "band_id", "band_val"))
      .filter(col("j") < col("i"))
      .select("i", "j").dropDuplicates("i", "j")
    verdictsOf(cand, batchQ, vecs, tau)
  }

  /** [[dedupBatchBlockedFrom]] under a FLAT codebook (the historical
    * accessor — spec surface).
    */
  def dedupBatchBlocked(
      batchQ: DataFrame, bandIndex: DataFrame, vecs: DataFrame,
      cellIds: Array[Long], cents: Array[Array[Long]],
      tau: Double = Similarity.nearDupTau): DataFrame =
    dedupBatchBlockedFrom(batchQ,
      batchQ.select(col("vec_id"),
        graft.functions.GraftFunctions.pqCells(
          col("qa"), Array(cents), cellIds, Similarity.blockProbe).as("cells"),
        col("qa")),
      bandIndex, vecs, tau)

  /** One micro-batch of the BLOCKED loop — same exactly-once verdict
    * partitions, at-least-once survivor appends, and replay semantics
    * as [[processBatch]]. The frozen codebook is cache-served after
    * the first batch ([[loadCodebook]]); hier codebooks assign through
    * the joined tables, flat ones through the reference-object
    * expression — the index schema and verify tail are identical.
    *
    * `seam`: crash-injection surface for the torn-batch recovery
    * specs, as in [[processBatch]] — `"post-verdicts"` and
    * `"mid-append"` model the two possible tears between this batch's
    * three writes. Production callers leave the no-op default.
    */
  def processBatchBlocked(batch: DataFrame, centDir: String,
      bandDir: String, vecDir: String, verdictsDir: String, batchId: Long,
      tau: Double = Similarity.nearDupTau,
      seam: String => Unit = _ => ()): Unit = {
    val spark = batch.sparkSession
    // fence both append targets — see the processBatch comment on why
    // a bandDir-only probe misses compact(vecDir)'s lock
    graft.sources.Layout.requireNoMaintenance(spark, bandDir)
    graft.sources.Layout.requireNoMaintenance(spark, vecDir)
    requireConsistentEpochs(spark, centDir, bandDir)
    val cb = loadCodebook(spark, centDir)
    // [[BatchPar]]: same one-core file-source hazard as processBatch
    val q = Similarity.quantizeCols(BatchPar(batch))
      .persist()
    // assignment computed ONCE per batch and shared by the dedup and
    // the survivor-append paths (r13 review: the survivors are a
    // subset of q, and under a hier codebook re-assigning them paid
    // the two-stage probe join a second time every batch)
    val qCells = cellsOf(spark, centDir, cb, q).persist()
    try {
      IdWatermark.checkAndAdvance(q, "vec_id", bandDir, batchId, "embstream")
      val verdicts = dedupBatchBlockedFrom(q, qCells,
        spark.read.parquet(bandDir), spark.read.parquet(vecDir), tau)
        .persist()
      try {
        verdicts.write.mode("overwrite")
          .parquet(s"$verdictsDir/batch=$batchId")
        seam("post-verdicts")
        val survivorIds = verdicts.filter(col("partner_id").isNull)
          .select("vec_id")
        val survivors = q.join(survivorIds, Seq("vec_id"), "left_semi")
          .persist()
        try {
          // re-probe at the append seam (same contract as processBatch)
          graft.sources.Layout.requireNoMaintenance(spark, bandDir)
          bandRowsOfCells(
            qCells.join(survivorIds, Seq("vec_id"), "left_semi"))
            .write.mode("append").parquet(bandDir)
          seam("mid-append")
          graft.sources.Layout.requireNoMaintenance(spark, vecDir)
          survivors.write.mode("append").parquet(vecDir)
        } finally survivors.unpersist()
      } finally verdicts.unpersist()
    } finally { qCells.unpersist(); q.unpersist() }
  }

  /** Start the BLOCKED streaming near-dup loop (bootstrap with
    * [[writeIndexBlocked]] first — the codebook must exist); each
    * batch is spread by [[BatchPar]] before the quantize.
    */
  def dedupIndexedStreamBlocked(
      embs: DataFrame, centDir: String, bandDir: String, vecDir: String,
      verdictsDir: String, checkpoint: String,
      tau: Double = Similarity.nearDupTau,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    embs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatchBlocked(batch, centDir, bandDir, vecDir, verdictsDir,
          batchId, tau)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Start the streaming near-dup loop. `embs` is a streaming
    * DataFrame of (vec_id LONG, embedding ARRAY<numeric>); each batch
    * is spread by [[BatchPar]] before the quantize.
    */
  def dedupIndexedStream(
      embs: DataFrame, bandDir: String, vecDir: String,
      verdictsDir: String, checkpoint: String,
      tau: Double = Similarity.nearDupTau,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    embs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, bandDir, vecDir, verdictsDir, batchId, tau)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
}
