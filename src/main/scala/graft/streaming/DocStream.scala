package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming incremental near-dup deduplication — the LIVE
  * counterpart of the batch `dedup_incremental` query: documents
  * arrive on a stream and are deduped against everything already
  * accepted, without ever re-pairing the accepted corpus with itself.
  *
  * Architecture (the production MERGE-loop shape, not in-operator
  * state): the cross-batch memory is the SIGNATURE INDEX TABLE
  * (doc_id, band_id, band_key) on storage. Each micro-batch, inside
  * `foreachBatch`:
  *
  *  1. band keys for the arriving docs via the per-row signature
  *     expression ([[Dedup.minhashSigExpr]] — no shuffle);
  *  2. band equi-join against the current index (dups vs the
  *     accepted corpus) and against the batch itself restricted to
  *     smaller doc_id (dups within the batch, first copy wins);
  *  3. verdicts OVERWRITE their own `batch=<id>` partition of
  *     `verdictsDir` — every doc, with its min-id surviving partner
  *     or NULL;
  *  4. the SURVIVORS' band rows appended to the index, so later
  *     batches dedup against them.
  *
  * Why foreachBatch and not mapGroupsWithState: the natural state key
  * is the band bucket, but a per-doc verdict needs a cross-band
  * reduce — a second stateful operator — while the index table gives
  * both for one stateless join, AND survives restarts by
  * construction (state = data on storage, not a state store to
  * rebuild). Failure semantics: a replayed batch re-reads an index
  * that may already contain its survivors — harmless, because the
  * self-pair is excluded by strict `<` and duplicate index rows
  * cannot change a MIN — so verdict VALUES are replay-stable, and
  * verdict ROWS are exactly-once because each batch overwrites its
  * own `batch=<id>` partition dir (the [[ScoreStream]] pattern) — a
  * replay replaces its previous, possibly partial, output instead of
  * appending a second copy. The index append stays at-least-once by
  * the MIN argument above.
  *
  * "Deduped against everything already accepted" additionally assumes
  * doc_ids are MONOTONICALLY INCREASING across the bootstrap corpus
  * and the stream (the natural ingest-order id): strict `j < i` keeps
  * the first copy as the smallest id, so a late-arriving document
  * with an id SMALLER than an accepted near-dup's would be admitted
  * as a second survivor. [[IdWatermark]] enforces this loudly: a
  * max-id watermark beside the index flags any new batch whose min id
  * falls at or below the already-admitted max.
  *
  * At scale the index join is the only shuffle and carries band keys,
  * never text; the index grows by survivors only. A deployment reads
  * the stream from Kafka and keeps the index in a table format with
  * compaction; here both are parquet directories.
  *
  * OVERLAPPING-WRITER BOUND (IndexOverlapSpec demonstrates both
  * halves): the index append is plain-parquet `append` — part files
  * are uniquely named and an append never replaces or tears another
  * writer's COMMITTED files, and DUPLICATE band rows (a replay or
  * partial-commit re-append of survivors) are tolerated by
  * construction — the dedup join takes MIN over matches, which
  * duplicates cannot change. What append does NOT give you is safe
  * CONCURRENT COMMITS on one dir: overlapping jobs share the
  * FileOutputCommitter staging dir (`<idx>/_temporary`), and a
  * racer's cleanup can fail the other job loudly or — the v1
  * committer race — drop its staged task files into a silently
  * partial commit. So appends must be SERIALIZED per index dir
  * (foreachBatch already serializes batches within a query; a
  * multi-driver deployment serializes via the same table-format
  * commit that fixes the double-admit below), and any suspected
  * partial append is safely RE-APPENDED whole, because duplicates
  * are harmless. What overlap CAN also do: two writers whose
  * read-index..append windows overlap both dedup against the same
  * snapshot, so a near-dup pair split across them is admitted TWICE —
  * a second survivor, the analog of upsertSink's lost update
  * (UpsertOverlapSpec). The stream itself never hits this
  * (foreachBatch serializes batches within a query); it is the
  * multi-driver deployment hazard, and the production answer is the
  * same as upsertSink's: a transactional table format's optimistic
  * commit on the index table. Post-hoc, `dedup_cluster_keep` over the
  * admitted set collapses any double-admitted pair.
  */
object DocStream {

  /** Build the initial signature index for an already-deduped corpus
    * (doc_id, text). Run once at bootstrap; the stream appends to it.
    */
  def writeSignatureIndex(corpus: DataFrame, indexDir: String): Unit =
    bandRows(corpus).write.mode("overwrite").parquet(indexDir)

  private[graft] def bandRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(Dedup.bandKeysExpr(Dedup.minhashSigExpr(col("text")))).as("bb"))
      .select(col("doc_id"), col("bb.band_id").as("band_id"),
        col("bb.band_key").as("band_key"))

  /** Per-batch incremental dedup (also usable directly on a batch
    * DataFrame): verdict rows (doc_id, partner_id nullable) where a
    * non-null partner is the min-id earlier duplicate (index doc or
    * smaller-id batch doc).
    */
  def dedupBatch(batch: DataFrame, index: DataFrame): DataFrame =
    dedupBanded(batch, bandRows(batch), index)

  /** [[dedupBatch]] over pre-computed band rows — the seam that lets
    * [[processBatch]] persist the minhash ONCE and reuse it for the
    * survivor index append (the signature is the dominant per-batch
    * CPU; recomputing it for survivors would nearly double it).
    */
  private def dedupBanded(batch: DataFrame, banded: DataFrame,
      index: DataFrame): DataFrame = {
    val arriving = banded
      .select(col("band_id"), col("band_key"), col("doc_id").as("i"))
    val prior = index.unionByName(banded)
      .select(col("band_id"), col("band_key"), col("doc_id").as("j"))
    val matches = arriving.join(prior, Seq("band_id", "band_key"))
      .filter(col("j") < col("i"))
      .groupBy(col("i").as("doc_id"))
      .agg(min(col("j")).as("partner_id"))
    batch.select(col("doc_id"))
      .join(matches, Seq("doc_id"), "left_outer")
  }

  /** One micro-batch of the dedup loop: verdicts overwrite their own
    * `batch=<id>` partition dir (so calling it again with the same
    * batchId — a replay — REPLACES the previous output, row counts
    * included; idempotence is spec-proven by invoking this twice),
    * survivors' band rows append to the index.
    *
    * `seam` is the crash-injection surface for the torn-batch
    * recovery specs (r13 verdict #3): invoked with `"post-verdicts"`
    * between the two writes — a spec-thrown exception there models a
    * crash after the verdict overwrite but before the index append,
    * the exact two-write tear the replay-convergence argument above
    * must survive. Production callers leave the no-op default.
    */
  def processBatch(batch: DataFrame, indexDir: String,
      verdictsDir: String, batchId: Long,
      seam: String => Unit = _ => ()): Unit = {
    val spark = batch.sparkSession
    graft.sources.Layout.requireNoMaintenance(spark, indexDir)
    // [[BatchPar]]: file-source batches arrive one-partition-per-file;
    // the minhash below is the dominant per-batch CPU and would
    // serialize onto one core (the measured r15 one-core incident)
    val cached = BatchPar(batch).persist()
    try {
      IdWatermark.checkAndAdvance(cached, "doc_id", indexDir, batchId, "docstream")
      val index = spark.read.parquet(indexDir)
      // one computation of the batch BAND rows (minhash is the
      // dominant per-batch CPU) feeds both the dedup join and the
      // survivor index append — EmbStream caches its quantized form
      // for the same reason
      val banded = bandRows(cached).persist()
      try {
        val verdicts = dedupBanded(cached, banded, index).persist()
        try {
          verdicts.write.mode("overwrite")
            .parquet(s"$verdictsDir/batch=$batchId")
          seam("post-verdicts")
          banded.join(
              verdicts.filter(col("partner_id").isNull).select("doc_id"),
              Seq("doc_id"), "left_semi")
            .write.mode("append").parquet(indexDir)
        } finally verdicts.unpersist()
      } finally banded.unpersist()
    } finally cached.unpersist()
  }

  /** Start the streaming dedup loop. `docs` is a streaming DataFrame
    * of (doc_id LONG, text STRING); each batch is spread by
    * [[BatchPar]] before the minhash.
    */
  def dedupIndexedStream(
      docs: DataFrame, indexDir: String, verdictsDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, indexDir, verdictsDir, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
}
