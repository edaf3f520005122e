package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming scale-tier rehearsal — the B-family twin of [[ScaleGate]]
  * (r14 verdict #3): the three index-backed per-batch loops (B18
  * DocStream, B25 EmbStream flat, B29 EmbStream blocked) have spec
  * coverage and crash-replay proofs but had no scale row. This main
  * drives each REAL stream starter (`dedupIndexedStream` /
  * `dedupIndexedStreamBlocked` — the same wiring production uses,
  * checkpoint and trigger included) through the scaled corpus as a
  * `Trigger.AvailableNow` file-source backlog, measures wall and
  * index growth per micro-batch, and asserts the family laws in code:
  *
  *  - VERDICT CONSERVATION: every streamed arrival gets exactly one
  *    verdict row (rows == arrivals, ids unique);
  *  - FIRST-COPY-WINS ACYCLICITY: every partner id < its doc id;
  *  - REPLICA CONTAINMENT: a partner lives in the SAME id-replica as
  *    its doc — the [[ScaleCorpus]] decorrelation argument (no
  *    cross-replica near-dups) observed from the stream's own output;
  *  - INDEX GROWTH BY SURVIVORS ONLY: accepted-id count after the
  *    run == bootstrap ids + survivor verdicts (the stores grow by
  *    exactly the admitted set — no loss, no double-admit).
  *
  * Ingest order: the id-shift derivation makes replica k's ids live
  * in [k·Step, (k+1)·Step), so a backlog sliced by replica ranges and
  * written as one file per slice (sequentially — the file source
  * ingests in timestamp order, one file per trigger) guarantees the
  * monotone-id contract [[graft.streaming.IdWatermark]] enforces.
  * Replica 0 (the base corpus) is the BOOTSTRAP accepted set;
  * replicas 1..copies-1 stream.
  *
  * ScaleStreamSpec drives the identical derivation + laws on a 3x
  * sf0.01 corpus inside `sbt test` (with doctored-frame negative
  * cases); the main runs the 100x tier and writes the
  * SCALESTREAM_r{N} artifact, exiting non-zero on any violation.
  */
object ScaleStream {

  import ScaleGate.Check

  private def check(q: String, inv: String, pass: Boolean, detail: String) =
    Check(q, inv, pass, detail)

  /** Write the scaled table's replicas 1..copies-1 as `slices`
    * single-file backlog parquets in replica order (sequential writes
    * → monotone mtimes → the file source's one-file-per-trigger
    * batches arrive in id order). Returns the arrival count.
    */
  /** Expected banded-join candidate rows for a batch of `arrBandRows`
    * arrival band rows against the current index, assuming arrivals
    * hash proportionally to the index buckets (exact for the
    * replica-derived rehearsal corpus, a fair estimate under drift):
    * sum over buckets of idx_b·arr_b = arrBandRows·Σidx_b² / idxRows.
    * This is the number the 78-GB incident needed BEFORE the join ran.
    */
  private[graft] def projectedJoinCandidates(index: DataFrame,
      arrBandRows: Long): Long = {
    val st = index.groupBy("band_id", "band_val")
      .agg(count(lit(1)).as("b"))
      .agg(coalesce(sum(col("b") * col("b")), lit(0L)),
        coalesce(sum(col("b")), lit(0L))).head()
    val (sumSq, idxRows) = (st.getLong(0), st.getLong(1))
    if (idxRows == 0) 0L
    else (arrBandRows.toDouble * sumSq / idxRows).toLong
  }

  private[graft] def writeBacklog(spark: SparkSession, src: String,
      idCol: String, cols: Seq[String], outDir: String, copies: Int,
      slices: Int): Long = {
    val step = ScaleCorpus.Step
    // the backlog rewrites roughly the table's own volume — refuse
    // before writing when that alone would crowd the volume
    DiskGuard.require(outDir, DiskGuard.Projection(
      s"backlog rewrite of $src",
      DiskGuard.dirBytes(src),
      "point SPARK_GRAFT_STREAM_WORK at a larger volume or lower " +
        "SPARK_GRAFT_SCALE_COPIES"))
    val out = java.nio.file.Paths.get(outDir)
    org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    java.nio.file.Files.createDirectories(out)
    val streamReplicas = copies - 1
    val perSlice = math.max(1, math.ceil(streamReplicas.toDouble / slices).toInt)
    val table = spark.read.parquet(src).select(cols.map(col): _*)
    // anchor slice mtimes in the past so every assigned stamp is both
    // strictly increasing AND never ahead of the wall clock
    val sliceMtimeBase = System.currentTimeMillis() - (slices + 1) * 1000L
    var arrivals = 0L
    var k = 1
    var slice = 0
    while (k < copies) {
      val hi = math.min(copies, k + perSlice)
      val df = table.filter(col(idCol) >= k * step && col(idCol) < hi * step)
      val tmp = s"$outDir/_slice_tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"expected one part file, got ${part.length}")
      val target = out.resolve(f"slice_$slice%04d.parquet")
      java.nio.file.Files.move(part(0).toPath, target)
      // Explicit strictly-increasing mtimes (r15 advice): sequential
      // writes give monotone mtimes only at the filesystem's timestamp
      // resolution — fast slices on a second-granularity fs can share
      // an mtime, and FileStreamSource's timestamp sort would then
      // depend on listing order to keep slices in id order (a loud
      // IdWatermark trip, but a confusing one). One second per slice
      // makes the ordering independent of fs resolution.
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(
          sliceMtimeBase + slice * 1000L))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      arrivals += spark.read.parquet(target.toString).count()
      k = hi
      slice += 1
    }
    arrivals
  }

  /** The post-run law suite over a loop's collected verdict frame
    * (idCol, partner_id, ...) — factored on frames so the spec can
    * feed doctored ones as negative cases.
    *
    * `replicaLaws` applies only to the TEXT derivation: the affine
    * a-z permutation guarantees no shingle survives across replicas,
    * so a partner MUST live in its doc's id-replica and every replica
    * carries the base corpus' exact dup structure. The embedding
    * derivation makes NO such promise — replica a vs replica b meet at
    * relative shift (b−a), which is some OTHER base-pair relation that
    * can legitimately clear tau (observed live at 3x: the first smoke
    * run found genuine cross-replica near-dups) — so the emb loops
    * assert the tier-independent partner-∈-accepted law instead
    * ([[growthLaw]] + the acceptedIds anti-join in [[runLoop]]).
    */
  private[graft] def streamLaws(loop: String, verdicts: DataFrame,
      idCol: String, arrivals: Long, step: Long,
      replicaLaws: Boolean): Seq[Check] = {
    val st = verdicts.agg(count(lit(1)), count_distinct(col(idCol)),
      coalesce(sum(when(col("partner_id").isNotNull, 1L).otherwise(0L)),
        lit(0L))).head()
    val (rows, distinct, dups) = (st.getLong(0), st.getLong(1), st.getLong(2))
    val cyclic = verdicts.filter(col("partner_id").isNotNull &&
      col("partner_id") >= col(idCol)).count()
    val base = Seq(
      check(loop, "verdict conservation: one row per streamed arrival, ids unique",
        rows == arrivals && distinct == rows,
        s"rows=$rows distinct=$distinct arrivals=$arrivals"),
      check(loop, "first-copy-wins acyclicity: partner < id",
        cyclic == 0, s"violations=$cyclic"))
    if (!replicaLaws) base
    else {
      val crossReplica = verdicts.filter(col("partner_id").isNotNull &&
        expr(s"$idCol div $step") =!= expr(s"partner_id div $step")).count()
      // per-replica dup counts ride as TELEMETRY, not a law: the doc
      // loop's candidate generation is MinHash LSH, so a borderline
      // pair (Jaccard near tau) collides in some replicas and not
      // others as the permuted shingles re-roll the minhash draws —
      // observed live at 3x (23 vs 24 dups) while exact containment
      // held. An EXACT per-replica equality would gate on LSH chance.
      val perReplica = verdicts.filter(col("partner_id").isNotNull)
        .groupBy(expr(s"$idCol div $step").as("replica"))
        .agg(count(lit(1)).as("d")).collect().map(_.getLong(1))
      base :+
        check(loop, "replica containment: every partner lives in its doc's replica",
          crossReplica == 0,
          s"cross_replica_pairs=$crossReplica " +
            s"per_replica_dups=[${perReplica.sorted.mkString(",")}] " +
            s"total_dups=$dups")
    }
  }

  /** Every non-null partner is a SEEN id — bootstrap corpus or a
    * streamed arrival. Not "accepted": first-copy-wins chains mean a
    * doc's partner can itself be a dup of an even earlier copy (i→j
    * while j→k, so j never enters the store — observed live at 3x),
    * but a partner that was never seen at all is a fabricated id and
    * always a bug. The caller passes bootstrap ∪ arrivals.
    */
  private[graft] def partnerSeenLaw(loop: String, verdicts: DataFrame,
      idCol: String, seen: DataFrame): Check = {
    val ghosts = verdicts.filter(col("partner_id").isNotNull)
      .select(col("partner_id").as(idCol))
      .join(seen.select(idCol), Seq(idCol), "left_anti").count()
    check(loop, "every partner is a seen id (bootstrap or streamed arrival)",
      ghosts == 0, s"ghost_partners=$ghosts")
  }

  private[graft] def growthLaw(loop: String, store: String,
      acceptedAfter: Long, bootstrap: Long, survivors: Long): Check =
    check(loop, s"$store grows by survivors only (after = bootstrap + survivors)",
      acceptedAfter == bootstrap + survivors,
      s"after=$acceptedAfter bootstrap=$bootstrap survivors=$survivors")

  /** Per-batch progress captured from the engine's own listener —
    * batchId, input rows, wall ms.
    */
  private final class ProgressListener
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    override def onQueryStarted(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        if (e.progress.numInputRows > 0)
          rows += ((e.progress.batchId, e.progress.numInputRows,
            e.progress.batchDuration))
      }
    override def onQueryTerminated(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  final case class LoopResult(loop: String, copies: Int, arrivals: Long,
    batches: Int, wallSec: Double, perBatchMs: Seq[(Long, Long, Long)],
    checks: Seq[Check])

  /** Drive one loop end-to-end; `bootstrapAndStart` gets
    * (baseSlice, backlogDir) and returns (bootstrapAcceptedCount,
    * startedQuery, acceptedCountAfterRun, survivorStoreName).
    */
  private def runLoop(spark: SparkSession, loop: String, scaledDir: String,
      table: String, idCol: String, cols: Seq[String], copies: Int,
      slices: Int, work: String)(
      bootstrap: DataFrame => Long,
      start: (DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery,
      acceptedAfter: () => Long,
      verdictsDir: String, store: String, replicaLaws: Boolean,
      acceptedIds: () => DataFrame): LoopResult = {
    val step = ScaleCorpus.Step
    val src = s"$scaledDir/$table.parquet"
    val base = spark.read.parquet(src)
      .filter(col(idCol) < step).select(cols.map(col): _*)
    val nBoot = bootstrap(base)
    val backlogDir = s"$work/backlog_$loop"
    val arrivals = writeBacklog(spark, src, idCol, cols, backlogDir,
      copies, slices)
    val schema = spark.read.parquet(backlogDir).schema
    val listener = new ProgressListener
    spark.streams.addListener(listener)
    val t0 = System.nanoTime()
    // The one-file-per-trigger batch = one-core hazard is handled by
    // the PRODUCTION seam now (r15 verdict #3): the starters take
    // batchPartitions and apply it inside the loop body (BatchPar) —
    // the rehearsal drives the exact wiring a file-source deployment
    // uses, not a harness-side patch over it.
    val q = start(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(backlogDir),
      s"$work/ckpt_$loop")
    try q.awaitTermination()
    finally spark.streams.removeListener(listener)
    val wall = (System.nanoTime() - t0) / 1e9
    val verdicts = spark.read.parquet(verdictsDir)
    val laws = streamLaws(loop, verdicts, idCol, arrivals, step, replicaLaws)
    val partnerLaw = partnerSeenLaw(loop, verdicts, idCol,
      acceptedIds().select(col(idCol))
        .unionByName(verdicts.select(col(idCol))))
    val survivors = verdicts.filter(col("partner_id").isNull).count()
    val growth = growthLaw(loop, store, acceptedAfter(), nBoot, survivors)
    LoopResult(loop, copies, arrivals, listener.rows.size, wall,
      listener.rows.toSeq, laws ++ Seq(partnerLaw, growth))
  }

  def main(args: Array[String]): Unit = {
    val srcSf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaledDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale100")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "100").toInt
    val slices = sys.env.getOrElse("SPARK_GRAFT_STREAM_SLICES", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val work = sys.env.getOrElse("SPARK_GRAFT_STREAM_WORK", "/tmp/graft_scalestream")
    val spark = GraftRuntime.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    ScaleCorpus.ensure(spark, srcSf, scaledDir, copies)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))

    val onLoop = (r: LoopResult) => System.err.println(
      s"[stream] ${r.loop}: ${r.arrivals} arrivals in ${r.batches} batches, " +
        f"${r.wallSec}%.1f s; " +
        r.checks.map(c => s"${if (c.pass) "PASS" else "FAIL"} ${c.invariant}")
          .mkString(" | "))
    // SPARK_GRAFT_STREAM_FAMILY: "dedup" (the three index-backed
    // loops), "state" (the transformWithState/fMGWS family), or "all"
    val family = sys.env.getOrElse("SPARK_GRAFT_STREAM_FAMILY", "all")
    val results =
      (if (family == "all" || family == "dedup")
        runAll(spark, scaledDir, copies, slices, work, onLoop)
      else Seq.empty) ++
      (if (family == "all" || family == "state")
        ScaleStreamState.runAll(spark, scaledDir, copies, slices, work, onLoop)
      else Seq.empty)

    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val allChecks = results.flatMap(_.checks)
    val json = results.map { r =>
      val batches = r.perBatchMs.map { case (id, n, ms) =>
        s"""{"batch":$id,"rows":$n,"ms":$ms}""" }.mkString("[", ",", "]")
      val checks = r.checks.map(c =>
        s"""{"invariant":"${esc(c.invariant)}","pass":${c.pass},"detail":"${esc(c.detail)}"}""")
        .mkString("[", ",", "]")
      s"""{"loop":"${r.loop}","copies":${r.copies},"arrivals":${r.arrivals},"batches":${r.batches},"wall_sec":${String.format(java.util.Locale.ROOT, "%.1f", Double.box(r.wallSec))},"per_batch":$batches,"checks":$checks}"""
    }.mkString(
      s"""{"copies":$copies,"slices":$slices,"scaled":"$scaledDir","n_checks":${allChecks.size},"n_failed":${allChecks.count(!_.pass)},"loops":[""",
      ",\n", "]}")
    println(json)
    sys.env.get("SPARK_GRAFT_STREAM_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (json + "\n").getBytes("UTF-8"))
    }
    spark.stop()
    if (allChecks.exists(!_.pass)) sys.exit(1)
  }

  /** The three loops, shared by the main (100x) and ScaleStreamSpec
    * (3x inside `sbt test`).
    */
  /** Tier cap for the FLAT emb loop (B25): it is the registered
    * measured-quadratic BASELINE — every arriving vector's band bucket
    * grows with the whole accepted index, the degeneration the blocked
    * loop (B29) exists to fix, exactly the batch family's
    * dedup_embedding → dedup_embedding_blocked `supersededBy` story.
    * Measured live at the 100x tier: ONE 49.5k-arrival batch against a
    * ~450k-vector flat band index wrote > 78 GB of join shuffle and
    * exhausted the disk. The baseline therefore rehearses its laws at
    * min(copies, 10) — still a real multi-replica, multi-batch
    * checkpointed run — while its successor carries the full tier.
    */
  private[graft] val FlatLoopMaxCopies = 10

  private[graft] def runAll(spark: SparkSession, scaledDir: String,
      copies: Int, slices: Int, work: String,
      onLoop: LoopResult => Unit = _ => ()): Seq[LoopResult] = {
    import graft.streaming.{DocStream, EmbStream}

    val doc = runLoop(spark, "B18_docstream", scaledDir, "documents",
      "doc_id", Seq("doc_id", "text"), copies, slices, work)(
      base => {
        DocStream.writeSignatureIndex(base, s"$work/doc_index")
        base.count()
      },
      (src, ckpt) => DocStream.dedupIndexedStream(
        src, s"$work/doc_index", s"$work/doc_verdicts", ckpt,
        trigger = Trigger.AvailableNow(),
        batchPartitions = Some(spark.sparkContext.defaultParallelism)),
      () => spark.read.parquet(s"$work/doc_index")
        .select("doc_id").distinct().count(),
      s"$work/doc_verdicts", "signature index (distinct doc ids)",
      replicaLaws = true,
      () => spark.read.parquet(s"$work/doc_index").select("doc_id"))
    onLoop(doc)

    val flatCopies = math.min(copies, FlatLoopMaxCopies)
    val flat = runLoop(spark, "B25_embstream_flat", scaledDir, "embeddings",
      "vec_id", Seq("vec_id", "embedding"), flatCopies,
      math.min(slices, flatCopies - 1), work)(
      base => {
        EmbStream.writeIndex(base, s"$work/emb_band", s"$work/emb_vec")
        base.count()
      },
      (src, ckpt) => {
        // THE 78-GB LESSON, as a pre-flight number: project the LAST
        // batch's banded-join candidate volume (index grown by all
        // survivors, arrivals hashing proportionally) and refuse
        // before the first trigger instead of filling the disk
        // mid-run. The flat loop is the measured-quadratic baseline —
        // this guard is exactly why it is also tier-capped.
        val bootBand = spark.read.parquet(s"$work/emb_band")
        val bootVecs = spark.read.parquet(s"$work/emb_vec").count()
        val arrivalsTotal = (flatCopies - 1).toLong * bootVecs
        val perSlice = math.max(1L,
          arrivalsTotal / math.min(slices, flatCopies - 1))
        val bands = bootBand.select("band_id").distinct().count()
        val growth = (bootVecs + arrivalsTotal).toDouble / math.max(1L, bootVecs)
        val candLast = (projectedJoinCandidates(bootBand, perSlice * bands) *
          growth * growth).toLong
        DiskGuard.require(work, DiskGuard.Projection(
          s"B25 flat-loop band join, final batch (~$candLast candidate rows x 32 B)",
          candLast * 32L,
          "lower SPARK_GRAFT_SCALE_COPIES (the flat baseline is " +
            "tier-capped at 10x for exactly this quadratic; B29 blocked " +
            "carries the full tier) or free disk under SPARK_GRAFT_STREAM_WORK"))
        EmbStream.dedupIndexedStream(
          src, s"$work/emb_band", s"$work/emb_vec",
          s"$work/emb_verdicts", ckpt, trigger = Trigger.AvailableNow(),
          batchPartitions = Some(spark.sparkContext.defaultParallelism))
      },
      () => spark.read.parquet(s"$work/emb_vec").count(),
      s"$work/emb_verdicts", "accepted-vector store",
      replicaLaws = false,
      () => spark.read.parquet(s"$work/emb_vec").select("vec_id"))
    onLoop(flat)

    val blocked = runLoop(spark, "B29_embstream_blocked", scaledDir,
      "embeddings", "vec_id", Seq("vec_id", "embedding"), copies, slices,
      work)(
      base => {
        EmbStream.writeIndexBlocked(base, s"$work/blk_cent",
          s"$work/blk_band", s"$work/blk_vec")
        base.count()
      },
      (src, ckpt) => EmbStream.dedupIndexedStreamBlocked(
        src, s"$work/blk_cent", s"$work/blk_band", s"$work/blk_vec",
        s"$work/blk_verdicts", ckpt, trigger = Trigger.AvailableNow(),
        batchPartitions = Some(spark.sparkContext.defaultParallelism)),
      () => spark.read.parquet(s"$work/blk_vec").count(),
      s"$work/blk_verdicts", "accepted-vector store",
      replicaLaws = false,
      () => spark.read.parquet(s"$work/blk_vec").select("vec_id"))
    onLoop(blocked)

    Seq(doc, flat, blocked)
  }
}
