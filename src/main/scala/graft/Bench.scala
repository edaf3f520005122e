package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Driver-run benchmark: every registered query on
  * SPARK_GRAFT_SF_DIR, one JSON contract line on stdout.
  *
  * Methodology: a global warmup (parquet reader + shuffle + codegen
  * paths) runs first so the first measured query doesn't absorb JVM
  * init; queries run in sorted-name order for stable attribution;
  * each query's time is the best of SPARK_GRAFT_BENCH_REPS (default
  * 3) full executions — per-query codegen compiles on rep 1, so later
  * reps approximate steady-state cluster behavior and the min damps
  * GC/JIT noise. Queries are materialized through the `noop` sink
  * (not `count()`, under which Catalyst would eliminate top-level
  * sorts and undertime sort-heavy queries). A query failing every rep
  * reports -1 in the per-query map and is EXCLUDED from `total`.
  *
  * Beyond wall time, a SparkListener captures per-query SHUFFLE WRITE
  * and SPILL bytes (from the fastest rep) — wall time at local[32]
  * hides exactly the costs that dominate on a cluster, so the
  * `shuffle_bytes`/`spill_bytes` maps are the scale-facing half of the
  * report. The listener bus is drained before each delta is read.
  */
object Bench {

  /** Fixed synthetic canary — the bench's own load thermometer (r12
    * verdict: four rounds of driver bench windows were load-inflated
    * by sandbox co-tenancy and each acquittal was adjudicated by hand;
    * the artifact now self-flags). The work is CONSTANT by
    * construction — a fixed-size range scan + modulo-keyed hash
    * aggregate + noop sink, touching the same CPU/shuffle/codegen
    * resources the registry contends on but none of the test data, so
    * its wall time varies ONLY with machine load. It runs at bench
    * start, middle, and end; the JSON carries all three samples plus
    * median/committed, so "window inflated" (all samples high) and
    * "mid-window spike" (one sample high — suspect only the nearby
    * queries) are distinguishable mechanically.
    */
  private val CanaryRows = 64L << 20

  /** Fallback committed calm-window canary level (seconds) on the
    * round's reference hardware at local[32]. Since r14 this constant
    * is only the BOOTSTRAP: the committed level self-re-pins from the
    * artifact lineage (`canary_lineage.jsonl`, the MIN of the last
    * [[CanaryLineageN]] window medians at the same core count —
    * see [[resolveCommitted]]), so a hardware change needs at most one
    * manual SPARK_GRAFT_CANARY_COMMITTED pin (or, off 32 cores, none:
    * the first flag-off run seeds the lineage) instead of a constant
    * edit per fleet change. Pinned to the IN-BENCH calm level, not the
    * idle level: mid/end samples inherit the bench's own residual GC
    * pressure, which is part of every calm window and must not read
    * as external load. Measured r13 on an idle box (load 4/32, only
    * the bench JVM): full-registry window medians 0.549/0.583 s
    * (per-sample 0.39-0.61; start samples run cooler — they follow
    * only the warmup); idle-JVM medians for reference: 0.39-0.45 s.
    */
  private val CanaryCommittedSec = 0.57

  /** Rows in the IO-canary parquet fixture (~90 MB on disk: two
    * 32-char high-entropy md5 hex columns + two longs per row, so
    * snappy cannot compress the bulk away and the probe moves real
    * bytes).
    */
  private val CanaryIoRows = 1500000L

  /** Fallback committed calm level (seconds) for the IO canary on the
    * round's reference hardware at local[32] — the bootstrap for the
    * same self-re-pinning lineage scheme the CPU canary uses. Measured
    * r15 (full probe: 112 MB fixture scan + one full hash exchange of
    * every byte + noop sink): in-bench window medians 0.593/0.709 s,
    * per-sample 0.52-0.99 — wider variance than the CPU probe (the
    * shuffle path shares disk with the bench itself), which the 1.5x
    * threshold still clears by 2x headroom against the r14 incident's
    * 2.1x signal.
    *
    * WHY A SECOND AXIS (r14 What's-wrong 1, the round's live
    * false-negative): the CPU canary read 0.97x (calm) on a driver
    * window where byte-identical code ran +22% wall and the
    * shuffle-heavy queries ran 2.1x — the synthetic range+agg probe is
    * CPU-bound and blind to IO/page-cache/co-tenant shuffle pressure,
    * which is exactly the axis that governed that window. This probe
    * is shaped like the blind spot: a fixed parquet scan (decode +
    * page-cache-sensitive read) through ONE full exchange (shuffle
    * write + read of ~90 MB through the local disk path) into the
    * noop sink. The window flags inflated when EITHER axis trips, and
    * the artifact names which fired.
    */
  private val CanaryIoCommittedSec = 0.60

  /** Lineage windows the derived level reads (newest-last). */
  private val CanaryLineageN = 5

  /** Lineage entries kept per core count on append (r14 What's-wrong
    * 4: the sidecar grew one line per window forever).
    */
  private val CanaryLineageKeep = 50

  private def lineagePath = java.nio.file.Paths.get(
    sys.env.getOrElse("SPARK_GRAFT_CANARY_LINEAGE", "canary_lineage.jsonl"))

  /** The JVM heap, the SECOND environment axis a lineage comparison
    * must hold fixed (measured live r16: the same tree ran the
    * allocation-heavy cluster — ann_*, classify_*, bpe_train,
    * corpus_stats, text_langid — 3-4x SLOWER under -Xmx96g than under
    * the 8g default, sustained across reps with both canary axes
    * calm: a huge G1 young gen keeps short-lived allocation storms
    * cache-cold. SPARK_DRIVER_MEM=96g belongs to the 100x scale runs;
    * the bench must run at the build default). Windows at different
    * heaps are not comparable, so both the committed canary levels
    * and the per-query floors key on (cpus, heap): a lineage line
    * contributes only when [[heapMatches]].
    */
  private def heapMb: Long = Runtime.getRuntime.maxMemory >> 20

  /** A lineage line's heap matches when its `heap_mb` equals the
    * current JVM's, or — for pre-r16 lines that carry no heap field —
    * when the current run itself uses the build-default heap
    * (`SPARK_DRIVER_MEM` unset): every historical window ran at the
    * default, so legacy lines are default-heap lines.
    */
  private[graft] def heapMatches(line: String, currentHeapMb: Long,
      currentIsDefault: Boolean): Boolean =
    """"heap_mb":([0-9]+)""".r.findFirstMatchIn(line)
      .map(_.group(1).toLong) match {
      case Some(h) => h == currentHeapMb
      case None => currentIsDefault
    }

  /** Whether this JVM runs at the build-default heap. `SPARK_DRIVER_MEM`
    * is the only lever that moves the test/run fork's -Xmx (build.sbt),
    * so "env var unset" == "default heap".
    */
  private def defaultHeapNow: Boolean =
    sys.env.get("SPARK_DRIVER_MEM").isEmpty

  private def ioFixturePath = sys.env.getOrElse(
    "SPARK_GRAFT_CANARY_IO_DIR", "target/canary_io_fixture.parquet")

  /** Committed calm level + its provenance, resolved in order:
    * explicit env pin > MINIMUM of the last [[CanaryLineageN]] window
    * medians at the same core count from the lineage sidecar > the
    * local[32] bootstrap constant > disabled.
    *
    * Min, not median, and over ALL recent windows, not just
    * calm-flagged ones (r14 review, two findings): a median of
    * calm-eligible windows RATCHETS under sustained sub-threshold
    * drift — each window < 1.5x the already-drifted level enters the
    * pool and compounds (observed live: 0.57 → 0.60 → 0.71 in two
    * runs with zero flags) — and a flag-off first window on new
    * hardware would seed the level from a possibly load-inflated
    * median with nothing to audit it. The MIN is immune to both: one
    * calm window anywhere in the last N pins the level at calm, a hot
    * window can never raise it, and a hot bootstrap seed is displaced
    * by the first calm window that follows. The cost is a slightly
    * optimistic level (ratios read a few percent high vs the old
    * median basis — the 1.5x flag threshold has the headroom, calm
    * windows vary < 1.2x). A genuine hardware slowdown converges
    * after N windows (the old fast minima age out).
    */
  private[graft] def resolveCommitted(cpus: String,
      lineage: java.nio.file.Path = lineagePath,
      pin: Option[Double] =
        sys.env.get("SPARK_GRAFT_CANARY_COMMITTED").map(_.toDouble),
      currentHeapMb: Long = heapMb,
      currentIsDefault: Boolean = defaultHeapNow)
      : (Option[Double], String) =
    resolveLevel(cpus, lineage, pin, "median", CanaryCommittedSec,
      currentHeapMb, currentIsDefault)

  /** The IO axis' committed level — same pin > lineage-min > bootstrap
    * lattice over the `median_io` lineage field. Pre-r15 lineage lines
    * carry no `median_io` and simply don't contribute, so the axis
    * bootstraps from the constant (or its own pin) until the lineage
    * accumulates post-r15 windows.
    */
  private[graft] def resolveCommittedIo(cpus: String,
      lineage: java.nio.file.Path = lineagePath,
      pin: Option[Double] =
        sys.env.get("SPARK_GRAFT_CANARY_COMMITTED_IO").map(_.toDouble),
      currentHeapMb: Long = heapMb,
      currentIsDefault: Boolean = defaultHeapNow)
      : (Option[Double], String) =
    resolveLevel(cpus, lineage, pin, "median_io", CanaryIoCommittedSec,
      currentHeapMb, currentIsDefault)

  private def resolveLevel(cpus: String, lineage: java.nio.file.Path,
      pin: Option[Double], field: String, bootstrap32: Double,
      currentHeapMb: Long, currentIsDefault: Boolean)
      : (Option[Double], String) =
    pin match {
      case Some(p) => (Some(p), "pinned")
      case None =>
        val medians =
          if (!java.nio.file.Files.exists(lineage)) Seq.empty
          else scala.jdk.CollectionConverters.ListHasAsScala(
            java.nio.file.Files.readAllLines(lineage)).asScala.toSeq
            // a torn trailing line (crash mid-append) must not enter
            // the pool: `"median":0.` would regex-parse as 0.0 and the
            // MIN would pin the level at zero, flagging every window
            // for the next N runs (r14 advice). A complete entry ends
            // with '}' and carries a strictly positive median. The
            // heap key (r16) keeps 8g and 96g windows apart — see
            // [[heapMatches]].
            .filter(l => l.endsWith("}") && l.contains(s""""cpus":$cpus,""") &&
              heapMatches(l, currentHeapMb, currentIsDefault))
            .flatMap { l =>
              ("\"" + field + "\":([0-9.]+)").r.findFirstMatchIn(l)
                .map(_.group(1).toDouble)
            }
            .filter(_ > 0.0)
        if (medians.nonEmpty)
          (Some(medians.takeRight(CanaryLineageN).min), "derived")
        else if (cpus == "32") (Some(bootstrap32), "default")
        else (None, "off")
    }

  /** EITHER-axis flag decision + attribution: `(inflated, axis)` where
    * axis names what fired (`"cpu"`, `"io"`, `"cpu+io"`). An axis with
    * no committed level (ratio None) cannot fire; with BOTH axes
    * unresolved the flag itself is undetermined (None), matching the
    * single-axis behavior off the reference core count.
    */
  private[graft] def flagAxes(cpuRatio: Option[Double],
      ioRatio: Option[Double]): (Option[Boolean], Option[String]) = {
    if (cpuRatio.isEmpty && ioRatio.isEmpty) (None, None)
    else {
      val cpuHot = cpuRatio.exists(_ > CanaryInflatedRatio)
      val ioHot = ioRatio.exists(_ > CanaryIoInflatedRatio)
      val axis = (cpuHot, ioHot) match {
        case (true, true) => Some("cpu+io")
        case (true, false) => Some("cpu")
        case (false, true) => Some("io")
        case _ => None
      }
      (Some(cpuHot || ioHot), axis)
    }
  }

  /** Bound the lineage sidecar on append: keep the newest
    * [[CanaryLineageKeep]] entries PER CORE COUNT (other counts'
    * history must not be evicted by a busy one), preserving order.
    */
  private[graft] def trimLineage(lines: Seq[String],
      keep: Int = CanaryLineageKeep): Seq[String] = {
    def cpusOf(l: String): String =
      """"cpus":([0-9]+)""".r.findFirstMatchIn(l).map(_.group(1)).getOrElse("?")
    // select by INDEX, not line content — two windows can serialize to
    // identical lines, and a content set would evict keepers too
    val keepIdx = lines.zipWithIndex.groupBy { case (l, _) => cpusOf(l) }
      .flatMap { case (_, ls) => ls.takeRight(keep).map(_._2) }.toSet
    lines.zipWithIndex.collect { case (l, i) if keepIdx(i) => l }
  }

  /** Per-query lineage floors (r15 verdict #1): the two-axis canary
    * names an INFLATED window but cannot RANK two CALM ones — r15's
    * committed window (156.8 s) and the driver's byte-identical rerun
    * (118.7 s) differed 1.32x with both axes calm, so cross-round
    * committed totals were window noise inside the 1.5x trip band.
    * Each full-registry window now records its per-query best-of-reps
    * map (`q_mins`, both lanes) in the lineage entry; a query's FLOOR
    * is the MIN of its q_mins over the last [[CanaryLineageN]] q_mins-
    * bearing windows at the same core count — the same no-ratchet /
    * no-poisoned-seed argument as [[resolveCommitted]] (a hot window
    * can never raise a floor; a genuine slowdown converges as fast
    * minima age out). Floors resolve from HISTORY (before this
    * window's own append), so a faster-than-history window reads < 1.0
    * and a slower one > 1.0 — code-attributable drift is then a
    * per-query floor-ratio shift against a COMMON floor, needing no
    * byte-identical rerun. Returns (floors, windowsContributing).
    */
  private[graft] def resolveQueryFloors(cpus: String,
      lineage: java.nio.file.Path = lineagePath,
      currentHeapMb: Long = heapMb,
      currentIsDefault: Boolean = defaultHeapNow)
      : (Map[String, Double], Int, String) = {
    val qMinsRe = """"q_mins":\{([^{}]*)\}""".r
    val pairRe = """"([^"]+)":([0-9.]+)""".r
    val lines =
      if (!java.nio.file.Files.exists(lineage)) Seq.empty
      else scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(lineage)).asScala.toSeq
        // same torn-line guard as resolveLevel: a crash mid-write must
        // not contribute a truncated q_mins fragment
        .filter(l => l.endsWith("}") && l.contains(s""""cpus":$cpus,"""))
    def floorsOf(pool: Seq[String]): (Map[String, Double], Int) = {
      val maps = pool
        .flatMap(l => qMinsRe.findFirstMatchIn(l).map(_.group(1)))
        .takeRight(CanaryLineageN)
        .map(body => pairRe.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter(_._2 > 0.0).toMap)
      (maps.flatten.groupMapReduce(_._1)(_._2)(math.min), maps.size)
    }
    // Same-heap windows are the authoritative lane (the r16 measured
    // 3-4x allocation-cluster heap sensitivity makes cross-heap minima
    // untrustworthy as hard floors). But a window at a heap with NO
    // history must not be floor-BLIND (r16 What's-wrong #1: the
    // driver's own bench window got floor windows=0 and no report):
    // it falls back to the minima across ALL heaps at this core count,
    // labelled "cross-heap" so consumers read the ratios as ADVISORY —
    // a cross-heap window_vs_floor > 1 may be the heap, not the code.
    val (same, sameN) = floorsOf(
      lines.filter(heapMatches(_, currentHeapMb, currentIsDefault)))
    if (sameN > 0) (same, sameN, "same-heap")
    else {
      val (cross, crossN) = floorsOf(lines)
      if (crossN > 0) (cross, crossN, "cross-heap") else (Map.empty, 0, "none")
    }
  }

  /** One window's floor report: per-query ratio-to-floor plus
    * `floor_total` (sum of floors) and `window_vs_floor` (this
    * window's sum over the same queries / floor_total), over the
    * queries present in BOTH the window (successful) and the floor
    * map. Factored on plain values so the spec can replay the r15
    * calm-vs-calm incident as two distinguishable reports.
    */
  private[graft] def floorReport(windowTimes: Seq[(String, Double)],
      floors: Map[String, Double])
      : (Option[Double], Option[Double], Seq[(String, Double)]) = {
    val joined = windowTimes.collect {
      case (q, t) if t >= 0 && floors.get(q).exists(_ > 0.0) =>
        (q, t, floors(q))
    }
    if (joined.isEmpty) (None, None, Seq.empty)
    else {
      val floorTotal = joined.map(_._3).sum
      val windowSum = joined.map(_._2).sum
      (Some(floorTotal), Some(windowSum / floorTotal),
        joined.map { case (q, t, f) => (q, t / f) })
    }
  }

  /** Ratio above which the window is flagged inflated — 1.5x clears
    * normal scheduler jitter (calm samples vary < 1.2x) while every
    * historical load window (r10/r11/r12: totals 15-30% high with
    * individual queries 2-3x) would have tripped it.
    */
  private val CanaryInflatedRatio = 1.5

  /** IO-axis flag threshold — same 1.5x basis as the CPU axis (calm
    * samples measured r15 vary < 1.25x; the r14 incident's
    * shuffle-heavy queries ran 2.1x, well past it).
    */
  private val CanaryIoInflatedRatio = 1.5

  private def runCanary(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(CanaryRows)
      .select((col("id") % 9973).as("k"), col("id").as("v"))
      .groupBy("k")
      .agg(sum("v").as("s"), avg("v").as("a"), max("v").as("m"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Build the IO-canary fixture if absent (gated on `_SUCCESS`, like
    * every other reuse in the repo). Content is DETERMINISTIC (md5 /
    * xxhash64 of the row id — no clock, no rng), so every window
    * probes byte-identical data; the md5 hex columns are high-entropy
    * so the parquet encoder cannot compress the bulk away. Build time
    * is never measured — the fixture persists across windows.
    */
  private def ensureIoFixture(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    val dir = ioFixturePath
    val success = new java.io.File(dir, "_SUCCESS")
    if (!success.isFile) {
      spark.range(CanaryIoRows)
        .select(col("id"),
          md5(col("id").cast("string")).as("a"),
          md5(concat(lit("io-canary:"), col("id").cast("string"))).as("b"),
          xxhash64(col("id")).as("k"))
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** One IO-canary sample: scan the fixed fixture, move EVERY byte
    * through one hash exchange (shuffle write + read on the local disk
    * path), materialize via the noop sink. Constant work by
    * construction — wall time varies only with IO/page-cache/shuffle
    * pressure (plus the decode CPU both axes share).
    */
  private def runCanaryIo(spark: SparkSession, fixture: String): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.read.parquet(fixture)
      .repartition(col("k"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private final class ShuffleMetricsListener
      extends org.apache.spark.scheduler.SparkListener {
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = GraftRuntime.local(cpus.toInt,
      "spark.sql.adaptive.enabled" -> "true", GraftRuntime.ShjThreshold)
    // r18, INVESTIGATED AND REJECTED: size-based AQE coalescing
    // (coalescePartitions.parallelismFirst=false + a 16m advisory
    // size, guide §2.2) was adopted mid-round on interleaved A/Bs
    // showing 15/20 sampled queries −10..−54% — then reverted when
    // an A/A control exposed a 6–46% second-position cache/JIT bias
    // in the fixed A-then-B harness layout. Position-balanced
    // re-measurement: the sample reads NET NEGATIVE (base 32.3 s vs
    // 35.2 s; graph_pagerank +41%, graph_triangles +33%,
    // corpus_dup_profile +20%, bpe_train +18% — compute-dense stages
    // serialize when KB-sized local shuffles coalesce below the core
    // count; wins were modest and confined to scan-heavy TPC-H
    // rows). At sf0.1 most shuffles are << one advisory unit TOTAL,
    // so byte-derived counts mean 1-partition stages — a small-input
    // pathology the parallelism-first default exists to prevent. On
    // a cluster the size-based policy is still the right one (guide
    // §9: 256m advisory); it belongs in submit-time conf there, not
    // hard-coded here where the driver's own bench would pay for it.
    // Full evidence: OPTIMIZATION_r18.md "Measurement-bias
    // discovery" + the coalescing section.
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = new ShuffleMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    // Drain FIRST, then read: pending task-end events from whatever
    // ran before (warmup, a failed rep with no end-drain) must be
    // applied to the counters before they serve as a baseline.
    def settledCounters(): (Long, Long) = {
      org.apache.spark.sql.graft.Bridge.drainListeners(spark.sparkContext)
      (metrics.shuffleBytes.get(), metrics.spillBytes.get())
    }

    // Warmup: touch the parquet reader, a shuffle, a broadcast and the
    // codegen compiler once before any measurement. The broadcast join
    // is real — without it, TorrentBroadcast/threadpool init would
    // land in the first measured query that broadcasts.
    Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().collect()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir)
      .join(org.apache.spark.sql.functions.broadcast(Tables.nation(spark, sfDir)),
        org.apache.spark.sql.functions.col("l_suppkey") % 25 ===
          org.apache.spark.sql.functions.col("n_nationkey"))
      .count()

    // Optional name filter (comma-separated) for root-causing a
    // regression cluster without paying the full-registry wall time.
    // The JSON contract line is only written when unfiltered.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A typo'd filter name must fail loudly, not silently run an empty
    // (or partial) benchmark and write a near-empty artifact.
    filter.foreach { f =>
      val unknown = f -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_FILTER names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.forall(_.contains(n)) }

    // canary sample 1: window START (two canary warmups first — the
    // canary's own codegen/JIT first-touch must not read as load;
    // one warmup measured insufficient, start samples stayed ~20% hot)
    runCanary(spark); runCanary(spark)
    val canaryStart = runCanary(spark)
    // IO axis: build-or-reuse the fixture (never timed), same
    // two-warmup discipline (warmup 1 additionally pulls the fixture
    // into the page cache — a cold-cache first sample reads as load)
    val ioFixture = ensureIoFixture(spark)
    runCanaryIo(spark, ioFixture); runCanaryIo(spark, ioFixture)
    val canaryIoStart = runCanaryIo(spark, ioFixture)
    var canaryMid = -1.0
    var canaryIoMid = -1.0
    val midIdx = selected.size / 2

    val results = selected.zipWithIndex.map { case ((name, fn), qIdx) =>
      if (qIdx == midIdx) {
        canaryMid = runCanary(spark)
        canaryIoMid = runCanaryIo(spark, ioFixture)
      }
      // each rep keeps its slot: a failed rep rides as None so the
      // artifact's per-rep array shows WHERE it failed (null), not a
      // silently shorter array indistinguishable from a smaller run
      val repSlots = (1 to reps).map { rep =>
        // Queries that persist an internal frame (the materialize-once
        // ranking layouts, r13) would otherwise serve reps 2..n from
        // the plan cache (CacheManager matches by canonicalized plan
        // across builds) — the best-of-reps would then time a cache
        // read while every other query times real work. Every rep
        // starts cache-cold.
        spark.catalog.clearCache()
        // r18 measurement fix: ALSO drop leftover RDD-level persists —
        // localCheckpoint frames and DataFrame.persist layouts from the
        // previous rep/query register in the block manager, NOT the
        // catalog cache, and are otherwise only released when the JVM
        // GCs the frame and ContextCleaner notices. Over 162 queries x
        // 3 reps the dead blocks accumulate (storage eviction churn +
        // GC pressure), progressively inflating the WINDOW TAIL: the
        // two r18 pre-fix windows read their last-alphabet queries at
        // 2-5x floor while the canary stayed calm (text_tokenize_bpe
        // 5.3x, text_tokens 3.9x, vocab_oov 2.9x), and the r17 driver
        // window showed the same signature (pipeline_curate_nb rep at
        // 71.9 s). Blocking, so the removal cost lands BETWEEN reps,
        // never inside the timed region. Every rep still computes from
        // the parquet inputs — this removes stale state, never adds
        // reuse.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        val (sh0, sp0) = settledCounters()
        val t0 = System.nanoTime()
        try {
          // noop sink materializes every row (and keeps the plan's
          // sorts) without writing anywhere.
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val secs = (System.nanoTime() - t0) / 1e9
          val (sh1, sp1) = settledCounters()
          // Rep-by-rep times go to stderr so a best-of-reps outlier can
          // be attributed (rep-1 codegen vs sustained slowness) without
          // a re-run — the min alone can't distinguish them.
          System.err.println(f"[bench] $name rep $rep: $secs%.3f s")
          Some((secs, sh1 - sh0, sp1 - sp0))
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[bench] $name rep $rep failed: ${e.getMessage}")
            None
        }
      }
      val runs = repSlots.flatten
      (name, runs.minByOption(_._1).getOrElse((-1.0, -1L, -1L)),
        repSlots.map(_.map(_._1)))
    }
    // BASELINE LANE (r13 verdict #7): queries carrying machine
    // steering (supersededBy — measured quadratics kept as pedagogical
    // baselines with a registered linear successor) still RUN every
    // window (their history and steering stay alive) but report in a
    // separate `baseline` object, not the headline maps: the headline
    // is what a user following the steering would actually pay.
    val baselineNames = results.collect {
      case (k, _, _) if SparkEntry.defsByName(k).supersededBy.nonEmpty => k
    }.toSet
    val (blResults, hlResults) =
      results.partition { case (k, _, _) => baselineNames.contains(k) }
    val qs = hlResults.map { case (k, (t, _, _), _) => "\"" + k + "\":" + t }
      .mkString("{", ",", "}")
    val shuffles = hlResults.map { case (k, (_, sh, _), _) => "\"" + k + "\":" + sh }
      .mkString("{", ",", "}")
    val spills = hlResults.map { case (k, (_, _, sp), _) => "\"" + k + "\":" + sp }
      .mkString("{", ",", "}")
    // the lane keeps the FULL telemetry shape (reps/shuffle/spill) —
    // the r8 per-rep-traces-in-the-artifact rule applies to both
    // lanes; only the headline membership changes (r14 review)
    val baselineJson = {
      val bq = blResults.map { case (k, (t, _, _), _) => "\"" + k + "\":" + t }
        .mkString("{", ",", "}")
      val bSh = blResults.map { case (k, (_, sh, _), _) => "\"" + k + "\":" + sh }
        .mkString("{", ",", "}")
      val bSp = blResults.map { case (k, (_, _, sp), _) => "\"" + k + "\":" + sp }
        .mkString("{", ",", "}")
      val bReps = blResults.map { case (k, _, rs) =>
        "\"" + k + "\":" +
          rs.map(_.map(_.toString).getOrElse("null")).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val bTotal = blResults.collect { case (_, (v, _, _), _) if v >= 0 => v }.sum
      s"""{"queries":$bq,"total":$bTotal,"shuffle_bytes":$bSh,"spill_bytes":$bSp,"reps":$bReps}"""
    }
    // Per-rep traces IN the artifact (r8 verdict, bench-evidence
    // hygiene): the round-to-round drift analyses kept reconstructing
    // rep-1-codegen vs sustained-slowness from stderr scrollback; the
    // committed JSON now carries every rep, so variance attribution
    // needs no re-run and survives stdout truncation.
    // SCHEMA (documented in README "Bench" bullet): every reps array
    // has exactly `reps` slots; a failed rep is a literal JSON `null`
    // in its slot so partial failures stay visible in the artifact —
    // consumers must tolerate nulls when treating reps as numeric.
    val repsJson = hlResults.map { case (k, _, rs) =>
      "\"" + k + "\":" +
        rs.map(_.map(_.toString).getOrElse("null")).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // canary sample 3: window END. Median-of-3 vs the committed calm
    // level decides the flag (median: a single spiky sample means a
    // transient, not a whole inflated window — the per-sample values
    // stay in the artifact for exactly that attribution).
    val canaryEnd = runCanary(spark)
    val canaryIoEnd = runCanaryIo(spark, ioFixture)
    def median3(s: Seq[Double]): Double = {
      val v = s.filter(_ >= 0)
      v.sorted.apply(v.size / 2)
    }
    val canaryMedian = median3(Seq(canaryStart, canaryMid, canaryEnd))
    val canaryIoMedian = median3(Seq(canaryIoStart, canaryIoMid, canaryIoEnd))
    // The committed levels scale with cores, so a level is only in
    // force when one resolves for THIS core count (pin > lineage >
    // local[32] bootstrap constant — see resolveCommitted); otherwise
    // that axis stays off and its samples still land in the artifact
    // (and seed the lineage for the next run here).
    val (committedOpt, provenance) = resolveCommitted(cpus)
    val (committedIoOpt, provenanceIo) = resolveCommittedIo(cpus)
    // Locale-pinned decimal formatting (r14 review): the f-interpolator
    // follows the default locale, and a comma-decimal JVM (de_DE, ...)
    // would write "median":0,710 — invalid JSON that resolveCommitted's
    // dot-decimal regex would misread as 0, flagging every window
    // inflated against a zero level forever.
    def d3(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    def d2(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))
    val cpuRatio = committedOpt.map(canaryMedian / _)
    val ioRatio = committedIoOpt.map(canaryIoMedian / _)
    val (inflatedOpt, axisOpt) = flagAxes(cpuRatio, ioRatio)
    if (inflatedOpt.contains(true)) System.err.println(
      s"[bench] WINDOW INFLATED (axis: ${axisOpt.get}): cpu canary median " +
        s"${d3(canaryMedian)} s = ${cpuRatio.map(d2).getOrElse("n/a")}x " +
        s"committed (${committedOpt.map(d3).getOrElse("n/a")}, $provenance); " +
        s"io canary median ${d3(canaryIoMedian)} s = " +
        s"${ioRatio.map(d2).getOrElse("n/a")}x committed " +
        s"(${committedIoOpt.map(d3).getOrElse("n/a")}, $provenanceIo) - " +
        "treat per-query regressions in this artifact as suspect " +
        "(io-axis flags hit the shuffle-heavy queries hardest)")
    if (inflatedOpt.isEmpty) System.err.println(
      s"[bench] canary flag disabled: no committed calm level resolves for " +
        s"local[$cpus] on either axis (no pin, no lineage at this core " +
        "count) - this run's medians seed the lineage; set " +
        "SPARK_GRAFT_CANARY_COMMITTED / _IO to arm the flag immediately")
    // Per-axis objects + the either-axis flag and attribution (r14
    // What's-wrong 1: the CPU-only canary read 0.97x calm on a +22%
    // IO-pressured window; the artifact now carries both axes and
    // names which fired). Axis fields are NULLABLE like before.
    def axisJson(start: Double, mid: Double, end: Double, med: Double,
        committed: Option[Double], ratio: Option[Double], threshold: Double,
        prov: String): String = {
      val c = committed.map(d3).getOrElse("null")
      val r = ratio.map(d2).getOrElse("null")
      val infl = ratio.map(x => (x > threshold).toString).getOrElse("null")
      s"""{"start":${d3(start)},"mid":${d3(mid)},"end":${d3(end)},"median":${d3(med)},"committed":$c,"ratio":$r,"inflated":$infl,"provenance":"$prov"}"""
    }
    val canaryJson = {
      val cpuJ = axisJson(canaryStart, canaryMid, canaryEnd, canaryMedian,
        committedOpt, cpuRatio, CanaryInflatedRatio, provenance)
      val ioJ = axisJson(canaryIoStart, canaryIoMid, canaryIoEnd,
        canaryIoMedian, committedIoOpt, ioRatio, CanaryIoInflatedRatio,
        provenanceIo)
      val infl = inflatedOpt.map(_.toString).getOrElse("null")
      val axis = axisOpt.map("\"" + _ + "\"").getOrElse("null")
      s"""{"cpu":$cpuJ,"io":$ioJ,"inflated":$infl,"axis":$axis}"""
    }
    // Append this window to the lineage sidecar (full-registry runs
    // only — a filtered run's GC/cache profile is not a calm-window
    // comparable). Every window is appended, hot or calm — the
    // min-of-last-N derivation makes eligibility filtering
    // unnecessary, and the history should show the hot windows. The
    // file is TRIMMED to the newest CanaryLineageKeep entries per core
    // count on every append (r14 What's-wrong 4: unbounded growth).
    // Per-query floors resolve from HISTORY, before this window's own
    // entry lands — a faster-than-history window reads < 1.0 per
    // query, a slower one > 1.0 (see resolveQueryFloors).
    val (floors, floorWindows, floorProvenance) = resolveQueryFloors(cpus)
    val floorJson = {
      val windowTimes = results.map { case (k, (t, _, _), _) => (k, t) }
      val (floorTotalOpt, windowVsFloorOpt, ratios) =
        floorReport(windowTimes, floors)
      val rj = ratios.sortBy(_._1)
        .map { case (q, r) => "\"" + q + "\":" + d2(r) }
        .mkString("{", ",", "}")
      s"""{"total":${floorTotalOpt.map(d3).getOrElse("null")},"window_vs_floor":${windowVsFloorOpt.map(d2).getOrElse("null")},"windows":$floorWindows,"provenance":"$floorProvenance","queries":$rj}"""
    }
    if (filter.isEmpty) {
      def optJson(o: Option[Double], f: Double => String): String =
        o.map(f).getOrElse("null")
      // per-query best-of-reps across BOTH lanes — the floor source
      // for future windows at this core count
      val qMinsJson = results.collect {
        case (k, (t, _, _), _) if t >= 0 => "\"" + k + "\":" + d3(t)
      }.mkString("{", ",", "}")
      val entry =
        s"""{"cpus":$cpus,"heap_mb":$heapMb,"median":${d3(canaryMedian)},"committed":${optJson(committedOpt, d3)},"ratio":${optJson(cpuRatio, d2)},"inflated":${cpuRatio.map(r => (r > CanaryInflatedRatio).toString).getOrElse("null")},"median_io":${d3(canaryIoMedian)},"committed_io":${optJson(committedIoOpt, d3)},"ratio_io":${optJson(ioRatio, d2)},"inflated_io":${ioRatio.map(r => (r > CanaryIoInflatedRatio).toString).getOrElse("null")},"provenance":"$provenance","provenance_io":"$provenanceIo","q_mins":$qMinsJson}"""
      val existing =
        if (java.nio.file.Files.exists(lineagePath))
          scala.jdk.CollectionConverters.ListHasAsScala(
            java.nio.file.Files.readAllLines(lineagePath)).asScala.toSeq
            .filter(_.nonEmpty)
        else Seq.empty
      val trimmed = trimLineage(existing :+ entry)
      // Atomic replace (r15 advice): the in-place truncate-and-write
      // could lose the whole history on a crash mid-write, and two
      // concurrent runs sharing the sidecar would read-modify-write
      // over each other. A sibling temp file + ATOMIC_MOVE bounds the
      // damage to losing ONE run's single appended entry.
      val dir = lineagePath.toAbsolutePath.getParent
      val tmp = java.nio.file.Files.createTempFile(dir, ".canary_lineage", ".tmp")
      java.nio.file.Files.write(tmp,
        trimmed.mkString("", "\n", "\n").getBytes("UTF-8"))
      try java.nio.file.Files.move(tmp, lineagePath.toAbsolutePath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          java.nio.file.Files.move(tmp, lineagePath.toAbsolutePath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }

    // headline total excludes the baseline lane (reported separately)
    val total = hlResults.collect { case (_, (v, _, _), _) if v >= 0 => v }.sum
    // failures surfaced explicitly ACROSS BOTH LANES: a broken query
    // must not read as a smaller (better) total, and a baseline-lane
    // break must not hide either
    val failed = results.collect { case (k, (v, _, _), _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"shuffle_bytes":$shuffles,"spill_bytes":$spills,"reps":$repsJson,"baseline":$baselineJson,"canary":$canaryJson,"floor":$floorJson,"sf":"$sfDir"}"""
    println(line)
    // Also persist next to the repo: the driver captures stdout tails,
    // which has truncated the per-query map before — the file is the
    // durable copy (BENCH analysis shouldn't need a re-run). Filtered
    // runs still honor an explicit SPARK_GRAFT_BENCH_OUT but never
    // clobber the default full-registry file.
    if (filter.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT")) {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_local.json"))
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
