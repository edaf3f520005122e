package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.Bridge

import graft.GraftRuntime

/** DataFrame-level API for graft's custom operators. */
object GraftOps {

  /** Opt a session into the whole [[GraftRuntime]] catalog at
    * runtime: the SQL functions, the custom-operator strategies and the
    * [[InferTopKPerKey]] rewrite (row_number-filter top-k idiom →
    * bounded-heap TopKPerKey), plus [[GraftRuntime.sessionConfs]].
    * The same catalog is injected declaratively by
    * `spark.sql.extensions=graft.GraftExtensions`; this entry point
    * covers sessions built without the config.
    * Idempotent: a function name the session already resolves is left
    * as it is, no strategy or rule is listed twice, and a conf key the
    * session already sets keeps its value.
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    Bridge.setUnlessSet(spark, GraftRuntime.sessionConfs)
    GraftRuntime.sqlFunctions.foreach(f =>
      Bridge.addFunction(spark, f.identifier, f.info, f.builder))
    GraftRuntime.strategies.foreach(Bridge.addStrategy(spark, _))
    GraftRuntime.optimizerRules.foreach(Bridge.addOptimization(spark, _))
  }

  /** Per-key top-k without a window sort: keep the `k` rows with the
    * highest `order` per `keys` group, ties broken by the lowest
    * `tie`. NULL-order rows are dropped; NaN orders rank greatest
    * (Spark descending-sort semantics). Plans as partial
    * (pre-shuffle) + final bounded-heap passes — see [[TopKPerKey]].
    *
    * Also registered by [[graft.GraftExtensions]]; this API
    * additionally self-registers the strategy so it works on any
    * session.
    */
  def topKPerKey(df: DataFrame, keys: Seq[Column], order: Column,
      tie: Column, k: Int): DataFrame =
    topKPerKeyImpl(df, keys, order, tie, k, distinctOrd = false)

  /** [[topKPerKey]] keeping at most ONE row per (order, tie) rank per
    * key — the k-minimum-values sketch shape (r17): duplicates fold
    * away inside the bounded heap map-side, so a KMV consumer pays no
    * full-stream dropDuplicates exchange before the heap.
    */
  def topKPerKeyDistinct(df: DataFrame, keys: Seq[Column], order: Column,
      tie: Column, k: Int): DataFrame =
    topKPerKeyImpl(df, keys, order, tie, k, distinctOrd = true)

  private def topKPerKeyImpl(df: DataFrame, keys: Seq[Column], order: Column,
      tie: Column, k: Int, distinctOrd: Boolean): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    Bridge.addStrategy(spark, TopKStrategy)
    // Integral orders compare as exact Longs: a blanket double cast
    // collapses 64-bit values closer than 1 ulp (53 mantissa bits),
    // and e.g. a 60-bit hash order would fall through to the
    // tie-break — the corpus-scale divergence TopKPerKey.ordLong
    // exists to prevent. Fractional orders keep the double path.
    val ordIsLong = df.select(order).schema.head.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    Bridge.ofRows(spark, TopKPerKey(
      keys.map(Bridge.eagerExpression),
      Bridge.eagerExpression(
        if (ordIsLong) order.cast("long") else order.cast("double")),
      Bridge.eagerExpression(tie.cast("long")),
      k,
      Bridge.logicalPlan(df),
      ordLong = ordIsLong,
      distinctOrd = distinctOrd))
  }

  /** Partition-skew diagnostic: per-partition row counts of `df` AS
    * CURRENTLY PARTITIONED, one output row per non-empty partition.
    * The skew ratio (max/mean) is the number that predicts straggler
    * tasks at scale; [[skewRatio]] computes it directly. Cost: one
    * narrow pass + a tiny aggregate — safe to run on any intermediate.
    */
  def partitionStats(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** max/mean rows per partition (1.0 = perfectly balanced; empty
    * input returns 0). Values far above ~2 mean a hot key or bad
    * partitioning is concentrating work on straggler tasks.
    */
  def skewRatio(df: DataFrame): Double = {
    val stats = partitionStats(df).collect().map(_.getLong(1))
    if (stats.isEmpty) 0.0
    else stats.max.toDouble / (stats.sum.toDouble / stats.length)
  }

  /** As-of join (left outer): for each `left` row, the `right` row
    * with equal keys and the greatest `rightTime` <= `leftTime`;
    * right columns NULL when none exists. Executes as a co-partitioned
    * single-pass sort-merge — see [[AsofJoin]] for semantics and the
    * comparison with the union-window formulation.
    *
    * `left` and `right` must not share attribute lineage (build the
    * sides from separate reads or alias the columns apart), and time
    * columns are cast to LongType.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKeys: Seq[Column], rightKeys: Seq[Column],
      leftTime: Column, rightTime: Column): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      "asofJoin needs matching non-empty key lists")
    // Key types must match EXACTLY: the co-partitioning hashes each
    // side's own keys, and Murmur3 hashes Int 5 and Long 5 to
    // different values — mismatched types would silently land equal
    // keys in different partitions and null-extend every left row.
    // The key ordering is also built from left types only.
    val lt = left.select(leftKeys: _*).schema.map(_.dataType)
    val rt = right.select(rightKeys: _*).schema.map(_.dataType)
    require(lt == rt,
      s"asofJoin key type mismatch: left ${lt.mkString("(", ",", ")")} vs " +
        s"right ${rt.mkString("(", ",", ")")} — cast the keys to one type " +
        "(equal keys would otherwise hash to different partitions and " +
        "silently never match)")
    val spark = left.sparkSession
    Bridge.addStrategy(spark, AsofJoinStrategy)
    Bridge.ofRows(spark, AsofJoin(
      leftKeys.map(Bridge.eagerExpression),
      rightKeys.map(Bridge.eagerExpression),
      Bridge.eagerExpression(leftTime.cast("long")),
      Bridge.eagerExpression(rightTime.cast("long")),
      Bridge.logicalPlan(left),
      Bridge.logicalPlan(right)))
  }

  /** Interval-stab join (inner): for each `points` row, every
    * `intervals` row whose [start, end] contains `point` (inclusive).
    * The interval side is broadcast and probed by binary search —
    * O(log m + hits) per probe instead of the BroadcastNestedLoopJoin
    * full scan a raw BETWEEN predicate plans to, with no bounded-
    * interval-length assumption (unlike the bin-explode rewrite).
    * See [[RangeJoin]] for NULL/empty-interval semantics.
    *
    * `points` and `intervals` must not share attribute lineage;
    * `point`/`start`/`end` are cast to LongType.
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
      point: Column, start: Column, end: Column): DataFrame = {
    val spark = points.sparkSession
    Bridge.addStrategy(spark, RangeJoinStrategy)
    Bridge.ofRows(spark, RangeJoin(
      Bridge.eagerExpression(point.cast("long")),
      Bridge.eagerExpression(start.cast("long")),
      Bridge.eagerExpression(end.cast("long")),
      Bridge.logicalPlan(points),
      Bridge.logicalPlan(intervals)))
  }

  /** Global NTILE(`buckets`) over `sort` order WITHOUT funneling the
    * data through one partition (the q_decile discipline, factored
    * r13 so the calibration sweep shares one definition): range-
    * repartition + in-partition sort give a globally sorted layout;
    * per-partition row counts (P rows, the only single-partition
    * window) turn local row numbers into global ranks; the exact
    * NTILE row-allocation rule (first n%buckets buckets get one extra
    * row) is computed arithmetically from the rank. Appends a
    * `bucket` LongType column (named so no plan text ever contains
    * the single-partition window function this replaces); `sort` must
    * be a total order (add a unique tie-break) or tied rows land in
    * engine-dependent buckets.
    *
    * CACHE LIFETIME: the materialize-once persist is load-bearing (the
    * consistency argument below) and the helper cannot unpersist it —
    * the returned frame is lazy and still reads the cached layout when
    * the CALLER finally acts on it. A harness that owns the session
    * must therefore clear the cache between queries (`Bench` clears
    * per rep, `Verify` per query); a long-lived user session that
    * calls ranking queries repeatedly should do the same or cached
    * layouts accumulate until executor-storage eviction-to-disk pages
    * them out.
    */
  def ntileByRange(df: DataFrame, sort: Seq[Column], buckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(buckets > 0, "buckets must be positive")
    require(!df.columns.contains("bucket"),
      "ntileByRange appends a `bucket` column - rename the input's")
    // The working columns are dropped at the end, so an input already
    // carrying one of these names would silently collide with the
    // helper's internals (wrong ranks, or a caller column swallowed by
    // the final drop) — fail loudly instead (r13 review).
    val clash = df.columns.toSet
      .intersect(Set("_mid", "_pid", "_lrn", "_offset", "_rank", "_q", "_r", "_n"))
    require(clash.isEmpty,
      s"ntileByRange uses working columns ${clash.mkString(", ")} internally" +
        " - rename the input's before ranking")
    val spark = df.sparkSession
    val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // The ranked layout is consumed TWICE (the offsets branch and the
    // join branch), and it is only consistent across consumers if it
    // is materialized ONCE: repartitionByRange picks its bounds by
    // seeded reservoir sampling over each input partition's ARRIVAL
    // order — deterministic for a scan (q_decile's input), but
    // arbitrary after a shuffle, so two independent evaluations can
    // sample different bounds, lay the same rows out in different
    // partitions, and corrupt the offset-derived global ranks.
    // Caught r13: classify_calibration (whose input arrives through
    // the classifier's joins) emitted an ELEVENTH decile at the 100x
    // tier, with run-to-run-varying bucket sizes; exchange reuse
    // usually masks the hazard at small SF, and a pre-sort that would
    // pin the sample order is removed by EliminateSorts (Sort below a
    // repartition). Hence the persist — MEMORY_AND_DISK spills rather
    // than evicts, so a layout partition is never silently recomputed
    // under a different sampling. Callers pass a PRUNED projection
    // (rank keys + the columns the consumer needs), so the cached
    // stream is narrow. (q_skyline and dedup_substring guard the same
    // hazard with an EAGER localCheckpoint(true); persist is chosen
    // here because it keeps the builder lazy — PlanPeek/PlanBudget can
    // build the plan without running the ranking job — and is equally
    // safe under partition loss: the range bounds live in the
    // materialized RDD's partitioner, so a recomputed partition
    // re-reads the same shuffle output under the same bounds.)
    val local = df
      .repartitionByRange(nParts, sort: _*)
      .sortWithinPartitions(sort: _*)
      .withColumn("_mid", monotonically_increasing_id())
      .withColumn("_pid", shiftright(col("_mid"), 33))
      .withColumn("_lrn", col("_mid").bitwiseAND((1L << 33) - 1) + 1L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // One row per shuffle partition: the running-sum window below is
    // single-partition but over P rows, not the data.
    val wCum = Window.orderBy("_pid")
    val offsets = local.groupBy("_pid").agg(count(lit(1)).as("_c"))
      .withColumn("_offset",
        coalesce(sum("_c").over(
          wCum.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_n", sum("_c").over(
        wCum.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select("_pid", "_offset", "_n")
    local.join(broadcast(offsets), "_pid")
      .withColumn("_rank", col("_lrn") + col("_offset"))
      .withColumn("_q", expr(s"_n div $buckets"))
      .withColumn("_r", col("_n") % buckets)
      // NTILE: first _r buckets hold _q+1 rows, the rest _q. (The
      // otherwise branch never evaluates when _q = 0: every rank is
      // <= _r * (_q + 1) = _n there.)
      .withColumn("bucket",
        when(col("_rank") <= col("_r") * (col("_q") + 1),
          expr("(_rank - 1) div (_q + 1) + 1"))
          .otherwise(expr("_r + (_rank - _r * (_q + 1) - 1) div _q + 1"))
          .cast(org.apache.spark.sql.types.LongType))
      .drop("_mid", "_pid", "_lrn", "_offset", "_rank", "_q", "_r", "_n")
  }
}
