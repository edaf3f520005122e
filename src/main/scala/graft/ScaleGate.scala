package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Scale-tier INVARIANT gate — the mechanization of SCALE100's family
  * laws (r13 verdict: the 11th-decile AQE mis-ranking was invisible to
  * every small-SF oracle and was caught only because a human read
  * bucket sizes in a new query's first 100x run; the laws those manual
  * verdicts assert are now asserted in code).
  *
  * Each gated query runs on the DERIVED corpus ([[ScaleCorpus]], same
  * derivation the rehearsal times) and its output is checked against
  * the laws its family GUARANTEES at that tier:
  *
  *  - EXACT ROW LINEARITY for the events family — the id-shift
  *    derivation preserves every per-group density while scaling the
  *    group count, so output rows are exactly `copies` x base;
  *  - GROUPWISE SCALED EQUALITY for the watermark audit — per
  *    watermark row, counts scale exactly and shares are preserved;
  *  - NTILE / bucket-size laws for the ranking family (the r13 bug
  *    class): exact decile allocation, running-sum consistency,
  *    head/middle/tail thirds per language;
  *  - keep ⊆ corpus, partner ∈ cluster, one-keep-per-cluster for the
  *    dedup family; dup_of acyclicity (dup_of < vec_id) and pair
  *    orientation (i < j, endpoints in corpus) for the graph shapes;
  *  - one-summary-row contracts for the audit queries.
  *
  * Checks are pure DataFrame aggregations over the query's own output
  * (collected only at summary size), so the gate runs at any tier;
  * ScaleGateSpec drives the full check list on a 3x sf0.01 derivation
  * in `sbt test`, and the [[main]] runs it at the 100x tier, writes
  * the per-invariant artifact, and exits non-zero on any violation.
  */
object ScaleGate {

  final case class Check(query: String, invariant: String, pass: Boolean,
      detail: String) {
    /** The artifact form where the enclosing report names the query,
      * or has none.
      */
    def entry: ListMap[String, Any] =
      Json.obj("invariant" -> invariant, "pass" -> pass, "detail" -> detail)
  }

  /** The shared ending of the self-checking mains (this gate,
    * [[ScaleStream]], `LocalPipelineMain`, `LocalCorpusPipelineMain`):
    * print `report` as one JSON line, copy it to the file `out` names,
    * stop Spark, and exit 1 if any check failed.
    */
  private[graft] def finish(spark: SparkSession, report: Any,
      checks: Seq[Check], out: Option[String] = None): Unit = {
    val line = Json.write(report)
    println(line)
    out.foreach(p => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p), line + "\n"))
    spark.stop()
    if (checks.exists(!_.pass)) sys.exit(1)
  }

  private def ok(q: String, inv: String, detail: String = "") =
    Check(q, inv, pass = true, detail)
  private def bad(q: String, inv: String, detail: String) =
    Check(q, inv, pass = false, detail)

  private def check(q: String, inv: String, pass: Boolean, detail: String) =
    Check(q, inv, pass, detail)

  /** The queries whose output-row count is EXACTLY linear in the
    * events id-shift derivation (each replica contributes the base
    * output verbatim under shifted ids). ep_latest_state is one row
    * per user; agg_window_sliding carries its designed 2x window
    * expansion — still exactly linear.
    */
  val LinearEventQueries: Seq[String] = Seq(
    "agg_window_tumbling", "agg_window_sliding", "q_sessionize",
    "ts_interp", "ts_fill_forward", "q_scd2", "q_asof_join_custom",
    "q_anomaly_hourly", "q_range_frame", "ep_latest_state",
    // r16 widening: per-user / per-event outputs under the same
    // events derivation — window/frame breadth (q_window_funcs,
    // q_moving_avg), resampling (per (user, hour) rows), the as-of
    // family, CEP strict-next pairs, and the per-user aggregates
    "agg_type_counts", "agg_type_counts_salted", "q_window_funcs",
    "q_moving_avg", "q_ohlc_resample", "q_asof_join", "q_asof_nearest",
    "q_pattern_match", "q_time_decay")

  /** Row-linear queries over the DOCUMENT and (r16) TPC-H replica
    * derivations — per-entity outputs (one row per lineitem-group /
    * customer / orderkey / asset), so rows scale exactly ×copies by
    * the same argument as the events family. q_avg_qty_filter keeps
    * linearity BECAUSE the per-part average filter is computed within
    * a replica (partkeys are replica-disjoint).
    */
  val LinearScaledQueries: Seq[String] = Seq(
    "q_argmin_join", "q_avg_qty_filter", "q_exists_semijoin",
    "q_full_outer", "q_except", "multimodal_meta")

  /** All gated queries, in the order the main runs them. The second
    * block is the r15 widening (r14 verdict #2): packing, sampling,
    * segment/substring dedup, BPE, winnowing/decontamination, chunking
    * and the events-derivation funnel/retention/histogram families,
    * each under the laws its family guarantees at tier.
    */
  def gatedQueries(extra: Seq[String] = Seq.empty): Seq[String] =
    (LinearEventQueries ++ Seq(
      "q_watermark_audit", "classify_calibration", "q_decile",
      "text_ppl_bucket", "dedup_cluster_keep", "dedup_minhash_lsh",
      "dedup_embedding_blocked", "dedup_embedding_hier",
      "corpus_dup_profile", "graph_pagerank", "graph_label_prop",
      "emb_cell_skew", "mix_kl",
      "pipeline_curate", "pipeline_curate_emb", "pipeline_shard") ++ Seq(
      "sample_split_hash", "sample_stratified", "sample_token_budget",
      "pack_sequences", "pack_bfd",
      "dedup_exact", "dedup_segments", "dedup_substring",
      "bpe_train", "text_tokenize_bpe", "text_winnow", "text_chunk",
      "decontaminate_ngram", "decontaminate_substring",
      "decontaminate_winnow",
      "q_funnel", "q_retention", "q_histogram") ++ Seq(
      "dedup_norm_exact", "corpus_stats", "mix_weights", "vocab_oov",
      "text_quality", "text_tokens", "text_entropy",
      "text_langid_confusion", "q_percentiles", "q_corr_stats") ++
      // r16 widening: the TPC-H C-family under the ensureTpch
      // derivation (groupwise scaled equality + top-N stability),
      // row-linear doc/TPC-H queries, ANN, multimodal
      LinearScaledQueries ++ TierLaws.map(_.q) ++ TopNLaws.map(_.q) ++ Seq(
      "ann_bruteforce", "ann_lsh", "ann_ivf", "ann_ivf_pq",
      "multimodal_near_dup", "q15_top_supplier") ++ extra)
      .distinct

  // ------------------------------------------------------------------
  // law helpers
  // ------------------------------------------------------------------

  /** Exact NTILE allocation: with n rows over `buckets` buckets,
    * bucket b holds n div buckets + 1 rows when b <= n mod buckets,
    * else n div buckets. `counts` = (bucket, n_rows), any order.
    */
  private[graft] def ntileLaw(q: String, counts: Seq[(Long, Long)],
      buckets: Int): Seq[Check] = {
    val sorted = counts.sortBy(_._1)
    val n = counts.map(_._2).sum
    val (quo, rem) = (n / buckets, n % buckets)
    val idCheck =
      check(q, s"bucket ids are exactly 1..$buckets",
        sorted.map(_._1) == (1L to buckets.toLong),
        s"got ${sorted.map(_._1).mkString(",")}")
    val sizeViolations = sorted.collect {
      case (b, c) if c != (if (b <= rem) quo + 1 else quo) =>
        s"bucket $b holds $c rows, NTILE law says ${if (b <= rem) quo + 1 else quo}"
    }
    Seq(idCheck,
      check(q, s"bucket sizes follow the exact NTILE($buckets) allocation of n=$n",
        sizeViolations.isEmpty, sizeViolations.mkString("; ")))
  }

  private def countDistinctOf(df: DataFrame, c: String): (Long, Long) = {
    val r = df.agg(count(lit(1)), count_distinct(col(c))).head()
    (r.getLong(0), r.getLong(1))
  }

  // ------------------------------------------------------------------
  // generic tier-comparison engine (r16 widening: the TPC-H C-family
  // joins the gate on the ScaleCorpus.ensureTpch derivation)
  // ------------------------------------------------------------------

  /** A groupwise tier-comparison law: the replica derivations keep
    * every group KEY's identity (nation names, flags, years, bucket
    * ids — never replica-shifted) while each group's contents become
    * `copies` verbatim copies, so at tier the SAME groups appear with
    *   - `countCols` exactly ×copies (integer counts, including
    *     distinct-counts of shifted keys: replica id ranges are
    *     disjoint, so distincts add),
    *   - `extensiveCols` ×copies within 1e-9 relative (decimal sums
    *     scale exactly; only the final double cast can move the last
    *     ulp),
    *   - `invariantCols` identical (averages, shares, ratios — same
    *     multiset per group, `copies` times over).
    */
  final case class TierLaw(q: String, keys: Seq[String],
      countCols: Seq[String] = Seq.empty,
      extensiveCols: Seq[String] = Seq.empty,
      invariantCols: Seq[String] = Seq.empty)

  private val RelEps = 1e-9

  private def relEq(a: Double, b: Double): Boolean =
    (a == b) || math.abs(a - b) <=
      RelEps * math.max(math.abs(a), math.abs(b))

  private def anyEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => relEq(x, y)
    case (x, y) => x == y
  }

  /** Run [[TierLaw]] over collected base/scaled outputs (both are
    * group-summary-sized by construction). Null group keys (rollup /
    * grouping-set super-rows) compare as plain Scala nulls.
    */
  private[graft] def tierCompare(law: TierLaw, base: DataFrame,
      scaled: DataFrame, copies: Int): Seq[Check] = {
    def keyed(df: DataFrame): Map[Seq[Any], org.apache.spark.sql.Row] =
      df.collect().map(r => law.keys.map(k => r.getAs[Any](k)) -> r).toMap
    val b = keyed(base)
    val s = keyed(scaled)
    val sameKeys = check(law.q, "same groups at both tiers",
      b.keySet == s.keySet && b.nonEmpty,
      s"base_groups=${b.size} scaled_groups=${s.size} " +
        s"base_only=${(b.keySet -- s.keySet).take(3)} " +
        s"scaled_only=${(s.keySet -- b.keySet).take(3)}")
    def viol(cols: Seq[String], kind: String)(
        cmp: (org.apache.spark.sql.Row, org.apache.spark.sql.Row, String) => Boolean) =
      b.toSeq.flatMap { case (k, br) =>
        s.get(k).toSeq.flatMap { sr =>
          cols.filterNot(c => cmp(br, sr, c))
            .map(c => s"group=$k col=$c base=${br.getAs[Any](c)} scaled=${sr.getAs[Any](c)}")
        }
      }
    val badCounts = viol(law.countCols, "count") { (br, sr, c) =>
      sr.getLong(sr.fieldIndex(c)) == copies * br.getLong(br.fieldIndex(c))
    }
    val badExt = viol(law.extensiveCols, "extensive") { (br, sr, c) =>
      relEq(sr.getDouble(sr.fieldIndex(c)),
        copies * br.getDouble(br.fieldIndex(c)))
    }
    val badInv = viol(law.invariantCols, "invariant") { (br, sr, c) =>
      anyEq(br.getAs[Any](c), sr.getAs[Any](c))
    }
    Seq(sameKeys,
      check(law.q, s"count columns scale exactly ${copies}x per group",
        badCounts.isEmpty, badCounts.take(3).mkString("; ")),
      check(law.q, s"extensive columns scale ${copies}x (1e-9 rel)",
        badExt.isEmpty, badExt.take(3).mkString("; ")),
      check(law.q, "invariant columns identical across tiers",
        badInv.isEmpty, badInv.take(3).mkString("; ")))
      .filterNot(c => c.invariant.startsWith("count columns") && law.countCols.isEmpty)
      .filterNot(c => c.invariant.startsWith("extensive columns") && law.extensiveCols.isEmpty)
      .filterNot(c => c.invariant.startsWith("invariant columns") && law.invariantCols.isEmpty)
  }

  /** The declared tier-comparison laws. Events-table entries need only
    * the base derivation; TPC-H entries run on [[ScaleCorpus.ensureTpch]].
    */
  private[graft] val TierLaws: Seq[TierLaw] = Seq(
    TierLaw("q1_pricing_summary", Seq("l_returnflag", "l_linestatus"),
      countCols = Seq("count_order"),
      extensiveCols = Seq("sum_qty", "sum_base_price", "sum_disc_price", "sum_charge"),
      invariantCols = Seq("avg_qty", "avg_price", "avg_disc")),
    TierLaw("q4_order_priority", Seq("o_orderpriority"),
      countCols = Seq("order_count")),
    TierLaw("q5_local_supplier", Seq("n_name"),
      extensiveCols = Seq("revenue")),
    TierLaw("q6_forecast_revenue", Seq.empty,
      extensiveCols = Seq("revenue")),
    TierLaw("q7_nation_volume", Seq("supp_nation", "cust_nation", "l_year"),
      extensiveCols = Seq("revenue")),
    TierLaw("q12_priority_shipping", Seq("l_linestatus"),
      countCols = Seq("high_line_count", "low_line_count")),
    TierLaw("q14_promo_revenue", Seq.empty,
      invariantCols = Seq("promo_revenue")), // a share: scale-invariant
    TierLaw("q17_small_qty_revenue", Seq.empty,
      extensiveCols = Seq("avg_yearly")), // sum/7: extensive
    TierLaw("q19_disjunctive", Seq.empty, extensiveCols = Seq("revenue")),
    TierLaw("q22_idle_customers", Seq("segment"),
      countCols = Seq("numcust"), extensiveCols = Seq("totacctbal")),
    // q21 groups by s_name, which replicas SHARE (derived from the
    // base suppkey's name string) - the per-name waiting count
    // therefore scales x copies and the top-10 name set is stable
    // (uniform scaling preserves the ranking, ties break on s_name)
    TierLaw("q21_waiting_supplier", Seq("s_name"),
      countCols = Seq("numwait")),
    TierLaw("q_count_distribution", Seq("n_orders"),
      countCols = Seq("n_customers")),
    TierLaw("q_grouping_sets",
      Seq("o_orderpriority", "o_orderstatus", "o_year", "g_pri", "g_status", "g_year"),
      countCols = Seq("n_orders"), extensiveCols = Seq("total_price")),
    TierLaw("q_rollup", Seq("n_name", "o_year"),
      countCols = Seq("n_orders"), extensiveCols = Seq("total_price")),
    TierLaw("q_cube", Seq("o_orderpriority", "o_year"),
      countCols = Seq("n_orders"), extensiveCols = Seq("total_price")),
    TierLaw("q_distinct_agg", Seq("l_returnflag"),
      countCols = Seq("distinct_orders", "distinct_parts", "distinct_supps", "n_rows")),
    TierLaw("q_market_share", Seq("o_year", "n_name"),
      extensiveCols = Seq("revenue"), invariantCols = Seq("mkt_share")),
    TierLaw("q_agg_merge", Seq("week", "event_type"),
      countCols = Seq("n_events"), extensiveCols = Seq("sum_value")),
    TierLaw("multimodal_dedup", Seq("mime"),
      // md5 dedup: within-replica dup structure mirrors the base
      // (affine permutation preserves byte equality inside a replica)
      // and cross-replica collisions are impossible (permuted bytes
      // differ), so even the UNIQUE counts scale exactly
      countCols = Seq("n_assets", "n_unique", "bytes_total", "bytes_unique")))

  /** Top-N stability law: at tier every candidate is a replica of a
    * base candidate with an IDENTICAL measure (same per-group multiset
    * → bit-identical decimal-sum-cast-double), so the scaled top-N's
    * value-tuples are a subset of the base top-N's value-tuples
    * (specifically replicas of the base head), the maximum measure is
    * unchanged, and the row count still hits N (the derivation only
    * adds candidates). `valueCols` exclude replica-shifted ids/names.
    */
  final case class TopNLaw(q: String, n: Int, measure: String,
      valueCols: Seq[String])

  private[graft] def topNCompare(law: TopNLaw, base: DataFrame,
      scaled: DataFrame): Seq[Check] = {
    val cols = (law.valueCols :+ law.measure).distinct
    def tuples(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(r => cols.map(c => r.getAs[Any](c))).toSeq
    val b = tuples(base)
    val s = tuples(scaled)
    def maxM(ts: Seq[Seq[Any]]): Any = ts.map(_.last).maxBy {
      case d: Double => d
      case l: Long => l.toDouble
      case other => throw new IllegalArgumentException(s"measure $other")
    }
    val alien = s.filterNot(b.toSet)
    Seq(
      check(law.q, s"still exactly ${law.n} rows at tier",
        s.size == law.n, s"rows=${s.size}"),
      check(law.q, "every tier row is a replica of a base top row (value-tuple subset)",
        alien.isEmpty, s"alien=${alien.take(2)}"),
      check(law.q, "the top measure is tier-invariant",
        b.nonEmpty && s.nonEmpty && anyEq(maxM(b), maxM(s)),
        s"base_max=${if (b.nonEmpty) maxM(b) else "-"} scaled_max=${if (s.nonEmpty) maxM(s) else "-"}"))
  }

  private[graft] val TopNLaws: Seq[TopNLaw] = Seq(
    TopNLaw("q3_shipping_priority", 10, "revenue",
      Seq("o_orderdate", "o_orderpriority")),
    TopNLaw("q10_returned_items", 20, "revenue",
      Seq("c_acctbal", "c_mktsegment", "n_name")),
    TopNLaw("q18_large_orders", 100, "o_totalprice",
      Seq("o_orderdate", "total_qty")),
    TopNLaw("q_top_customers", 15, "total_spend",
      Seq("c_mktsegment", "n_orders")),
    TopNLaw("q_topk_per_key", 15, "total_spend",
      Seq("c_mktsegment", "n_orders")))

  // ------------------------------------------------------------------
  // ANN family (r16): membership + ordering + cross-tier monotonicity
  // ------------------------------------------------------------------

  /** Structural laws over one ANN output's collected rows
    * ((qid, rank, vec_id, cosine)): dense ranks from 1 per query,
    * cosine non-increasing with rank, valid range.
    */
  private[graft] def annStructure(q: String,
      rows: Seq[(Long, Long, Long, Double)]): Seq[Check] = {
    val byQ = rows.groupBy(_._1)
    val badRank = byQ.collect {
      case (qid, rs) if rs.map(_._2).sorted != (1L to rs.size.toLong) => qid
    }
    val badSort = byQ.collect {
      case (qid, rs) if rs.sortBy(_._2).map(_._4)
        .sliding(2).exists(p => p.size == 2 && p(0) < p(1) - 1e-12) => qid
    }
    val badRange = rows.filter(r => r._4.isNaN || math.abs(r._4) > 1.0 + 1e-9)
    Seq(
      check(q, "ranks dense from 1 per query", badRank.isEmpty,
        s"bad_qids=${badRank.take(3)}"),
      check(q, "cosine non-increasing with rank", badSort.isEmpty,
        s"bad_qids=${badSort.take(3)}"),
      check(q, "cosine within [-1, 1]", badRange.isEmpty,
        s"bad=${badRange.take(2)}"))
  }

  /** Positional cross-run law. For the exact query (`ann_bruteforce`)
    * `other` is the BASE tier and `atLeast = true`: the base corpus is
    * replica 0 of the scaled corpus, so exact top-k at tier can only
    * improve positionally. For the approximate queries `other` is the
    * exact scaled run and `atLeast = false`: an approximation can
    * never beat exact search at any position. Recall vs `other` rides
    * in the detail as telemetry.
    */
  private[graft] def annPositional(q: String, inv: String,
      rows: Seq[(Long, Long, Long, Double)],
      other: Seq[(Long, Long, Long, Double)],
      atLeast: Boolean): Check = {
    val o = other.map(r => (r._1, r._2) -> r._4).toMap
    val shared = rows.flatMap(r => o.get((r._1, r._2)).map(c => (r, c)))
    val viol = shared.filter { case (r, c) =>
      if (atLeast) r._4 < c - 1e-12 else r._4 > c + 1e-12
    }
    val otherIds = other.groupBy(_._1)
      .map { case (qid, rs) => qid -> rs.map(_._3).toSet }
    val hits = rows.count(r => otherIds.get(r._1).exists(_.contains(r._3)))
    val recall =
      if (rows.isEmpty) 0.0 else hits.toDouble / rows.size
    check(q, inv, viol.isEmpty && shared.nonEmpty,
      f"violations=${viol.size} shared=${shared.size} recall=$recall%.3f")
  }

  private def annRows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  private def checkAnn(spark: SparkSession, q: String, baseDir: String,
      scaledDir: String): Seq[Check] = {
    val out = SparkEntry.queries(q)(spark, scaledDir).persist()
    try {
      val alien = out.join(
        spark.read.parquet(s"$scaledDir/embeddings.parquet")
          .select(col("vec_id")),
        Seq("vec_id"), "left_anti").count()
      val rows = annRows(out)
      val membership = check(q,
        "every neighbor id exists in the scaled corpus",
        alien == 0 && rows.nonEmpty, s"alien=$alien rows=${rows.size}")
      val cross =
        if (q == "ann_bruteforce")
          annPositional(q,
            "exact top-k at tier positionally >= the base tier (superset search)",
            rows, annRows(SparkEntry.queries(q)(spark, baseDir)),
            atLeast = true)
        else
          annPositional(q,
            "approximate top-k positionally <= the exact scaled run",
            rows,
            annRows(SparkEntry.queries("ann_bruteforce")(spark, scaledDir)),
            atLeast = false)
      (membership +: annStructure(q, rows)) :+ cross
    } finally { out.unpersist(); () }
  }

  /** q15 returns EVERY supplier achieving the max revenue - at tier
    * the replicas of the base winner(s) all tie, so rows scale exactly
    * x copies while the winning revenue itself is tier-invariant.
    */
  private def checkTopSupplierTies(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Seq[Check] = {
    val q = "q15_top_supplier"
    val b = SparkEntry.queries(q)(spark, baseDir).collect()
      .map(_.getAs[Double]("total_revenue"))
    val s = SparkEntry.queries(q)(spark, scaledDir).collect()
      .map(_.getAs[Double]("total_revenue"))
    Seq(
      check(q, s"winner replicas all tie: exactly ${copies}x the base rows",
        b.nonEmpty && s.length == copies * b.length,
        s"base=${b.length} scaled=${s.length}"),
      check(q, "the winning revenue is tier-invariant",
        b.nonEmpty && s.nonEmpty && s.forall(v => relEq(v, b.max)),
        s"base_max=${if (b.nonEmpty) b.max else -1} scaled=${s.take(3).mkString(",")}"))
  }

  private def checkNearDupMedia(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Seq[Check] = {
    val q = "multimodal_near_dup"
    val out = SparkEntry.queries(q)(spark, scaledDir).persist()
    try {
      val st = out.agg(count(lit(1)),
        sum(when(col("canonical_id") > col("doc_id"), 1L).otherwise(0L)),
        sum(when(col("keep") =!= (col("canonical_id") === col("doc_id")), 1L)
          .otherwise(0L))).head()
      val (n, cyc, keepBad) = (st.getLong(0), st.getLong(1), st.getLong(2))
      // groups are keyed (mime, phash) - the query's own window key
      val badGroups = out.groupBy("mime", "phash")
        .agg(count(lit(1)).as("n"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("keeps"),
          max("group_size").as("gmax"), min("group_size").as("gmin"))
        .filter(col("keeps") =!= 1 || col("gmax") =!= col("n") ||
          col("gmin") =!= col("n")).count()
      val base = SparkEntry.queries(q)(spark, baseDir).count()
      Seq(
        check(q, s"one row per asset: exactly ${copies}x the base tier",
          n == copies * base, s"base=$base scaled=$n"),
        check(q, "canonical is the min id of its group (no forward edges)",
          cyc == 0, s"violations=$cyc"),
        check(q, "keep iff canonical (one keeper per asset)",
          keepBad == 0, s"violations=$keepBad"),
        check(q, "per-phash group: one keeper, group_size consistent",
          badGroups == 0, s"bad_groups=$badGroups"))
    } finally { out.unpersist(); () }
  }

  // ------------------------------------------------------------------
  // per-query invariant suites (scaled output; base only where a law
  // compares tiers)
  // ------------------------------------------------------------------

  private def checkLinearity(spark: SparkSession, q: String, baseDir: String,
      scaledDir: String, copies: Int): Seq[Check] = {
    val base = SparkEntry.queries(q)(spark, baseDir).count()
    val scaled = SparkEntry.queries(q)(spark, scaledDir).count()
    Seq(check(q, s"output rows exactly ${copies}x the base tier",
      scaled == copies * base, s"base=$base scaled=$scaled copies=$copies"))
  }

  private def checkWatermarkAudit(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Seq[Check] = {
    val q = "q_watermark_audit"
    val base = SparkEntry.queries(q)(spark, baseDir)
      .select("watermark_ms", "n_late", "n_total").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val scaled = SparkEntry.queries(q)(spark, scaledDir)
      .select("watermark_ms", "n_late", "n_total").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val sameKeys = check(q, "one row per candidate watermark, same candidates",
      base.keySet == scaled.keySet && base.size == 3,
      s"base=${base.keySet.toSeq.sorted} scaled=${scaled.keySet.toSeq.sorted}")
    val viol = base.toSeq.sortBy(_._1).collect {
      case (w, (late, total)) if scaled.get(w).exists(s =>
          s._1 != copies * late || s._2 != copies * total) =>
        s"w=$w base=($late,$total) scaled=${scaled(w)} copies=$copies"
    }
    Seq(sameKeys,
      check(q, s"per-watermark (n_late, n_total) scale exactly ${copies}x " +
        "(per-user disorder distribution is replica-invariant)",
        viol.isEmpty, viol.mkString("; ")))
  }

  private def checkCalibration(spark: SparkSession, dir: String): Seq[Check] = {
    val q = "classify_calibration"
    val rows = SparkEntry.queries(q)(spark, dir)
      .orderBy("decile").collect()
    val deciles = rows.map(r => (r.getLong(0), r.getLong(2))) // (decile, n_docs)
    val nPos = rows.map(_.getLong(3))
    val cumDocs = rows.map(_.getLong(4))
    val cumPos = rows.map(_.getLong(5))
    val prec = rows.map(_.getDouble(6))
    val rec = rows.map(_.getDouble(7))
    val runDocs = deciles.map(_._2).scanLeft(0L)(_ + _).tail
    val runPos = nPos.scanLeft(0L)(_ + _).tail
    ntileLaw(q, deciles.toSeq, 10) ++ Seq(
      check(q, "cum_docs/cum_pos are the exact running sums of n_docs/n_pos",
        cumDocs.sameElements(runDocs) && cumPos.sameElements(runPos),
        s"cum_docs=${cumDocs.mkString(",")} expected=${runDocs.mkString(",")}"),
      check(q, "n_pos <= n_docs per decile; precision/recall in [0,1]",
        rows.indices.forall(i => nPos(i) >= 0 && nPos(i) <= deciles(i)._2 &&
          prec(i) >= 0 && prec(i) <= 1 && rec(i) >= 0 && rec(i) <= 1),
        ""),
      check(q, "cumulative recall reaches 1.0 at the last decile",
        cumPos.lastOption.forall(p => p == 0 || rec.last == 1.0),
        s"recall_cum(10)=${rec.lastOption.getOrElse(-1.0)}"))
  }

  private def checkDecile(spark: SparkSession, dir: String): Seq[Check] = {
    val counts = SparkEntry.queries("q_decile")(spark, dir)
      .select("decile", "n_orders").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    ntileLaw("q_decile", counts, 10)
  }

  private def checkPplBucket(spark: SparkSession, dir: String): Seq[Check] = {
    val q = "text_ppl_bucket"
    val out = SparkEntry.queries(q)(spark, dir).persist()
    try {
      val (rows, distinct) = countDistinctOf(out, "doc_id")
      val docs = spark.read.parquet(s"$dir/documents.parquet").count()
      val perLang = out.groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(when(col("bucket") === "head", 1L).otherwise(0L)).as("h"),
          sum(when(col("bucket") === "middle", 1L).otherwise(0L)).as("m"),
          sum(when(col("bucket") === "tail", 1L).otherwise(0L)).as("t"))
        .collect()
      // rk*3 <= n rule: head = floor(n/3), middle = floor(2n/3) - head
      val viol = perLang.collect {
        case r if r.getLong(2) != r.getLong(1) / 3 ||
            r.getLong(3) != 2 * r.getLong(1) / 3 - r.getLong(1) / 3 ||
            r.getLong(4) != r.getLong(1) - 2 * r.getLong(1) / 3 =>
          s"lang=${r.getString(0)} n=${r.getLong(1)} " +
            s"h/m/t=${r.getLong(2)}/${r.getLong(3)}/${r.getLong(4)}"
      }
      Seq(
        check(q, "one row per document (no rank duplication or loss)",
          rows == docs && distinct == rows,
          s"rows=$rows distinct=$distinct docs=$docs"),
        check(q, "per-language head/middle/tail counts are exact thirds " +
          "(floor(n/3) / floor(2n/3)-floor(n/3) / rest)",
          viol.isEmpty, viol.mkString("; ")))
    } finally { out.unpersist(); () }
  }

  private def checkClusterKeep(spark: SparkSession, dir: String): Seq[Check] = {
    val q = "dedup_cluster_keep"
    val out = SparkEntry.queries(q)(spark, dir).persist()
    try {
      val (rows, distinct) = countDistinctOf(out, "doc_id")
      val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val orphans = out.join(docs, Seq("doc_id"), "left_anti").count()
      val keepLaw = out.filter(
        (col("doc_id") === col("canonical_id")) =!= col("keep")).count()
      val canonAbove = out.filter(col("canonical_id") > col("doc_id")).count()
      val partnerMissing = out.select(col("canonical_id").as("doc_id")).distinct()
        .join(out.select("doc_id"), Seq("doc_id"), "left_anti").count()
      // an empty frame is legitimate (a corpus/tier with no near-dups
      // emits nothing) and must read as a vacuous PASS, not an NPE on
      // the all-null min/max row (r14 review)
      val clusterCheck =
        if (rows == 0)
          check(q, "every cluster has >= 2 members and exactly one keeper",
            pass = true, "vacuous: no near-dup clusters at this tier")
        else {
          val st = out.groupBy("canonical_id")
            .agg(count(lit(1)).as("sz"),
              sum(when(col("keep"), 1L).otherwise(0L)).as("keeps"))
            .agg(min("sz"), min("keeps"), max("keeps")).head()
          check(q, "every cluster has >= 2 members and exactly one keeper",
            st.getLong(0) >= 2 && st.getLong(1) == 1 && st.getLong(2) == 1,
            s"min_size=${st.getLong(0)} keeps(min,max)=" +
              s"(${st.getLong(1)},${st.getLong(2)})")
        }
      Seq(
        check(q, "doc_id unique and every id in the corpus (keep ⊆ corpus)",
          rows == distinct && orphans == 0,
          s"rows=$rows distinct=$distinct orphans=$orphans"),
        check(q, "keep ⟺ doc_id = canonical_id; canonical is the cluster min",
          keepLaw == 0 && canonAbove == 0,
          s"keepLaw violations=$keepLaw canonical>doc=$canonAbove"),
        check(q, "every canonical_id is itself a cluster member (partner ∈ cluster)",
          partnerMissing == 0, s"missing=$partnerMissing"),
        clusterCheck)
    } finally { out.unpersist(); () }
  }

  private def checkMinhashPairs(spark: SparkSession, dir: String): Seq[Check] = {
    val q = "dedup_minhash_lsh"
    val out = SparkEntry.queries(q)(spark, dir).persist()
    try {
      val n = out.count()
      val misoriented = out.filter(col("i") >= col("j")).count()
      val dupPairs = n - out.select("i", "j").distinct().count()
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"))
      val orphanEnds = out.select(col("i").as("doc_id"))
        .unionByName(out.select(col("j").as("doc_id")))
        .join(docs, Seq("doc_id"), "left_anti").count()
      Seq(
        check(q, "pairs are oriented i < j and distinct",
          misoriented == 0 && dupPairs == 0,
          s"misoriented=$misoriented duplicated=$dupPairs of $n"),
        check(q, "both pair endpoints are corpus documents",
          orphanEnds == 0, s"orphan endpoints=$orphanEnds"))
    } finally { out.unpersist(); () }
  }

  /** Shared by dedup_embedding_blocked AND dedup_embedding_hier —
    * stages 2-3 are literally the same code (bandedPruneFrom), so the
    * verdict-frame laws are identical; gating both means the
    * 1e9-tier hier assignment path is law-checked too.
    */
  private def checkBlocked(spark: SparkSession, dir: String,
      q: String): Seq[Check] = {
    val out = SparkEntry.queries(q)(spark, dir).persist()
    try {
      val (rows, distinct) = countDistinctOf(out, "vec_id")
      val dupOfLaw = out.filter(
        col("dup_of").isNull =!= col("keep_dup")).count()
      val cyclic = out.filter(col("dup_of").isNotNull &&
        col("dup_of") >= col("vec_id")).count()
      val orphanDupOf = out.filter(col("dup_of").isNotNull)
        .select(col("dup_of").as("vec_id"))
        .join(out.select("vec_id"), Seq("vec_id"), "left_anti").count()
      val keepImplies = out.filter(col("keep") && !col("keep_dup")).count()
      Seq(
        check(q, "vec_id unique (one verdict row per corpus vector)",
          rows == distinct, s"rows=$rows distinct=$distinct"),
        check(q, "dup_of present ⟺ not first-copy survivor (keep_dup)",
          dupOfLaw == 0, s"violations=$dupOfLaw"),
        check(q, "dup_of < vec_id (first-copy-wins is acyclic)",
          cyclic == 0, s"violations=$cyclic"),
        check(q, "dup_of points at a row of the verdict frame (partner ∈ corpus)",
          orphanDupOf == 0, s"orphans=$orphanDupOf"),
        check(q, "keep ⇒ keep_dup (SemDeDup prunes only among survivors)",
          keepImplies == 0, s"violations=$keepImplies"))
    } finally { out.unpersist(); () }
  }

  /** corpus_dup_profile algebra: per row n_docs = cluster_size x
    * n_clusters; the profile ACCOUNTS FOR the whole corpus (sum of
    * n_docs = documents count — the singleton row is defined as the
    * unclustered remainder, so a drift in either side breaks this);
    * one row per cluster_size; sizes >= 1 with counts >= 0.
    */
  private def checkDupProfile(spark: SparkSession, dir: String): Seq[Check] = {
    val q = "corpus_dup_profile"
    val rows = SparkEntry.queries(q)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    val badAlgebra = rows.collect {
      case (sz, nc, nd) if nd != sz * nc || sz < 1 || nc < 0 =>
        s"size=$sz clusters=$nc docs=$nd"
    }
    Seq(
      check(q, "per-row algebra: n_docs = cluster_size x n_clusters, sizes >= 1",
        badAlgebra.isEmpty, badAlgebra.mkString("; ")),
      check(q, "one row per cluster size",
        rows.map(_._1).distinct.length == rows.length,
        s"sizes=${rows.map(_._1).sorted.mkString(",")}"),
      check(q, "the profile accounts for every corpus document (sum n_docs = corpus)",
        rows.map(_._3).sum == docs,
        s"sum=${rows.map(_._3).sum} corpus=$docs"))
  }

  /** graph_pagerank laws from the fixed-point arithmetic itself:
    * every node holds at least the teleport floor (0.15e9 in the
    * 1e9-scale integers), the double column is exactly rank9/1e9,
    * total rank never exceeds n (integer floor division only LOSES
    * mass, never creates it), and the node set is corpus documents.
    */
  private def checkPagerank(spark: SparkSession, dir: String): Seq[Check] = {
    val q = "graph_pagerank"
    val out = SparkEntry.queries(q)(spark, dir).persist()
    try {
      val (rows, distinct) = countDistinctOf(out, "doc_id")
      val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val orphans = out.join(docs, Seq("doc_id"), "left_anti").count()
      val belowFloor = out.filter(col("rank9") < 150000000L).count()
      val inconsistent = out.filter(
        col("rank") =!= col("rank9").cast("double") / 1e9).count()
      val total = if (rows == 0) 0L
        else out.agg(sum(col("rank9"))).head().getLong(0)
      Seq(
        check(q, "one row per graph node, nodes ⊆ corpus",
          rows == distinct && orphans == 0,
          s"rows=$rows distinct=$distinct orphans=$orphans"),
        check(q, "every rank >= the teleport floor; rank = rank9 / 1e9 exactly",
          belowFloor == 0 && inconsistent == 0,
          s"below_floor=$belowFloor inconsistent=$inconsistent"),
        check(q, "total rank <= n (integer floor division only loses mass)",
          total <= rows * 1000000000L,
          s"total9=$total n*1e9=${rows * 1000000000L}"))
    } finally { out.unpersist(); () }
  }

  /** graph_label_prop: communities are node-labelled — every assigned
    * community id is itself a node of the output (the min-label
    * propagation can only ever assign an EXISTING node's id), one row
    * per node, nodes ⊆ corpus.
    */
  private def checkLabelProp(spark: SparkSession, dir: String): Seq[Check] = {
    val q = "graph_label_prop"
    val out = SparkEntry.queries(q)(spark, dir).persist()
    try {
      val (rows, distinct) = countDistinctOf(out, "doc_id")
      val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val orphans = out.join(docs, Seq("doc_id"), "left_anti").count()
      val ghostCommunities = out.select(col("community").as("doc_id")).distinct()
        .join(out.select("doc_id"), Seq("doc_id"), "left_anti").count()
      Seq(
        check(q, "one row per graph node, nodes ⊆ corpus",
          rows == distinct && orphans == 0,
          s"rows=$rows distinct=$distinct orphans=$orphans"),
        check(q, "every community id is itself a node (labels ∈ node set)",
          ghostCommunities == 0, s"ghost communities=$ghostCommunities"))
    } finally { out.unpersist(); () }
  }

  private def checkCellSkew(spark: SparkSession, dir: String): Seq[Check] = {
    val q = "emb_cell_skew"
    val rows = SparkEntry.queries(q)(spark, dir).collect()
    val oneRow = check(q, "exactly one summary row by contract",
      rows.length == 1, s"rows=${rows.length}")
    if (rows.length != 1) Seq(oneRow)
    else {
      val r = rows(0)
      val (cells, nVecs, maxOcc, minOcc) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val (avg, skew) = (r.getDouble(4), r.getDouble(5))
      Seq(oneRow,
        check(q, "occupancy algebra: min <= avg <= max, skew = max/avg >= 1",
          cells > 0 && nVecs > 0 && minOcc <= maxOcc &&
            minOcc <= avg && avg <= maxOcc &&
            math.abs(skew - maxOcc * cells.toDouble / nVecs) < 1e-9 &&
            skew >= 1.0 - 1e-9,
          s"cells=$cells n_vecs=$nVecs max=$maxOcc min=$minOcc avg=$avg skew=$skew"))
    }
  }

  private def checkMixKl(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Seq[Check] = {
    val q = "mix_kl"
    val rows = SparkEntry.queries(q)(spark, scaledDir).collect()
    val oneRow = check(q, "exactly one summary row by contract",
      rows.length == 1, s"rows=${rows.length}")
    if (rows.length != 1) Seq(oneRow)
    else {
      val baseDocs = spark.read.parquet(s"$baseDir/documents.parquet").count()
      val r = rows(0)
      Seq(oneRow,
        check(q, s"n_docs is exactly ${copies}x the base corpus; KL >= 0",
          r.getLong(1) == copies * baseDocs && r.getDouble(2) >= -1e-12,
          s"n_docs=${r.getLong(1)} base=$baseDocs kl=${r.getDouble(2)}"))
    }
  }

  private def checkCurate(spark: SparkSession, dir: String): Seq[Check] = {
    val q = "pipeline_curate"
    val out = SparkEntry.queries(q)(spark, dir).persist()
    try {
      val (rows, distinct) = countDistinctOf(out, "doc_id")
      val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val orphans = out.join(docs, Seq("doc_id"), "left_anti").count()
      val badQuality = out.filter(col("quality_score") < 0.5).count()
      Seq(
        check(q, "train shard ⊆ corpus, one row per kept doc",
          rows == distinct && orphans == 0,
          s"rows=$rows distinct=$distinct orphans=$orphans"),
        check(q, "every kept doc clears the quality gate (score >= 0.5)",
          badQuality == 0, s"violations=$badQuality"))
    } finally { out.unpersist(); () }
  }

  private def checkCurateEmb(spark: SparkSession, dir: String): Seq[Check] = {
    val q = "pipeline_curate_emb"
    val out = SparkEntry.queries(q)(spark, dir).persist()
    try {
      val (rows, distinct) = countDistinctOf(out, "vec_id")
      val vecs = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id")
      val orphans = out.join(vecs, Seq("vec_id"), "left_anti").count()
      val cosRange = out.filter(col("cos_centroid") < -1.0 - 1e-9 ||
        col("cos_centroid") > 1.0 + 1e-9).count()
      Seq(
        check(q, "kept slice ⊆ raw train vectors, one row per kept vector",
          rows == distinct && orphans == 0,
          s"rows=$rows distinct=$distinct orphans=$orphans"),
        check(q, "audit cosine in [-1, 1]",
          cosRange == 0, s"violations=$cosRange"))
    } finally { out.unpersist(); () }
  }

  // ------------------------------------------------------------------
  // r15 widened families (verdict #2). Each law suite takes the
  // query's OUTPUT frame (plus recomputed corpus facts where a law
  // needs them), so ScaleGateSpec drives the same law code with
  // doctored frames as negative cases — a gate that cannot fail is
  // not a gate.
  // ------------------------------------------------------------------

  private def corpusIds(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet").select("doc_id")

  /** (doc_id, words) recomputed with the operators' own whitespace
    * convention — the corpus fact several laws compare against.
    */
  private def docWordCounts(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("words"))

  private def idSetLaw(q: String, out: DataFrame, docs: DataFrame,
      complete: Boolean): Check = {
    val (rows, distinct) = countDistinctOf(out, "doc_id")
    val orphans = out.select("doc_id")
      .join(docs, Seq("doc_id"), "left_anti").count()
    if (complete) {
      val total = docs.count()
      check(q, "one row per corpus document (unique, complete)",
        rows == distinct && rows == total && orphans == 0,
        s"rows=$rows distinct=$distinct corpus=$total orphans=$orphans")
    } else
      check(q, "doc_id unique and ⊆ corpus",
        rows == distinct && orphans == 0,
        s"rows=$rows distinct=$distinct orphans=$orphans")
  }

  private[graft] def splitLaws(out: DataFrame): Seq[Check] = {
    val q = "sample_split_hash"
    val mism = out.filter(col("bucket") < 0 || col("bucket") >= 100 ||
      col("split") =!= when(col("bucket") < 90, "train")
        .when(col("bucket") < 95, "val").otherwise("test")).count()
    val shares = out.groupBy("split").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = shares.values.sum.toDouble.max(1.0)
    // 3σ binomial band + 1% absolute slack: the split is a pure hash
    // function, so at any tier the shares are a fixed draw from the
    // 90/5/5 Bernoulli — a systematic skew (wrong modulus, drifted
    // thresholds) lands far outside this band while hash noise never
    // does
    val bad = Seq("train" -> 0.90, "val" -> 0.05, "test" -> 0.05).collect {
      case (s0, p) if math.abs(shares.getOrElse(s0, 0L) / n - p) >
          3.0 * math.sqrt(p * (1 - p) / n) + 0.01 =>
        f"$s0=${shares.getOrElse(s0, 0L) / n}%.4f expected=$p n=${n.toLong}"
    }
    Seq(
      check(q, "bucket ∈ [0,100) and split follows the 90/5/5 thresholds",
        mism == 0, s"violations=$mism"),
      check(q, "split shares within 3σ+1% of 90/5/5",
        bad.isEmpty, bad.mkString("; ")))
  }

  private[graft] def stratifiedLaws(out: DataFrame,
      strata: DataFrame): Seq[Check] = {
    val q = "sample_stratified"
    val per = out.groupBy("lang").agg(count(lit(1)).as("picked"),
      min("pick_rank").as("mn"), max("pick_rank").as("mx"),
      count_distinct(col("pick_rank")).as("dr"))
    val bad = per.join(strata, Seq("lang"), "full_outer")
      .select(coalesce(col("picked"), lit(0L)).as("picked"),
        coalesce(col("mn"), lit(0L)).as("mn"),
        coalesce(col("mx"), lit(0L)).as("mx"),
        coalesce(col("dr"), lit(0L)).as("dr"),
        coalesce(col("n_docs"), lit(-1L)).as("n_docs"))
      .filter(col("picked") =!= least(lit(20L), col("n_docs")) ||
        (col("picked") > 0 &&
          (col("mn") =!= 1L || col("mx") =!= col("picked") ||
            col("dr") =!= col("picked")))).count()
    Seq(check(q,
      "per-language quota exact: picked = min(20, stratum), ranks are 1..picked",
      bad == 0, s"violating languages=$bad"))
  }

  /** The concat-and-chunk packing chain: reconstructing each doc's
    * global start as bin_id*cap + offset, the starts must form the
    * exclusive prefix sums of the doc lengths in SOME total order —
    * provable without sorting: starts distinct, exactly one zero per
    * language, and every end (start + n) is another doc's start except
    * exactly one per language, which equals the language's total token
    * mass.
    */
  private[graft] def packChainLaws(q: String, out: DataFrame,
      cap: Long): Seq[Check] = {
    val pos = out.select(col("lang"), col("n_tokens"),
      (col("bin_id") * cap + col("start_offset")).as("start"))
      .withColumn("end", col("start") + col("n_tokens")).persist()
    try {
      val badRange = out.filter(col("start_offset") < 0 ||
        col("start_offset") >= cap || col("bin_id") < 0 ||
        col("n_tokens") < 1).count()
      val langs = pos.select("lang").distinct().count()
      val zeroStarts = pos.filter(col("start") === 0).count()
      val starts = pos.select("lang", "start")
      val dupStarts = starts.count() - starts.distinct().count()
      val totals = pos.groupBy("lang").agg(sum("n_tokens").as("mass"))
      val residual = pos.select(col("lang"), col("end").as("start"))
        .join(starts, Seq("lang", "start"), "left_anti").persist()
      try {
        val residualCount = residual.count()
        val badFinal = residual.join(totals, "lang")
          .filter(col("start") =!= col("mass")).count()
        Seq(
          check(q, s"offsets in [0,$cap), bins >= 0, docs non-empty",
            badRange == 0, s"violations=$badRange"),
          check(q, "exactly one stream origin per language; starts distinct",
            zeroStarts == langs && dupStarts == 0,
            s"zero_starts=$zeroStarts langs=$langs dup_starts=$dupStarts"),
          check(q, "token stream is gapless: every doc end is another doc's " +
            "start except one per language, which equals the language mass",
            residualCount == langs && badFinal == 0,
            s"residuals=$residualCount langs=$langs bad_final=$badFinal"))
      } finally { residual.unpersist(); () }
    } finally { pos.unpersist(); () }
  }

  /** BFD structural laws. The ≤-half-fill law is the open-only-when-
    * nothing-fits invariant: were two bins of a group ≤ cap/2 full,
    * the later one's opening item (≤ its final fill ≤ cap/2) would
    * have fit the earlier one's ≥ cap/2 free space — contradiction.
    */
  private[graft] def bfdLaws(out: DataFrame, cap: Long): Seq[Check] = {
    val q = "pack_bfd"
    val bins = out.groupBy("lang", "shard", "bin_id")
      .agg(sum("n_tokens").as("fill")).persist()
    try {
      val over = bins.filter(col("fill") > cap).count()
      val perGroup = bins.groupBy("lang", "shard")
        .agg(max("bin_id").as("mx"), count(lit(1)).as("nb"),
          sum(when(col("fill") <= cap / 2, 1L).otherwise(0L)).as("halfEmpty"))
        .persist()
      try {
        val badContig = perGroup.filter(col("mx") =!= col("nb") - 1).count()
        val badHalf = perGroup.filter(col("halfEmpty") > 1).count()
        Seq(
          check(q, s"bin capacity: no bin over $cap tokens",
            over == 0, s"violations=$over"),
          check(q, "bin ids contiguous 0..n-1 per (lang, shard)",
            badContig == 0, s"violations=$badContig"),
          check(q, "at most one bin per (lang, shard) at <= half fill " +
            "(BFD opens a bin only when nothing fits)",
            badHalf == 0, s"violations=$badHalf"))
      } finally { perGroup.unpersist(); () }
    } finally { bins.unpersist(); () }
  }

  private[graft] def budgetLaws(out: DataFrame, budgets: DataFrame,
      masses: DataFrame): Seq[Check] = {
    val q = "sample_token_budget"
    val (rows, distinct) = countDistinctOf(out, "doc_id")
    val per = out.groupBy("source").agg(
      max("cum_tokens").as("max_cum"),
      sum("n_tokens").as("sel_mass"),
      max(col("cum_tokens") - col("n_tokens")).as("max_start"))
      .join(budgets, "source").join(masses, "source").persist()
    try {
      val badPrefix = per.filter(col("max_cum") =!= col("sel_mass")).count()
      val overBudget = per.filter(col("max_start") >= col("budget")).count()
      val underFill = per.filter(
        col("max_cum") < least(col("budget"), col("mass"))).count()
      Seq(
        check(q, "doc_id unique", rows == distinct,
          s"rows=$rows distinct=$distinct"),
        check(q, "selection is the exact prefix of the packing order " +
          "(max cum_tokens = selected mass)",
          badPrefix == 0, s"violations=$badPrefix"),
        check(q, "every kept doc starts under its source budget; the budget " +
          "is reached (overshoot < one doc)",
          overBudget == 0 && underFill == 0,
          s"start_over=$overBudget under_fill=$underFill"))
    } finally { per.unpersist(); () }
  }

  private[graft] def exactDedupLaws(out: DataFrame,
      docs: DataFrame): Seq[Check] = {
    val q = "dedup_exact"
    val total = docs.count()
    val st = out.agg(count(lit(1)), count_distinct(col("content_md5")),
      coalesce(sum("n_copies"), lit(0L)),
      coalesce(sum(when(col("n_copies") < 1, 1L).otherwise(0L)), lit(0L)))
      .head()
    val (rows, distinctMd5, sumCopies, badCopies) =
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
    val orphanKeep = out.select(col("keep_id").as("doc_id"))
      .join(docs, Seq("doc_id"), "left_anti").count()
    Seq(
      check(q, "groups account for every corpus document (sum n_copies = corpus)",
        sumCopies == total, s"sum=$sumCopies corpus=$total"),
      check(q, "one row per content hash; keepers ∈ corpus; n_copies >= 1",
        rows == distinctMd5 && orphanKeep == 0 && badCopies == 0,
        s"rows=$rows distinct=$distinctMd5 orphan_keepers=$orphanKeep " +
          s"bad_copies=$badCopies"))
  }

  private[graft] def segmentLaws(out: DataFrame, words: DataFrame,
      segWords: Int): Seq[Check] = {
    val q = "dedup_segments"
    val j = out.join(words, "doc_id").persist()
    try {
      val badSegCount = j.filter(col("n_segs") =!=
        ceil(col("words").cast("double") / segWords).cast("long")).count()
      val cleanWords = when(col("clean_text") === "", lit(0L))
        .otherwise(size(split(col("clean_text"), " ")).cast("long"))
      val badKept = j.filter(col("n_kept_segs") < 0 ||
        col("n_kept_segs") > col("n_segs") ||
        ((col("clean_text") === "") =!= (col("n_kept_segs") === 0L)) ||
        cleanWords > col("words") ||
        cleanWords > col("n_kept_segs") * segWords ||
        cleanWords < col("n_kept_segs")).count()
      Seq(
        check(q, s"n_segs = ceil(words/$segWords) for every document",
          badSegCount == 0, s"violations=$badSegCount"),
        check(q, "0 <= kept <= segs; clean-text word mass consistent with " +
          "the kept segments (each 1..segWords words, empty ⟺ none kept)",
          badKept == 0, s"violations=$badKept"))
    } finally { j.unpersist(); () }
  }

  /** Maximal-span laws shared by dedup_substring and
    * decontaminate_substring (same mergeSpans machinery): exact length
    * arithmetic with the family minimum, spans per doc disjoint AND
    * non-mergeable (a merged output can never have two spans whose
    * covered windows were ≤ L apart — the island break fires only past
    * L, so consecutive spans satisfy start > prev_end + 1), and spans
    * inside the document. `trainMod` adds the decontamination
    * train-side-only law.
    */
  private[graft] def spanLaws(q: String, out: DataFrame, words: DataFrame,
      minLen: Int, trainMod: Option[Long]): Seq[Check] = {
    import org.apache.spark.sql.expressions.Window
    val badLen = out.filter(
      col("n_tokens") =!= col("span_end") - col("span_start") + 1 ||
        col("n_tokens") < minLen || col("span_start") < 1).count()
    val w = Window.partitionBy("doc_id").orderBy("span_start")
    val overlap = out.withColumn("prev_end", lag("span_end", 1).over(w))
      .filter(col("prev_end").isNotNull &&
        col("span_start") <= col("prev_end") + 1).count()
    val outOfDoc = out.join(words, "doc_id")
      .filter(col("span_end") > col("words")).count()
    val base = Seq(
      check(q, s"spans >= $minLen tokens with exact length arithmetic",
        badLen == 0, s"violations=$badLen"),
      check(q, "spans per document are maximal (disjoint, non-mergeable)",
        overlap == 0, s"violations=$overlap"),
      check(q, "spans lie within their document",
        outOfDoc == 0, s"violations=$outOfDoc"))
    trainMod match {
      case Some(m) =>
        val benchLeak = out.filter(col("doc_id") % m === 0).count()
        base :+ check(q, s"flagged spans are train docs only (doc_id % $m != 0)",
          benchLeak == 0, s"bench-doc spans=$benchLeak")
      case None => base
    }
  }

  /** Greedy BPE training laws over the collected (rank, left, right,
    * merged, cnt) rows: contiguous ranks, merged concatenation, and
    * the max-frequency argument — a pair created by a merge occurs at
    * most as often as the merged token, itself at most the selected
    * max, so the selected counts are non-increasing.
    */
  private[graft] def bpeTrainLaws(
      rows: Seq[(Long, String, String, String, Long)], k: Int): Seq[Check] = {
    val q = "bpe_train"
    val ranks = rows.map(_._1).sorted
    val badMerge = rows.filter { case (_, a, b, m, _) => m != a + b }
    val cnts = rows.sortBy(_._1).map(_._5)
    val nonInc = cnts.zip(cnts.drop(1)).forall { case (x, y) => x >= y }
    Seq(
      check(q, s"merge ranks are exactly 1..$k",
        ranks == (1L to k.toLong), s"ranks=${ranks.mkString(",")}"),
      check(q, "merged = left || right for every merge",
        badMerge.isEmpty, badMerge.take(3).mkString("; ")),
      check(q, "selected pair counts are non-increasing and >= 1 " +
        "(greedy max-frequency)",
        nonInc && cnts.forall(_ >= 1), s"cnts=${cnts.mkString(",")}"))
  }

  private[graft] def bpeTokenizeLaws(out: DataFrame,
      docs: DataFrame): Seq[Check] = {
    val q = "text_tokenize_bpe"
    val badBounds = out.filter(col("n_bpe_tokens") < col("n_words") ||
      col("n_bpe_tokens") > col("n_word_chars") || col("n_words") < 1).count()
    Seq(
      idSetLaw(q, out, docs, complete = false),
      check(q, "tokenization partitions every word: " +
        "n_words <= n_bpe_tokens <= n_word_chars",
        badBounds == 0, s"violations=$badBounds"))
  }

  private[graft] def winnowLaws(out: DataFrame,
      words: DataFrame): Seq[Check] = {
    val q = "text_winnow"
    val per = out.groupBy("doc_id").agg(count(lit(1)).as("n_fps"),
      min("fp").as("mn"), max("fp").as("mx")).persist()
    try {
      val docsTotal = words.count()
      val covered = per.count()
      val badRange = per.filter(col("mn") < 0 ||
        col("mx") > (1L << 32) - 1).count()
      val tooMany = per.join(words, "doc_id")
        .filter(col("n_fps") > greatest(lit(1L), col("words") - 2)).count()
      Seq(
        check(q, "every corpus document carries at least one fingerprint",
          covered == docsTotal, s"covered=$covered corpus=$docsTotal"),
        check(q, "fingerprints are 32-bit; per-doc count <= max(1, #grams)",
          badRange == 0 && tooMany == 0,
          s"range_violations=$badRange too_many=$tooMany"))
    } finally { per.unpersist(); () }
  }

  private[graft] def decontNgramLaws(out: DataFrame, docs: DataFrame,
      benchMod: Long): Seq[Check] = {
    val q = "decontaminate_ngram"
    val benchLeak = out.filter(col("doc_id") % benchMod === 0).count()
    val badCounts = out.filter(col("n3_shingles_shared") < 1 ||
      col("n3_benchmark_docs") < 1 || col("n5_shingles_shared") < 0 ||
      ((col("n5_shingles_shared") > 0) =!= (col("n5_benchmark_docs") > 0)))
      .count()
    Seq(
      idSetLaw(q, out, docs, complete = false),
      check(q, s"flags are train-side only (doc_id % $benchMod != 0)",
        benchLeak == 0, s"bench-doc flags=$benchLeak"),
      check(q, "every flag carries a 3-gram hit; 5-gram hit counts consistent",
        badCounts == 0, s"violations=$badCounts"))
  }

  private[graft] def decontWinnowLaws(out: DataFrame, docs: DataFrame,
      benchMod: Long): Seq[Check] = {
    val q = "decontaminate_winnow"
    val benchLeak = out.filter(col("doc_id") % benchMod === 0).count()
    val badCounts = out.filter(col("fps_shared") < 1 ||
      col("benchmark_docs") < 1).count()
    Seq(
      idSetLaw(q, out, docs, complete = false),
      check(q, s"flags are train-side only with >= 1 shared fingerprint " +
        s"and >= 1 benchmark doc (doc_id % $benchMod != 0)",
        benchLeak == 0 && badCounts == 0,
        s"bench_leak=$benchLeak bad_counts=$badCounts"))
  }

  private[graft] def chunkLaws(out: DataFrame, words: DataFrame,
      w: Int, stride: Int): Seq[Check] = {
    val q = "text_chunk"
    val badTok = out.filter(col("n_chunk_tokens") < 1 ||
      col("n_chunk_tokens") > w).count()
    val per = out.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"),
      max("chunk_idx").as("mx"),
      count_distinct(col("chunk_idx")).as("d"))
      .join(words, "doc_id").persist()
    try {
      val badContig = per.filter(col("d") =!= col("n_chunks") ||
        col("mx") =!= col("n_chunks") - 1).count()
      val badCount = per.filter(col("n_chunks") =!=
        when(col("words") <= w, lit(1L))
          .otherwise(ceil((col("words") - w).cast("double") / stride)
            .cast("long") + 1L)).count()
      val lastLaw = out.join(per.select("doc_id", "mx", "words"), "doc_id")
        .filter(col("chunk_idx") === col("mx"))
        .filter(col("n_chunk_tokens") =!=
          least(lit(w.toLong), col("words") - col("mx") * stride)).count()
      Seq(
        check(q, s"chunk sizes in [1,$w]", badTok == 0, s"violations=$badTok"),
        check(q, "chunk indexes contiguous 0..n-1; chunk-count law exact " +
          s"(1 if words <= $w else ceil((words-$w)/$stride)+1)",
          badContig == 0 && badCount == 0,
          s"contig=$badContig count=$badCount"),
        check(q, "the last chunk ends exactly at the document end",
          lastLaw == 0, s"violations=$lastLaw"))
    } finally { per.unpersist(); () }
  }

  private def checkFunnel(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Seq[Check] = {
    val q = "q_funnel"
    val b = SparkEntry.queries(q)(spark, baseDir).head()
    val s0 = SparkEntry.queries(q)(spark, scaledDir).collect()
    val oneRow = check(q, "exactly one report row by contract",
      s0.length == 1, s"rows=${s0.length}")
    if (s0.length != 1) Seq(oneRow)
    else {
      val s = s0(0)
      val (nv, nc, np) = (s.getLong(0), s.getLong(1), s.getLong(2))
      def fr(a: Long, d: Long) = math.floor(a.toDouble / d * 1e6) / 1e6
      val ratesOk =
        if (nv == 0) s.isNullAt(3) && s.isNullAt(4)
        else !s.isNullAt(3) && !s.isNullAt(4) &&
          s.getDouble(3) == fr(nc, nv) && s.getDouble(4) == fr(np, nv)
      Seq(oneRow,
        check(q, s"stage user counts scale exactly ${copies}x " +
          "(per-user journeys are replica-invariant)",
          nv == copies * b.getLong(0) && nc == copies * b.getLong(1) &&
            np == copies * b.getLong(2),
          s"base=(${b.getLong(0)},${b.getLong(1)},${b.getLong(2)}) " +
            s"scaled=($nv,$nc,$np) copies=$copies"),
        check(q, "funnel monotone: views >= clicks >= purchases >= 0",
          nv >= nc && nc >= np && np >= 0, s"($nv,$nc,$np)"),
        check(q, "conversion rates are the floor-quantized count ratios",
          ratesOk, s"click=${s.get(3)} purchase=${s.get(4)}"))
    }
  }

  private def checkRetention(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Seq[Check] = {
    val q = "q_retention"
    def grid(dir: String) = SparkEntry.queries(q)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val base = grid(baseDir)
    val scaled = grid(scaledDir)
    val sameKeys = check(q, "same (cohort, offset) grid at both tiers",
      base.keySet == scaled.keySet,
      s"base_only=${(base.keySet -- scaled.keySet).take(3)} " +
        s"scaled_only=${(scaled.keySet -- base.keySet).take(3)}")
    val viol = base.toSeq.collect {
      case (k, n) if scaled.get(k).exists(_ != copies * n) =>
        s"$k base=$n scaled=${scaled(k)}"
    }
    val negOffset = scaled.keys.count(_._2 < 0)
    val cohortMax = scaled.groupBy(_._1._1).collect {
      case (cw, cells)
          if !cells.get((cw, 0L)).exists(w0 => cells.values.forall(_ <= w0)) =>
        s"cohort=$cw week0=${cells.get((cw, 0L))}"
    }
    Seq(sameKeys,
      check(q, s"per-(cohort, offset) active counts scale exactly ${copies}x",
        viol.isEmpty, viol.take(3).mkString("; ")),
      check(q, "offsets >= 0 and week-0 is each cohort's maximum " +
        "(everyone is active in their first week)",
        negOffset == 0 && cohortMax.isEmpty,
        s"neg_offsets=$negOffset bad_cohorts=${cohortMax.take(3).mkString("; ")}"))
  }

  private def checkHistogram(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Seq[Check] = {
    val q = "q_histogram"
    def grid(dir: String) = SparkEntry.queries(q)(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val base = grid(baseDir)
    val scaled = grid(scaledDir)
    val sameKeys = check(q, "same value buckets at both tiers",
      base.keySet == scaled.keySet,
      s"base_only=${(base.keySet -- scaled.keySet).take(3)} " +
        s"scaled_only=${(scaled.keySet -- base.keySet).take(3)}")
    val viol = base.toSeq.collect {
      case (k, (n, s)) if scaled.get(k).exists { case (ns, ss) =>
          ns != copies * n ||
            math.abs(ss - copies * s) > 1e-6 * math.max(1.0, copies * s.abs)
        } =>
        s"bucket=$k base=($n,$s) scaled=${scaled(k)}"
    }
    Seq(sameKeys,
      check(q, s"per-bucket counts scale exactly ${copies}x, sums within " +
        "float tolerance (value distribution is replica-invariant)",
        viol.isEmpty, viol.take(3).mkString("; ")))
  }

  // ------------------------------------------------------------------
  // r15 batch 2: the corpus-report and per-doc scoring families, plus
  // the two remaining events/lineitem statistics with exact cross-tier
  // laws.
  // ------------------------------------------------------------------

  private[graft] def normExactLaws(out: DataFrame,
      docs: DataFrame): Seq[Check] = {
    val q = "dedup_norm_exact"
    val rowBad = out.filter(
      ((col("doc_id") === col("canonical_id")) =!= col("keep")) ||
        col("canonical_id") > col("doc_id")).count()
    val grpBad = out.groupBy("canon_hash")
      .agg(count(lit(1)).as("n"), min("dup_count").as("mnd"),
        max("dup_count").as("mxd"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("keeps"),
        count_distinct(col("canonical_id")).as("dc"),
        min("doc_id").as("mnid"), max("canonical_id").as("mxc"))
      .filter(col("n") =!= col("mnd") || col("n") =!= col("mxd") ||
        col("keeps") =!= 1L || col("dc") =!= 1L ||
        col("mxc") =!= col("mnid")).count()
    Seq(
      idSetLaw(q, out, docs, complete = true),
      check(q, "keep ⟺ doc = canonical; canonical <= doc",
        rowBad == 0, s"violations=$rowBad"),
      check(q, "per hash group: dup_count exact, one keeper, one canonical = min id",
        grpBad == 0, s"violating groups=$grpBad"))
  }

  private[graft] def corpusStatsLaws(out: DataFrame,
      facts: DataFrame): Seq[Check] = {
    // facts: (source, fact_docs, fact_chars) recomputed from the corpus
    val q = "corpus_stats"
    val j = out.join(facts, Seq("source"), "full_outer").persist()
    try {
      val mismatch = j.filter(col("n_docs").isNull || col("fact_docs").isNull ||
        col("n_docs") =!= col("fact_docs") ||
        col("total_chars") =!= col("fact_chars")).count()
      val rowBad = j.filter(col("n_dup_docs") < 0 ||
        col("n_dup_docs") > col("n_docs") || col("n_langs") < 1 ||
        col("avg_quality").isNull).count()
      Seq(
        check(q, "per-source docs and chars equal an independent recomputation " +
          "(and the report covers every source)",
          mismatch == 0, s"mismatched_sources=$mismatch"),
        check(q, "0 <= dup docs <= docs; >= 1 language; quality present",
          rowBad == 0, s"violations=$rowBad"))
    } finally { j.unpersist(); () }
  }

  private[graft] def mixWeightsLaws(out: DataFrame,
      corpusDocs: Long): Seq[Check] = {
    val q = "mix_weights"
    val rows = out.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val totalDocs = rows.map(_._2).sum
    val shareSum = rows.map(_._3).sum
    val badRows = rows.collect {
      case (l, n, s, t) if n < 1 || s <= 0 || s > 1 ||
          math.abs(t - 100000L * s) > 0.5 + 1e-6 =>
        s"$l n=$n share=$s target=$t"
    }
    Seq(
      check(q, "language doc counts account for the whole corpus",
        totalDocs == corpusDocs, s"sum=$totalDocs corpus=$corpusDocs"),
      // 1e-6, not ulps: each share is an independent double division
      // by the same denominator, and the sum of x_i/S legitimately
      // misses 1 by a few ulps per language (observed 6e-9 at 5
      // languages) — a wrong denominator or a dropped language shifts
      // the sum by orders more
      check(q, "shares form a simplex (sum 1 within float tolerance, each " +
        "in (0,1]); targets are the rounded share of 100k",
        math.abs(shareSum - 1.0) < 1e-6 && badRows.isEmpty,
        s"share_sum=$shareSum bad=${badRows.mkString("; ")}"))
  }

  private[graft] def vocabOovLaws(out: DataFrame,
      docs: DataFrame): Seq[Check] = {
    val q = "vocab_oov"
    val bad = out.filter(col("n_tokens") < 1 || col("n_oov") < 0 ||
      col("n_oov") > col("n_tokens") ||
      col("oov_rate") =!=
        col("n_oov").cast("double") / col("n_tokens")).count()
    Seq(
      idSetLaw(q, out, docs, complete = true),
      check(q, "0 <= oov <= tokens; rate is exactly the count ratio",
        bad == 0, s"violations=$bad"))
  }

  private[graft] def qualityLaws(out: DataFrame,
      docs: DataFrame): Seq[Check] = {
    val q = "text_quality"
    val recompute = col("uniq_ratio") * 0.5 +
      (lit(1.0) - col("stopword_ratio")) * 0.3 +
      least(col("avg_word_len") / 10.0, lit(1.0)) * 0.2
    val bad = out.filter(col("n_uniq_words") > col("n_words") ||
      col("uniq_ratio") =!=
        col("n_uniq_words").cast("double") / col("n_words") ||
      col("stopword_ratio") < 0 || col("stopword_ratio") > 1 ||
      col("quality_score") =!= recompute).count()
    Seq(
      idSetLaw(q, out, docs, complete = true),
      check(q, "score components and the weighted score recompute exactly " +
        "from the row's own counts",
        bad == 0, s"violations=$bad"))
  }

  private[graft] def tokensLaws(out: DataFrame,
      docs: DataFrame): Seq[Check] = {
    val q = "text_tokens"
    val bad = out.filter(col("n_ws_tokens") < 1 || col("n_bpe_tokens") < 0 ||
      (col("chars_per_token").isNull =!= (col("n_bpe_tokens") === 0L)) ||
      (col("chars_per_token").isNotNull && col("chars_per_token") <= 0))
      .count()
    Seq(
      idSetLaw(q, out, docs, complete = true),
      check(q, "token counts positive; chars/token NULL exactly when no " +
        "BPE token matches, else positive",
        bad == 0, s"violations=$bad"))
  }

  private[graft] def entropyLaws(out: DataFrame,
      docs: DataFrame): Seq[Check] = {
    val q = "text_entropy"
    val bad = out.filter(col("n_distinct_tokens") < 1 ||
      col("n_distinct_tokens") > col("n_tokens") ||
      col("token_entropy") < -1e-9 ||
      col("token_entropy") >
        log(col("n_distinct_tokens").cast("double")) + 1e-6).count()
    Seq(
      idSetLaw(q, out, docs, complete = true),
      check(q, "0 <= entropy <= ln(distinct tokens) (uniform maximizes); " +
        "distinct <= total",
        bad == 0, s"violations=$bad"))
  }

  private[graft] def confusionLaws(out: DataFrame,
      corpusDocs: Long): Seq[Check] = {
    import org.apache.spark.sql.expressions.Window
    val q = "text_langid_confusion"
    val total = out.agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0)
    val langTot = sum(col("n_docs")).over(Window.partitionBy("lang"))
    val bad = out.withColumn("expect",
      floor(col("n_docs").cast("double") / langTot.cast("double") * 1e6) / 1e6)
      .filter(col("rate") =!= col("expect") ||
        col("rate") <= 0 || col("rate") > 1).count()
    Seq(
      check(q, "the confusion matrix accounts for every document",
        total == corpusDocs, s"sum=$total corpus=$corpusDocs"),
      check(q, "rates are the floor-quantized per-declared-language shares",
        bad == 0, s"violations=$bad"))
  }

  /** q_percentiles cross-tier law: the id-shift derivation copies
    * every (event_type, value) verbatim per replica, so the scaled
    * multiset is exactly `copies` interleaved copies of the base one —
    * and ceil(ceil(p·c·n)/c) = ceil(p·n) for any integer c, so the
    * explicit order-statistic at ceil(p·n) is IDENTICAL at both tiers
    * while n_events scales exactly.
    */
  private def checkPercentiles(spark: SparkSession, baseDir: String,
      scaledDir: String, copies: Int): Seq[Check] = {
    val q = "q_percentiles"
    def grid(dir: String) = SparkEntry.queries(q)(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val base = grid(baseDir)
    val scaled = grid(scaledDir)
    val sameKeys = check(q, "same event types at both tiers",
      base.keySet == scaled.keySet,
      s"base=${base.keySet.toSeq.sorted} scaled=${scaled.keySet.toSeq.sorted}")
    val viol = base.toSeq.collect {
      case (t, (n, p50, p90, p99)) if scaled.get(t).exists { case (ns, a, b, c) =>
          ns != copies * n || a != p50 || b != p90 || c != p99
        } =>
        s"$t base=($n,$p50,$p90,$p99) scaled=${scaled(t)}"
    }
    val mono = scaled.collect {
      case (t, (_, a, b, c)) if !(a <= b && b <= c) => s"$t ($a,$b,$c)"
    }
    Seq(sameKeys,
      check(q, s"percentile VALUES identical across tiers, n_events exactly " +
        s"${copies}x (c-copies multiset + the ceil identity)",
        viol.isEmpty, viol.take(3).mkString("; ")),
      check(q, "p50 <= p90 <= p99", mono.isEmpty, mono.mkString("; ")))
  }

  private def checkCorrStats(spark: SparkSession, dir: String): Seq[Check] = {
    val q = "q_corr_stats"
    val rows = SparkEntry.queries(q)(spark, dir).collect()
    val n = spark.read.parquet(s"$dir/lineitem.parquet").count()
    val total = rows.map(_.getLong(1)).sum
    val badCorr = rows.collect {
      case r if math.abs(r.getDouble(3)) > 1.0 + 1e-9 =>
        s"${r.getString(0)} corr=${r.getDouble(3)}"
    }
    Seq(
      check(q, "groups account for every lineitem row",
        total == n, s"sum=$total lineitem=$n"),
      check(q, "correlation within [-1, 1]",
        badCorr.isEmpty, badCorr.mkString("; ")))
  }

  /** Run every gated invariant for `family` (defaults to all gated
    * queries present in the registry — pipeline_shard joins the list
    * when registered).
    */
  def checksFor(spark: SparkSession, baseDir: String, scaledDir: String,
      copies: Int, family: Seq[String],
      onCheck: Check => Unit = _ => ()): Seq[Check] =
    family.flatMap { q =>
      val run: Seq[Check] =
        try q match {
          case _ if LinearEventQueries.contains(q) ||
              LinearScaledQueries.contains(q) =>
            checkLinearity(spark, q, baseDir, scaledDir, copies)
          case _ if TierLaws.exists(_.q == q) =>
            val law = TierLaws.find(_.q == q).get
            tierCompare(law, SparkEntry.queries(q)(spark, baseDir),
              SparkEntry.queries(q)(spark, scaledDir), copies)
          case _ if TopNLaws.exists(_.q == q) =>
            val law = TopNLaws.find(_.q == q).get
            topNCompare(law, SparkEntry.queries(q)(spark, baseDir),
              SparkEntry.queries(q)(spark, scaledDir))
          case "ann_bruteforce" | "ann_lsh" | "ann_ivf" | "ann_ivf_pq" =>
            checkAnn(spark, q, baseDir, scaledDir)
          case "multimodal_near_dup" =>
            checkNearDupMedia(spark, baseDir, scaledDir, copies)
          case "q15_top_supplier" =>
            checkTopSupplierTies(spark, baseDir, scaledDir, copies)
          case "q_watermark_audit" =>
            checkWatermarkAudit(spark, baseDir, scaledDir, copies)
          case "classify_calibration" => checkCalibration(spark, scaledDir)
          case "q_decile" => checkDecile(spark, scaledDir)
          case "text_ppl_bucket" => checkPplBucket(spark, scaledDir)
          case "dedup_cluster_keep" => checkClusterKeep(spark, scaledDir)
          case "dedup_minhash_lsh" => checkMinhashPairs(spark, scaledDir)
          case "dedup_embedding_blocked" | "dedup_embedding_hier" =>
            checkBlocked(spark, scaledDir, q)
          case "corpus_dup_profile" => checkDupProfile(spark, scaledDir)
          case "graph_pagerank" => checkPagerank(spark, scaledDir)
          case "graph_label_prop" => checkLabelProp(spark, scaledDir)
          case "emb_cell_skew" => checkCellSkew(spark, scaledDir)
          case "mix_kl" => checkMixKl(spark, baseDir, scaledDir, copies)
          case "pipeline_curate" => checkCurate(spark, scaledDir)
          case "pipeline_curate_emb" => checkCurateEmb(spark, scaledDir)
          case "pipeline_shard" =>
            operators.Curate.shardChecksFor(spark, scaledDir)
          case "sample_split_hash" =>
            val out = SparkEntry.queries(q)(spark, scaledDir)
            idSetLaw(q, out, corpusIds(spark, scaledDir), complete = true) +:
              splitLaws(out)
          case "sample_stratified" =>
            val out = SparkEntry.queries(q)(spark, scaledDir)
            val strata = spark.read.parquet(s"$scaledDir/documents.parquet")
              .groupBy("lang").agg(count(lit(1)).as("n_docs"))
            idSetLaw(q, out, corpusIds(spark, scaledDir), complete = false) +:
              stratifiedLaws(out, strata)
          case "sample_token_budget" =>
            val docs = operators.Sampling.budgetTokenCols(
              spark.read.parquet(s"$scaledDir/documents.parquet")
                .select(col("doc_id"), col("source"), col("text"))).persist()
            try {
              val budgets = operators.Sampling.sourceBudgets(docs, 10000L)
              val masses = docs.groupBy("source")
                .agg(sum("n_tokens").as("mass"))
              budgetLaws(SparkEntry.queries(q)(spark, scaledDir),
                budgets, masses)
            } finally { docs.unpersist(); () }
          case "pack_sequences" =>
            val out = SparkEntry.queries(q)(spark, scaledDir)
            idSetLaw(q, out, corpusIds(spark, scaledDir), complete = true) +:
              packChainLaws(q, out, 512L)
          case "pack_bfd" =>
            val out = SparkEntry.queries(q)(spark, scaledDir)
            idSetLaw(q, out, corpusIds(spark, scaledDir), complete = true) +:
              bfdLaws(out, operators.Sampling.BfdCap)
          case "dedup_exact" =>
            exactDedupLaws(SparkEntry.queries(q)(spark, scaledDir),
              corpusIds(spark, scaledDir))
          case "dedup_segments" =>
            val out = SparkEntry.queries(q)(spark, scaledDir)
            idSetLaw(q, out, corpusIds(spark, scaledDir), complete = true) +:
              segmentLaws(out, docWordCounts(spark, scaledDir),
                operators.Corpus.SegWords)
          case "dedup_substring" =>
            spanLaws(q, SparkEntry.queries(q)(spark, scaledDir),
              docWordCounts(spark, scaledDir),
              operators.Substring.MinRepeatTokens, trainMod = None)
          case "decontaminate_substring" =>
            spanLaws(q, SparkEntry.queries(q)(spark, scaledDir),
              docWordCounts(spark, scaledDir),
              operators.Contamination.SubstrL,
              trainMod = Some(operators.Contamination.SubstrBenchMod.toLong))
          case "bpe_train" =>
            bpeTrainLaws(SparkEntry.queries(q)(spark, scaledDir).collect()
              .map(r => (r.getLong(0), r.getString(1), r.getString(2),
                r.getString(3), r.getLong(4))).toSeq,
              operators.Bpe.NumMerges)
          case "text_tokenize_bpe" =>
            bpeTokenizeLaws(SparkEntry.queries(q)(spark, scaledDir),
              corpusIds(spark, scaledDir))
          case "text_winnow" =>
            winnowLaws(SparkEntry.queries(q)(spark, scaledDir),
              docWordCounts(spark, scaledDir))
          case "text_chunk" =>
            chunkLaws(SparkEntry.queries(q)(spark, scaledDir),
              docWordCounts(spark, scaledDir),
              operators.TextAnalysis.ChunkW, operators.TextAnalysis.ChunkS)
          case "decontaminate_ngram" =>
            decontNgramLaws(SparkEntry.queries(q)(spark, scaledDir),
              corpusIds(spark, scaledDir),
              operators.Contamination.BenchMod.toLong)
          case "decontaminate_winnow" =>
            decontWinnowLaws(SparkEntry.queries(q)(spark, scaledDir),
              corpusIds(spark, scaledDir),
              operators.Contamination.BenchMod.toLong)
          case "dedup_norm_exact" =>
            normExactLaws(SparkEntry.queries(q)(spark, scaledDir),
              corpusIds(spark, scaledDir))
          case "corpus_stats" =>
            val facts = spark.read.parquet(s"$scaledDir/documents.parquet")
              .groupBy("source").agg(count(lit(1)).as("fact_docs"),
                sum(length(col("text"))).as("fact_chars"))
            corpusStatsLaws(SparkEntry.queries(q)(spark, scaledDir), facts)
          case "mix_weights" =>
            mixWeightsLaws(SparkEntry.queries(q)(spark, scaledDir),
              corpusIds(spark, scaledDir).count())
          case "vocab_oov" =>
            vocabOovLaws(SparkEntry.queries(q)(spark, scaledDir),
              corpusIds(spark, scaledDir))
          case "text_quality" =>
            qualityLaws(SparkEntry.queries(q)(spark, scaledDir),
              corpusIds(spark, scaledDir))
          case "text_tokens" =>
            tokensLaws(SparkEntry.queries(q)(spark, scaledDir),
              corpusIds(spark, scaledDir))
          case "text_entropy" =>
            entropyLaws(SparkEntry.queries(q)(spark, scaledDir),
              corpusIds(spark, scaledDir))
          case "text_langid_confusion" =>
            confusionLaws(SparkEntry.queries(q)(spark, scaledDir),
              corpusIds(spark, scaledDir).count())
          case "q_percentiles" =>
            checkPercentiles(spark, baseDir, scaledDir, copies)
          case "q_corr_stats" => checkCorrStats(spark, scaledDir)
          case "q_funnel" =>
            checkFunnel(spark, baseDir, scaledDir, copies)
          case "q_retention" =>
            checkRetention(spark, baseDir, scaledDir, copies)
          case "q_histogram" =>
            checkHistogram(spark, baseDir, scaledDir, copies)
          case other =>
            Seq(bad(other, "gated query has an invariant suite",
              s"no invariant suite registered for $other"))
        } catch {
          case scala.util.control.NonFatal(e) =>
            Seq(bad(q, "query executes at the gated tier",
              s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      // the persists above (and the ranking queries' internal
      // materialize-once layouts) must not accumulate across the gate
      spark.catalog.clearCache()
      run.foreach(onCheck)
      run
    }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale100")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "100").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftRuntime.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    ScaleCorpus.ensure(spark, src, out, copies)
    // r16: the C-family laws need the TPC-H tables derived, not
    // symlinked (own stamp - upgrades a pre-r16 corpus in place)
    ScaleCorpus.ensureTpch(spark, src, out, copies)

    val family = sys.env.get("SPARK_GRAFT_GATE_FAMILY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(gatedQueries().filter(SparkEntry.queries.contains))
    val unknown = family.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"gate family names not in the registry: " +
      unknown.mkString(", "))

    // per-query streaming progress: a 100x run takes tens of minutes,
    // and an all-at-the-end dump would hide where a hang or OOM landed
    val checks = checksFor(spark, src, out, copies, family, c =>
      System.err.println(
        s"[gate] ${if (c.pass) "PASS" else "FAIL"} ${c.query}: ${c.invariant}" +
          (if (c.detail.nonEmpty) s" (${c.detail})" else "")))
    finish(spark, Json.obj("copies" -> copies, "base" -> src, "scaled" -> out,
      "n_checks" -> checks.size, "n_failed" -> checks.count(!_.pass),
      "checks" -> checks.map(c => Json.obj("query" -> c.query) ++ c.entry)),
      checks, sys.env.get("SPARK_GRAFT_GATE_OUT"))
  }
}
