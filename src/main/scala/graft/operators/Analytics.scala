package graft.operators

import graft.{Det, QueryDef, Tables}
import graft.Det._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Core analytics surface: the general-purpose query capabilities a
  * user of a stream/batch analytics engine expects (grouped
  * aggregation, multi-way joins, top-N, window functions, rollup,
  * semi-joins, distinct aggregation), expressed declaratively so
  * Catalyst handles pushdown/pruning/join planning.
  *
  * Scale notes (100 TB intent):
  *  - dimension tables (region/nation/customer/supplier/part) are
  *    broadcast explicitly — no shuffle on the fact side for them;
  *  - every aggregate is a map-side-combinable `sum/count` (partial
  *    aggregation before the single shuffle on the group keys);
  *  - top-N = orderBy+limit which Spark executes as TakeOrdered
  *    (per-partition heaps, no global sort).
  */
object Analytics {

  private def ts(s: String) = graft.Det.tsLit(s)

  val q1 = QueryDef(
    "q1_pricing_summary",
    (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= ts("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumd(col("l_quantity")).as("sum_qty"),
          sumd(col("l_extendedprice")).as("sum_base_price"),
          sumd(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          sumd(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          avgd(col("l_quantity")).as("avg_qty"),
          avgd(col("l_extendedprice")).as("avg_price"),
          avgd(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
      ${dsum("l_quantity")} AS sum_qty,
      ${dsum("l_extendedprice")} AS sum_base_price,
      ${dsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
      ${dsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
      ${davg("l_quantity")} AS avg_qty,
      ${davg("l_extendedprice")} AS avg_price,
      ${davg("l_discount")} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""))

  val q3 = QueryDef(
    "q3_shipping_priority",
    (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < ts("1998-01-01"))
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > ts("1998-01-01"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sumd(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    },
    Some(s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
      ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10"""))

  val q5 = QueryDef(
    "q5_local_supplier",
    (s, d) => {
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sumd(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    },
    Some(s"""SELECT n_name,
      ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
    GROUP BY n_name ORDER BY revenue DESC, n_name"""))

  val q6 = QueryDef(
    "q6_forecast_revenue",
    (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1997-01-01") &&
          col("l_discount").between(0.02, 0.06) &&
          col("l_quantity") < 24)
        .agg(sumd(col("l_extendedprice") * col("l_discount")).as("revenue"))
    },
    Some(s"""SELECT ${dsum("l_extendedprice * l_discount")} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24"""))

  val qMarketShare = QueryDef(
    "q_market_share",
    (s, d) => {
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val base = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"), col("n_name"))
        .agg(sum(dec(col("o_totalprice"))).as("rev_dec"))
      val w = Window.partitionBy("o_year")
      base
        .withColumn("revenue", col("rev_dec").cast(DoubleType))
        .withColumn("mkt_share",
          col("rev_dec").cast(DoubleType) / sum(col("rev_dec")).over(w).cast(DoubleType))
        .select("o_year", "n_name", "revenue", "mkt_share")
    },
    Some("""WITH base AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, n_name,
             SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev_dec
      FROM orders, customer, nation, region
      WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
        AND n_regionkey = r_regionkey AND r_name = 'ASIA'
      GROUP BY 1, 2)
    SELECT o_year, n_name, CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(rev_dec AS DOUBLE) / CAST(SUM(rev_dec) OVER (PARTITION BY o_year) AS DOUBLE) AS mkt_share
    FROM base ORDER BY o_year, n_name"""))

  val qTopCustomers = QueryDef(
    "q_top_customers",
    (s, d) => {
      val base = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "c_custkey", "c_name")
        .agg(sumd(col("o_totalprice")).as("total_spend"), count(lit(1)).as("n_orders"))
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(desc("total_spend"), asc("c_custkey"))
      base.withColumn("rank_in_segment", row_number().over(w).cast(LongType))
        .filter(col("rank_in_segment") <= 3)
        .select("c_mktsegment", "rank_in_segment", "c_custkey", "c_name", "total_spend", "n_orders")
    },
    Some(s"""WITH base AS (
      SELECT c_mktsegment, c_custkey, c_name,
             ${dsum("o_totalprice")} AS total_spend, COUNT(*) AS n_orders
      FROM orders, customer WHERE o_custkey = c_custkey
      GROUP BY 1, 2, 3),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                 ORDER BY total_spend DESC, c_custkey) AS BIGINT) AS rank_in_segment
      FROM base)
    SELECT c_mktsegment, rank_in_segment, c_custkey, c_name, total_spend, n_orders
    FROM ranked WHERE rank_in_segment <= 3
    ORDER BY c_mktsegment, rank_in_segment"""))

  val qRollup = QueryDef(
    "q_rollup",
    (s, d) => {
      // Expressed via spark.sql: Dataset.rollup's string resolution
      // false-positives Spark's ambiguous-self-join check when the
      // grouping columns derive from a join (Expand-node shadowing);
      // the SQL path builds the identical Expand+Aggregate plan.
      // unique per-invocation view name: a fixed name would race
      // concurrent q_rollup builds on the shared session catalog
      val vn = s"graft_rollup_base_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          year(col("o_orderdate")).cast(LongType).as("o_year"),
          col("o_totalprice"))
        .createOrReplaceTempView(vn)
      val out = s.sql(s"""SELECT n_name, o_year,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price,
          COUNT(*) AS n_orders
        FROM $vn
        GROUP BY ROLLUP (n_name, o_year)""")
      s.catalog.dropTempView(vn) // analysis is eager; the plan keeps the relation
      out
    },
    Some(s"""SELECT n_name, o_year, ${dsum("o_totalprice")} AS total_price,
           COUNT(*) AS n_orders
    FROM (SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year, o_totalprice
          FROM orders, customer, nation
          WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey)
    GROUP BY ROLLUP (n_name, o_year)
    ORDER BY n_name NULLS FIRST, o_year NULLS FIRST"""))

  /** Full CUBE over (priority, year): all four grouping-set levels in
    * one Expand+Aggregate pass — with [[qRollup]] this covers Spark's
    * multi-dimensional aggregation surface (ROLLUP / CUBE / GROUPING
    * SETS share the same Expand machinery). Plain Dataset.cube works
    * here because the grouping columns come straight off one table
    * (no join-derived ambiguity as in q_rollup).
    */
  val qCube = QueryDef(
    "q_cube",
    (s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderpriority"),
          year(col("o_orderdate")).cast(LongType).as("o_year"),
          col("o_totalprice"))
        .cube("o_orderpriority", "o_year")
        .agg(sumd(col("o_totalprice")).as("total_price"),
          count(lit(1)).as("n_orders"))
    },
    Some(s"""SELECT o_orderpriority, o_year, ${dsum("o_totalprice")} AS total_price,
           COUNT(*) AS n_orders
    FROM (SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 o_totalprice FROM orders)
    GROUP BY CUBE (o_orderpriority, o_year)"""))

  /** Set-operation surface: churn-style EXCEPT — customers who
    * ordered in 1997 but not in 1998 (genuinely overlapping input
    * sets). Spark plans EXCEPT as aggregate + left-anti join — the
    * same shuffle skeleton INTERSECT compiles to, so one query covers
    * the set-op family.
    */
  val qExcept = QueryDef(
    "q_except",
    (s, d) => {
      def custsIn(y: Int) =
        Tables.orders(s, d)
          .filter(year(col("o_orderdate")) === y)
          .select(col("o_custkey"))
      custsIn(1997).except(custsIn(1998))
    },
    Some("""SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    EXCEPT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998"""))

  val qExists = QueryDef(
    "q_exists_semijoin",
    (s, d) => {
      val pending = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "P").select("o_custkey")
      Tables.customer(s, d)
        .join(pending, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    },
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    ORDER BY c_custkey"""))

  val qDistinctAgg = QueryDef(
    "q_distinct_agg",
    (s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_orderkey")).as("distinct_orders"),
          countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_suppkey")).as("distinct_supps"),
          count(lit(1)).as("n_rows"))
    },
    Some("""SELECT l_returnflag,
      COUNT(DISTINCT l_orderkey) AS distinct_orders,
      COUNT(DISTINCT l_partkey) AS distinct_parts,
      COUNT(DISTINCT l_suppkey) AS distinct_supps,
      COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Same result set as [[qTopCustomers]] (minus the rank column) but
    * computed by graft's custom bounded-heap operator
    * ([[graft.plans.TopKPerKey]]) instead of a window sort — the
    * DuckDB oracle (a window-function query) doubles as the
    * correctness proof for the custom physical operator.
    */
  val qTopKCustom = QueryDef(
    "q_topk_per_key",
    (s, d) => {
      val base = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "c_custkey", "c_name")
        .agg(sumd(col("o_totalprice")).as("total_spend"), count(lit(1)).as("n_orders"))
      graft.plans.GraftOps.topKPerKey(base,
        Seq(col("c_mktsegment")), col("total_spend"), col("c_custkey"), 3)
    },
    Some(s"""WITH base AS (
      SELECT c_mktsegment, c_custkey, c_name,
             ${dsum("o_totalprice")} AS total_spend, COUNT(*) AS n_orders
      FROM orders, customer WHERE o_custkey = c_custkey
      GROUP BY 1, 2, 3),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                 ORDER BY total_spend DESC, c_custkey) AS rk
      FROM base)
    SELECT c_mktsegment, c_custkey, c_name, total_spend, n_orders
    FROM ranked WHERE rk <= 3
    ORDER BY c_mktsegment, total_spend DESC, c_custkey"""))

  val qAntiJoin = QueryDef(
    "q_anti_join",
    (s, d) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d).select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    },
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey"""))

  /** Exact NTILE(10) decile buckets WITHOUT a single-partition global
    * sort — the textbook scale-killer of a bare `Window.orderBy`.
    *
    * Distributed two-phase ranking (the TeraSort shape):
    *  1. `repartitionByRange` on the sort key — each range partition
    *     holds a contiguous slice of the global order — then
    *     `sortWithinPartitions`: ONE shuffle, local sorts;
    *  2. per-partition local rank for free from
    *     `monotonically_increasing_id` (upper bits = partition id,
    *     lower 33 = row offset in partition order, i.e. sorted order)
    *     — no window over the data, no second exchange;
    *  3. global rank = local rank + offset, where the offsets are the
    *     running sum of per-partition counts — a P-row aggregate (P =
    *     shuffle partitions), broadcast back (the offsets branch
    *     shares the range exchange, reused at runtime — a CORRECTNESS
    *     invariant, not just a saving: two independent executions of
    *     repartitionByRange could sample different boundaries and
    *     disagree on _pid; PlanSpec's executedPlan check locks the
    *     ShuffleExchange + ReusedExchange shape);
    *  4. NTILE's bucket arithmetic applied to (rank, n) exactly: with
    *     q = n div 10 and r = n mod 10, buckets 1..r hold q+1 rows.
    * The only single-partition work is the running sum over P rows.
    * Result is bit-identical to NTILE(10) — the oracle keeps the
    * window-function formulation as the cross-engine proof.
    */
  val qDecile = QueryDef(
    "q_decile",
    (s, d) => {
      // Global NTILE without the single-partition window — the
      // range-partition + per-partition-offsets discipline, ONE
      // definition in GraftOps.ntileByRange (shared with the
      // classify_calibration sweep since r13).
      graft.plans.GraftOps.ntileByRange(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_totalprice"), col("o_orderkey")), 10)
        .withColumnRenamed("bucket", "decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_orders"),
          sumd(col("o_totalprice")).as("total_price"))
    },
    Some(s"""WITH ranked AS (
      SELECT o_orderkey, o_totalprice,
        CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS decile
      FROM orders)
    SELECT decile, COUNT(*) AS n_orders, ${dsum("o_totalprice")} AS total_price
    FROM ranked GROUP BY decile"""))

  // THE events table's type domain (EventPipeline owns it): this list
  // previously carried login/logout — producer-replica types that
  // never occur in the table — instead of error/signup, so q_pivot's
  // two columns were always NULL and ~40% of event values silently
  // vanished from the reshape. The oracle shared the literal, so the
  // hash gate structurally could not catch it; one shared constant
  // can.
  private val EventTypes = EventPipeline.EventTypes

  /** Native `RelationalGroupedDataset.pivot` with the pivot values
    * supplied explicitly. Supplying the values matters at scale: it
    * skips the eager distinct-collect job Spark otherwise runs to
    * discover them and keeps the output schema static. The plan is
    * Spark's two-phase pivot — partial+final sum on (key, pivot col),
    * then partial+final `pivotfirst` on the key — two map-side-
    * combinable exchanges; the one-exchange CASE-column variant of the
    * same reshape is `agg_type_counts` (A7). Decimal-exact sums per
    * the [[Det]] rule.
    */
  val qPivot = QueryDef(
    "q_pivot",
    (s, d) => {
      Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", EventTypes)
        .agg(sumd(col("value")))
        .select(col("user_id") +:
          EventTypes.map(t => col(t).as(s"sum_$t")): _*)
    },
    Some(s"""SELECT user_id,
      ${EventTypes.map(t =>
        s"CAST(SUM(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS sum_$t")
        .mkString(",\n      ")}
    FROM events GROUP BY user_id"""))

  /** The inverse reshape: `DataFrame.unpivot` (melt) from the wide
    * pivoted form back to (user_id, event_type, sum_value) rows.
    * Unpivot is a pure per-row Expand projection — zero additional
    * shuffles on top of the pivot aggregate feeding it. NULL cells
    * (user never produced that event type) are dropped symmetrically
    * on both sides, so the round trip is exactly the non-empty cells.
    */
  val qUnpivot = QueryDef(
    "q_unpivot",
    (s, d) => {
      qPivot.fn(s, d).unpivot(
        Array(col("user_id")),
        EventTypes.map(t => col(s"sum_$t")).toArray,
        "event_type", "sum_value")
        .filter(col("sum_value").isNotNull)
        // unpivot names rows by source column; strip the sum_ prefix
        .withColumn("event_type", expr("substring(event_type, 5)"))
    },
    Some(s"""WITH wide AS (
      SELECT user_id,
        ${EventTypes.map(t =>
          s"CAST(SUM(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS sum_$t")
          .mkString(",\n        ")}
      FROM events GROUP BY user_id)
    ${EventTypes.map(t =>
      s"SELECT user_id, '$t' AS event_type, sum_$t AS sum_value FROM wide WHERE sum_$t IS NOT NULL")
      .mkString("\n    UNION ALL\n    ")}"""))

  /** Argmin join-back (the "row holding the group's minimum" shape,
    * TPC-H q2's correlated-min family without its partsupp table):
    * each order's cheapest lineitem(s). A bare `min(...) OVER
    * (PARTITION BY key)` window — hash shuffle on the group key, NO
    * sort (unbounded frame needs none), then a filter; vs the
    * aggregate-then-self-join form this saves the join and the second
    * scan, and unlike rank-based top-k it keeps ties by design.
    */
  val qArgminJoin = QueryDef(
    "q_argmin_join",
    (s, d) => {
      val w = Window.partitionBy("l_orderkey")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
          col("l_partkey"), col("l_extendedprice"))
        .withColumn("min_price", min(col("l_extendedprice")).over(w))
        .filter(col("l_extendedprice") === col("min_price"))
        .select("l_orderkey", "l_linenumber", "l_partkey", "min_price")
    },
    Some("""WITH m AS (
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_partkey,
        l_extendedprice, MIN(l_extendedprice) OVER (PARTITION BY l_orderkey) AS min_price
      FROM lineitem)
    SELECT l_orderkey, l_linenumber, l_partkey, min_price
    FROM m WHERE l_extendedprice = min_price
    ORDER BY l_orderkey, l_linenumber"""))

  /** Window-function breadth in one pass: lag/lead neighbors,
    * running first_value, and the two normalized rank statistics
    * (percent_rank, cume_dist) per user in event order. ONE window
    * spec = ONE shuffle on user_id + one local sort serves all five
    * functions; (ms, event_id) ordering is unique so every output is
    * deterministic, and the rank ratios are single IEEE divisions of
    * integers (bit-identical cross-engine).
    */
  val qWindowFuncs = QueryDef(
    "q_window_funcs",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          Tables.eventTsMs.as("ms"), col("value"))
        .withColumn("prev_value", lag("value", 1).over(w))
        .withColumn("next_value", lead("value", 1).over(w))
        .withColumn("first_value", first("value").over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume_dist", cume_dist().over(w))
    },
    Some("""SELECT event_id, user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, value,
      LAG(value, 1) OVER w AS prev_value,
      LEAD(value, 1) OVER w AS next_value,
      FIRST_VALUE(value) OVER w AS first_value,
      PERCENT_RANK() OVER w AS pct_rank,
      CUME_DIST() OVER w AS cume_dist
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id)
    ORDER BY event_id"""))

  /** Explicit GROUPING SETS — the general form that ROLLUP ([[qRollup]])
    * and CUBE ([[qCube]]) are sugar for; an arbitrary (non-prefix,
    * non-powerset) set combination can only be written this way. Also
    * the one query exercising the `spark.sql` entry path: grouping-set
    * sugar has no DataFrame API in Spark, and a library claiming the
    * reference's SQL surface should prove the SQL door works. The scan
    * is a direct `parquet.`-qualified file reference — no temp view,
    * so a read-only query never mutates the session catalog (and two
    * concurrent callers over different dirs cannot race on a shared
    * view name). Plans as a single Expand + partial/final aggregate —
    * one exchange, rows multiplied only by the number of sets (3).
    * `GROUPING()` flags disambiguate a real NULL group from a
    * rolled-up one, identically in both engines.
    */
  val qGroupingSets = QueryDef(
    "q_grouping_sets",
    (s, d) => {
      s.sql(s"""SELECT o_orderpriority, o_orderstatus, o_year,
          CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
          CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
          CAST(GROUPING(o_year) AS BIGINT) AS g_year,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price,
          COUNT(*) AS n_orders
        FROM (SELECT o_orderpriority, o_orderstatus,
                     CAST(year(o_orderdate) AS BIGINT) AS o_year, o_totalprice
              FROM parquet.`$d/orders.parquet`)
        GROUP BY GROUPING SETS ((o_orderpriority, o_year), (o_orderstatus), (o_year))""")
    },
    Some(s"""SELECT o_orderpriority, o_orderstatus, o_year,
      CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
      CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
      CAST(GROUPING(o_year) AS BIGINT) AS g_year,
      ${dsum("o_totalprice")} AS total_price, COUNT(*) AS n_orders
    FROM (SELECT o_orderpriority, o_orderstatus,
                 CAST(year(o_orderdate) AS BIGINT) AS o_year, o_totalprice
          FROM orders)
    GROUP BY GROUPING SETS ((o_orderpriority, o_year), (o_orderstatus), (o_year))"""))

  /** Count-distribution (the TPC-H q13 family): how many customers
    * placed 0, 1, 2, ... orders. The LEFT join keeps zero-order
    * customers — the distribution's most business-relevant bucket and
    * the one an inner join silently drops; `count(o_orderkey)` counts
    * only matched rows. Two map-side-combinable aggregates: the first
    * shuffles on c_custkey (the join's own partitioning, reused), the
    * second on the tiny n_orders domain.
    */
  val qCountDistribution = QueryDef(
    "q_count_distribution",
    (s, d) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy("n_orders")
        .agg(count(lit(1)).as("n_customers"))
    },
    Some("""WITH per_cust AS (
      SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
    SELECT n_orders, COUNT(*) AS n_customers
    FROM per_cust GROUP BY n_orders ORDER BY n_orders"""))

  /** SALTED shuffle join — the hot-key mitigation pattern for joins
    * (the agg-side analog is A9 `agg_type_counts_salted`): the fact
    * side gets a salt derived from its own row (pmod of o_orderkey),
    * the dimension side is replicated once per salt value, and the
    * join key becomes (key, salt) — one hot customer's orders spread
    * over [[JoinSalt]] reducers instead of melting one. The
    * SHUFFLE_HASH hint forces the shuffled plan this pattern exists
    * for (broadcast would hide it); integer replication changes no
    * multiplicity, so the result — and the oracle — is identical to
    * the plain join, which is the point: same answer, skew-proof plan.
    */
  val qJoinSalted = QueryDef(
    "q_join_salted",
    (s, d) => {
      val salts = (0 until JoinSalt).map(i => lit(i))
      val fact = Tables.orders(s, d)
        .withColumn("_salt", pmod(col("o_orderkey"), lit(JoinSalt)).cast("int"))
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
          explode(array(salts: _*)).as("_salt"))
      fact.hint("SHUFFLE_HASH")
        .join(dim, fact("o_custkey") === dim("c_custkey") &&
          fact("_salt") === dim("_salt"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sumd(col("o_totalprice")).as("total_price"))
    },
    Some(s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
      ${dsum("o_totalprice")} AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  private val JoinSalt = 8

  /** FULL OUTER reconciliation — the audit query that finds BOTH
    * kinds of referential breakage in one pass: orders with no
    * lineitems and lineitems with no order (the inner/left forms each
    * silently hide one side). Keys are coalesced, presence flags made
    * explicit, and the missing-side aggregates defaulted so the output
    * is a complete ledger. Shape: partial+final count/sum on the
    * lineitem side, then one shuffle on the join key both inputs
    * share — the aggregate's partitioning is reused by the join.
    */
  val qFullOuter = QueryDef(
    "q_full_outer",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("lkey"))
        .agg(count(lit(1)).as("n_items"),
          sumd(col("l_extendedprice")).as("items_value"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .join(li, col("o_orderkey") === col("lkey"), "full_outer")
        .select(
          coalesce(col("o_orderkey"), col("lkey")).as("orderkey"),
          col("o_orderkey").isNotNull.as("has_order"),
          col("lkey").isNotNull.as("has_items"),
          col("o_totalprice"),
          coalesce(col("n_items"), lit(0L)).as("n_items"),
          col("items_value"))
    },
    Some(s"""WITH li AS (
      SELECT l_orderkey AS lkey, COUNT(*) AS n_items,
        ${dsum("l_extendedprice")} AS items_value
      FROM lineitem GROUP BY 1)
    SELECT COALESCE(o_orderkey, lkey) AS orderkey,
      (o_orderkey IS NOT NULL) AS has_order,
      (lkey IS NOT NULL) AS has_items,
      o_totalprice,
      COALESCE(n_items, 0) AS n_items,
      items_value
    FROM orders FULL OUTER JOIN li ON o_orderkey = lkey
    ORDER BY orderkey"""))

  /** Semi-join with an EXPLICIT Bloom runtime filter — the manual form
    * of the pruning Spark's InjectRuntimeFilter applies only under
    * size/cost heuristics; a library targeting 100 TB wants it on
    * demand. `graft_bloom_agg` builds the filter over the dimension
    * keys inside a scalar subquery; `graft_bloom_contains` probes it
    * on the fact side BEFORE the shuffle, so rows that cannot join
    * never enter the exchange (at 100 TB the semi-join shuffle is the
    * dominant cost; a 4%-selective filter cuts it ~25x). Bloom false
    * positives are swept out by the exact IN semi-join that follows —
    * the filter changes cost, never semantics, which is why the oracle
    * is the plain semi-join with no bloom at all.
    */
  val qBloomPrune = QueryDef(
    "q_bloom_prune",
    (s, d) => {
      // the SQL names below resolve on any session, installed or not
      graft.plans.GraftOps.install(s)
      s.sql(s"""WITH big AS (
          SELECT o_orderkey FROM parquet.`$d/orders.parquet`
          WHERE o_totalprice > 400000)
        SELECT l_returnflag, COUNT(*) AS n_items,
          CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(38,6))) AS DOUBLE)
            AS revenue
        FROM parquet.`$d/lineitem.parquet`
        WHERE graft_bloom_contains((SELECT graft_bloom_agg(o_orderkey) FROM big),
                                   l_orderkey)
          AND l_orderkey IN (SELECT o_orderkey FROM big)
        GROUP BY l_returnflag""")
    },
    Some(s"""SELECT l_returnflag, COUNT(*) AS n_items,
      ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
    GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Bit-interleave (Morton) z-value — shared with the write path
    * ([[graft.sources.Layout]]): pure integer arithmetic (div/mod/
    * multiply, no shift operators) so the SAME 32-term expression runs
    * in Spark and DuckDB.
    */
  private def zValueExpr(x: String, y: String, intDiv: String): String =
    graft.sources.Layout.zValueExpr(x, y, intDiv)

  /** Z-order (Morton-curve) clustering key over (l_partkey, l_suppkey)
    * — the multi-dimensional data-layout primitive behind file
    * skipping (the OPTIMIZE-ZORDER shape lakehouse table formats run):
    * sorting by the interleaved key gives every contiguous range
    * locality in BOTH dimensions, so per-file min/max stats become
    * selective for predicates on either key. At write time the layout
    * is `repartitionByRange(z).sortWithinPartitions(z)`; this query
    * PROVES the locality property the layout relies on — it buckets
    * the z-space into 32 equal ranges and reports each bucket's
    * min/max span per dimension (bounded ~1/sqrt(buckets) of the
    * domain, vs 1.0 for a single-column sort's non-sort dimension).
    * The z-value itself is exact integer arithmetic, identical in both
    * engines.
    */
  val qZorder = QueryDef(
    "q_zorder",
    (s, d) => {
      // normalize both keys to the full 16-bit space first (keys are
      // dense from 1, so *65536 div (max+1) spreads them uniformly);
      // a raw small-domain key would leave the high interleave bits
      // zero and collapse every row into one z-bucket
      val z = zValueExpr("(l_partkey * 65536) div (mp + 1)",
        "(l_suppkey * 65536) div (ms + 1)", "div")
      val ranges = Tables.lineitem(s, d)
        .agg(max(col("l_partkey")).as("mp"), max(col("l_suppkey")).as("ms"))
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"))
        .crossJoin(broadcast(ranges))
        .select(col("l_partkey"), col("l_suppkey"), expr(z).as("z"))
        .withColumn("z_bucket", expr(s"z div ${1L << 27}"))
        .groupBy("z_bucket")
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
          min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
    },
    Some(s"""WITH r AS (
      SELECT MAX(l_partkey) AS mp, MAX(l_suppkey) AS ms FROM lineitem),
    z AS (
      SELECT l_partkey, l_suppkey,
             ${zValueExpr("(l_partkey * 65536) // (mp + 1)",
               "(l_suppkey * 65536) // (ms + 1)", "//")} AS z
      FROM lineitem, r)
    SELECT z // ${1L << 27} AS z_bucket, COUNT(*) AS n_rows,
           MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
           MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
    FROM z GROUP BY 1 ORDER BY 1"""))

  /** Serializes [[qAggPushdown]]'s conf-flip window: useV1SourceList
    * is session-global, so a query BUILT concurrently on the same
    * session inside that window would silently get a V2 parquet scan.
    * The lock removes the self-race; the residual assumption (no
    * OTHER thread builds unrelated queries mid-window) is documented
    * at the SparkEntry registry, whose consumers build sequentially.
    */
  private val v2ConfLock = new Object

  /** Whole-table COUNT/MIN/MAX served from parquet FOOTER STATISTICS —
    * Spark's scan-level aggregate pushdown (`PushedAggregation` in the
    * scan node): at 100 TB this query reads row-group metadata instead
    * of data, turning a full-scan aggregate into a metadata-only
    * operation (the "how big is this table / what's the key range"
    * triage every pipeline runs first).
    *
    * Pushdown only exists on the DataSource V2 read path, so THIS scan
    * is built with parquet removed from `useV1SourceList` (the relation
    * choice is made eagerly at read time; the conf is restored right
    * after, so every other registered query keeps its V1 plan shape).
    * `aggregatePushdown=true` stays on the session — it is a no-op for
    * V1 scans and result-neutral everywhere. PlanSpec asserts the
    * pushed aggregates are in the scan.
    */
  val qAggPushdown = QueryDef(
    "q_agg_pushdown",
    (s, d) => v2ConfLock.synchronized {
      val key = "spark.sql.sources.useV1SourceList"
      val prev = s.conf.get(key)
      s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      s.conf.set(key,
        prev.split(",").map(_.trim).filterNot(_ == "parquet").mkString(","))
      try {
        Tables.lineitem(s, d)
          .agg(count(lit(1)).as("n_rows"),
            min(col("l_orderkey")).as("min_key"),
            max(col("l_orderkey")).as("max_key"))
      } finally s.conf.set(key, prev)
    },
    Some("""SELECT COUNT(*) AS n_rows, MIN(l_orderkey) AS min_key,
           MAX(l_orderkey) AS max_key FROM lineitem"""))

  /** 2D skyline (Pareto frontier): orders that are non-dominated on
    * (minimize price, maximize recency) — the multi-criteria shortlist
    * query ("cheap AND recent", no weighting needed). The naive form
    * is the O(n²) NOT-EXISTS dominance join the oracle runs; the
    * distributed plan exploits the 2D structure instead: a row
    * survives iff its date beats every strictly-cheaper row's max
    * date (prefix max over price order) and it carries its own price
    * group's max date.
    *
    * Scale shape (the q_decile two-phase trick): per-price max is a
    * hash aggregate on distinct prices; the global prefix max
    * decomposes into a per-partition running max (windows partitioned
    * by the range-partition id) plus a broadcast prefix over the P
    * per-partition maxima — the only single-partition window is over
    * P rows, never the data. The frontier join back to orders is a
    * plain equi-join on price.
    */
  val qSkyline = QueryDef(
    "q_skyline",
    (s, d) => {
      val nParts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val base = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_totalprice").as("price"),
        expr("unix_millis(cast(o_orderdate as timestamp))").as("dms"))
      // materialize the range partitioning ONCE (eager checkpoint):
      // the local-prefix and partition-prefix branches below both
      // consume _pid, and two independent range exchanges would
      // sample their boundaries independently — consistent on small
      // data, silently misaligned under real sampling at scale. The
      // checkpointed state is one row per DISTINCT price.
      val groups = base.groupBy("price").agg(max(col("dms")).as("gmax"))
        .repartitionByRange(nParts, col("price"))
        .sortWithinPartitions("price")
        .withColumn("_pid", spark_partition_id())
        .localCheckpoint(true)
      val wLocal = Window.partitionBy("_pid").orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
      val localPrev = groups.withColumn("_lprev", max(col("gmax")).over(wLocal))
      // P rows total: prefix max of earlier partitions, broadcast back
      val wPid = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
      val partPrefix = groups.groupBy("_pid").agg(max(col("gmax")).as("_pmax"))
        .withColumn("_pprev", max(col("_pmax")).over(wPid))
        .select("_pid", "_pprev")
      val frontier = localPrev.join(broadcast(partPrefix), "_pid")
        .withColumn("_prev", greatest(col("_lprev"), col("_pprev")))
        .filter(col("_prev").isNull || col("_prev") < col("gmax"))
        .select(col("price").as("f_price"), col("gmax"), col("_prev"))
      base.join(frontier, col("price") === col("f_price"))
        .filter(col("dms") === col("gmax") &&
          (col("_prev").isNull || col("_prev") < col("dms")))
        .select("o_orderkey", "price", "dms")
    },
    Some("""WITH base AS (
      SELECT o_orderkey, o_totalprice AS price,
             epoch_ms(o_orderdate) AS dms
      FROM orders)
    SELECT o_orderkey, price, dms FROM base b
    WHERE NOT EXISTS (
      SELECT 1 FROM base a
      WHERE a.price <= b.price AND a.dms >= b.dms
        AND (a.price < b.price OR a.dms > b.dms))
    ORDER BY o_orderkey"""))

  /** Bilateral trade volume (the TPC-H Q7 shape): revenue shipped
    * between two named nations, by direction and year. The interesting
    * plan property is the DOUBLE dimension role: nation joins the fact
    * twice (supplier side and customer side) under different aliases,
    * with the symmetric pair predicate applied across both — all four
    * dimensions broadcast, so the only shuffle is the lineitem⋈orders
    * key exchange and the final tiny group-by.
    */
  val q7 = QueryDef(
    "q7_nation_volume",
    (s, d) => {
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate").between(ts("1996-01-01"), ts("1997-12-31")))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast(LongType).as("l_year"))
        .agg(sumd(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    },
    Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      CAST(year(l_shipdate) AS BIGINT) AS l_year,
      ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem, orders, supplier, customer, nation n1, nation n2
    WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      AND o_custkey = c_custkey AND s_nationkey = n1.n_nationkey
      AND c_nationkey = n2.n_nationkey
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** Promotion revenue share (the TPC-H Q14 shape): conditional
    * aggregation — one pass computes both the filtered and the total
    * decimal sum, the ratio is 6-dp floor-quantized so a 1-ulp double
    * divergence cannot flip the hash (the [[graft.Det]] ratio rule).
    */
  val q14 = QueryDef(
    "q14_promo_revenue",
    (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1997-03-01"))
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(dec(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(lit(0.0)))).as("pr"),
          sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("tr"))
        .select((floor(lit(100.0) * col("pr").cast(DoubleType) / col("tr").cast(DoubleType) * 1e6) / 1e6)
          .as("promo_revenue"))
    },
    Some("""SELECT floor(100.0 *
        CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
          THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
        * 1e6) / 1e6 AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-03-01'"""))

  /** Disjunctive multi-clause predicate join (the TPC-H Q19 shape):
    * an OR of brand/size/quantity conjunctions. Catalyst extracts the
    * common `l_partkey = p_partkey` equi-key from under the OR (the
    * join stays hash-based, never nested-loop) and pushes the
    * residual disjunction into the join filter; part is broadcast.
    */
  val q19 = QueryDef(
    "q19_disjunctive",
    (s, d) => {
      val j = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      j.filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#15" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
        .agg(sumd(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    },
    Some(s"""SELECT ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey AND (
         (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
      OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))"""))

  /** Sole-returner suppliers (the TPC-H Q21 shape — EXISTS plus
    * NOT EXISTS correlated on the same fact): in finished
    * multi-supplier orders, count per supplier the lines where THIS
    * supplier returned ('R') and no other supplier on the order did.
    * Spark-first decorrelation: the EXISTS becomes a left-semi join,
    * the NOT EXISTS a left-anti join, both on the order key with the
    * supplier-inequality as a residual condition — two hash joins on
    * the same key, no correlated re-execution per row.
    */
  val q21 = QueryDef(
    "q21_waiting_supplier",
    (s, d) => {
      val l1 = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("k1"), col("l_suppkey").as("sk1"))
      val others = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("k2"), col("l_suppkey").as("sk2"))
      val othersR = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("k3"), col("l_suppkey").as("sk3"))
      l1.join(others, col("k1") === col("k2") && col("sk2") =!= col("sk1"), "left_semi")
        .join(othersR, col("k1") === col("k3") && col("sk3") =!= col("sk1"), "left_anti")
        .join(broadcast(Tables.supplier(s, d)), col("sk1") === col("s_suppkey"))
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), asc("s_name"))
        .limit(10)
    },
    Some("""SELECT s_name, COUNT(*) AS numwait
    FROM lineitem l1, orders, supplier
    WHERE l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
      AND l1.l_returnflag = 'R' AND l1.l_suppkey = s_suppkey
      AND EXISTS (SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10"""))

  /** Idle wealthy customers (the TPC-H Q22 shape — scalar aggregate
    * threshold + anti join): customers in three segments with no
    * FINAL-YEAR order (every synthetic customer has some order, so the
    * lapse is dated) whose balance exceeds the segment-population's
    * positive average. The threshold compare is CROSS-MULTIPLIED
    * (`bal * n_pos > sum_pos`, all DECIMAL) so no division touches
    * floating point anywhere — bit-deterministic across engines with
    * zero quantization. The one-row aggregate broadcasts into the
    * customer scan; the lapse check is a left-anti join on custkey
    * against the date-filtered orders.
    */
  val q22 = QueryDef(
    "q22_idle_customers",
    (s, d) => {
      val segs = Seq("BUILDING", "MACHINERY", "HOUSEHOLD")
      val cust = Tables.customer(s, d).filter(col("c_mktsegment").isin(segs: _*))
      val thresh = cust.filter(col("c_acctbal") > 0.0)
        .agg(sum(dec(col("c_acctbal"))).as("sum_pos"), count(lit(1)).as("n_pos"))
      cust
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= ts("2001-01-01")).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(thresh))
        .filter(dec(col("c_acctbal")) * col("n_pos") > col("sum_pos"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("numcust"), sumd(col("c_acctbal")).as("totacctbal"))
    },
    Some(s"""WITH pool AS (
      SELECT * FROM customer
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'HOUSEHOLD')),
    t AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS sum_pos, COUNT(*) AS n_pos
      FROM pool WHERE c_acctbal > 0.0)
    SELECT c_mktsegment AS segment, COUNT(*) AS numcust,
      ${dsum("c_acctbal")} AS totacctbal
    FROM pool, t
    WHERE CAST(c_acctbal AS DECIMAL(38,6)) * n_pos > sum_pos
      AND NOT EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY 1 ORDER BY 1"""))

  val defs: Seq[QueryDef] = Seq(
    q1, q3, q5, q6, q7, q14, q19, q21, q22,
    qMarketShare, qTopCustomers, qRollup, qCube, qExcept,
    qExists, qDistinctAgg, qTopKCustom, qAntiJoin, qDecile,
    qPivot, qUnpivot, qArgminJoin, qWindowFuncs, qGroupingSets,
    qCountDistribution, qJoinSalted, qFullOuter, qBloomPrune, qZorder,
    qAggPushdown, qSkyline)
}
