package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every operator module exposes `defs: Seq[QueryDef]`; this object
  * flattens them into the `queries` / `oracleSql` maps the driver
  * consumes (`Verify` at sf0.01 vs the DuckDB oracle, `Bench` at
  * sf0.1).
  *
  * Build-concurrency note: query BUILDERS are assumed to run one at a
  * time per session (Verify/Bench/PlanPeek all iterate sequentially).
  * The one builder that mutates session conf (q_agg_pushdown's V2-scan
  * window, Analytics.v2ConfLock) self-serializes, but a harness that
  * builds OTHER queries concurrently during that window could pick up
  * a V2 parquet scan — keep builds sequential.
  */
object SparkEntry {

  private def allDefs: Seq[QueryDef] = {
    val defs =
      operators.Analytics.defs ++ operators.EventPipeline.defs ++
        operators.TextAnalysis.defs ++ operators.Dedup.defs ++
        operators.Similarity.defs ++ operators.Multimodal.defs ++
        operators.Temporal.defs ++ operators.Stats.defs ++
        operators.Sampling.defs ++ operators.Curate.defs ++
        operators.Contamination.defs ++ operators.Corpus.defs ++
        operators.Patterns.defs ++ operators.Bpe.defs ++ operators.Graph.defs ++
        operators.Substring.defs ++ operators.Select.defs ++ operators.Tpch.defs
    val dupes = defs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dupes.isEmpty,
      s"duplicate query names would silently shadow operators: ${dupes.mkString(", ")}")
    defs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Analytics.q1.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(q => q.name -> q.fn).toMap

  /** Full definitions, keyed by name — the machine-readable registry a
    * consumer should steer by: a def with `supersededBy = Some(k)` is
    * a correct baseline whose cost law breaks down at corpus scale;
    * `k` names the registered replacement (OperatorSpec asserts the
    * pointers resolve and mirror SURVEY §2's SUPERSEDED markers).
    */
  def defsByName: Map[String, QueryDef] =
    allDefs.map(q => q.name -> q).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
