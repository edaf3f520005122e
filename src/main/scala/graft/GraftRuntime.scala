package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.functions.GraftFunctions

/** The deployment layer in one place: the catalog of everything graft
  * adds to a Spark session, and the two ways a graft session is built.
  *
  *  - The catalog (SQL functions, planner strategies, optimizer rules)
  *    is injected declaratively by [[GraftExtensions]]
  *    (`spark.sql.extensions=graft.GraftExtensions`) and at runtime by
  *    [[plans.GraftOps.install]]. Both read these lists; nothing else
  *    names an entry, so the two paths cannot drift apart.
  *  - [[local]] builds the local-mode session every main and the tests
  *    run on; [[submitted]] picks up the session spark-submit
  *    configured (the k8s mains).
  */
object GraftRuntime {

  /** A SQL function: its name, the class `DESCRIBE FUNCTION` reports,
    * and the builder that turns the call's arguments into the node.
    */
  final case class SqlFunction(name: String, infoClass: String,
      builder: Seq[Expression] => Expression) {
    def identifier: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(infoClass, name)
  }

  val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_dot",
      classOf[functions.LongArrayDot].getName, GraftFunctions.dotBuilder),
    SqlFunction("graft_rolling_minhash",
      classOf[functions.RollingMinHash].getName, GraftFunctions.rollingMinHashBuilder),
    SqlFunction("graft_approx_distinct",
      classOf[functions.HllSketchAgg].getName, GraftFunctions.approxDistinctBuilder),
    SqlFunction("graft_approx_quantiles",
      classOf[functions.DdSketchAgg].getName, GraftFunctions.approxQuantilesBuilder),
    SqlFunction("graft_heavy_hitters",
      classOf[functions.FreqSketchAgg].getName, GraftFunctions.heavyHittersBuilder),
    SqlFunction("graft_bloom_agg",
      "org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate",
      GraftFunctions.bloomAggBuilder),
    SqlFunction("graft_bloom_contains",
      "org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain",
      GraftFunctions.bloomContainsBuilder),
    SqlFunction("graft_word_ngrams",
      classOf[functions.WordNgrams].getName, GraftFunctions.wordNgramsBuilder),
    SqlFunction("graft_ln9", "graft.operators.Select", GraftFunctions.ln9Builder))

  val strategies: Seq[SparkStrategy] =
    Seq(plans.TopKStrategy, plans.AsofJoinStrategy, plans.RangeJoinStrategy)

  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(plans.InferTopKPerKey)

  /** Local-mode session with the catalog installed: `local[cpus]`, one
    * shuffle partition per core, UTC session time, parquet
    * TIMESTAMP(NANOS) read as Long (the events tables carry it and
    * Spark 4 rejects it otherwise; callers convert explicitly), no UI.
    * `confs` are added to the builder on top.
    */
  def local(cpus: Int, confs: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    plans.GraftOps.install(spark)
    spark
  }

  /** The session spark-submit configured (master, confs and
    * `spark.sql.extensions` all come from the submit), named `appName`.
    */
  def submitted(appName: String): SparkSession =
    SparkSession.builder().appName(appName).getOrCreate()

  /** r18: let AQE convert sort-merge joins to shuffled-hash joins at
    * runtime when EVERY post-shuffle partition is under this bound
    * (guide §3.1; default 0 = never). Bench and Verify both pass it to
    * [[local]], so correctness verifies the plans the bench executes.
    * Runtime-size-gated, so it is scale-safe by construction — a
    * partition too big for a per-task hash map simply stays
    * sort-merge, and the bound is a per-task memory cap a production
    * executor budget absorbs (64 MB/task vs the >= 1 GB/core norm).
    * LOCALLY INERT, kept for the cluster: at sf0.1 every convertible
    * join goes BROADCAST at runtime instead, so the threshold never
    * fires — final executed plans are byte-identical at 0 vs 256m
    * (plans/r18), and a position-balanced interleaved A/B over the
    * seven hottest pair-join queries reads a wash (±6–9% both
    * directions). An earlier fixed-order A/B had credited this conf
    * with −24–40%; that was measured to be second-position cache/JIT
    * warmth (the A/A control in OPTIMIZATION_r18.md), not the conf. On
    * a cluster, where build sides exceed the broadcast cap but fit a
    * per-task map, the conversion replaces two sorts per join — the
    * guide-§3.1 case this posture is for.
    *
    * Not part of [[local]]: the test session keeps the default, since
    * specs that disable broadcast joins assert SortMergeJoin plans.
    */
  val ShjThreshold: (String, String) =
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" ->
      sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "64m")
}
