package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** graft's one shim onto Spark internals (classic mode).
  *
  * Spark 4's public `Column` is Connect-agnostic and no longer exposes
  * `.expr`; the conversion lives in `private[sql]` ExpressionUtils, so
  * this shim sits in the sql package namespace — the same pattern
  * public Spark extension libraries use for Dataset/plan access. Being
  * inside `org.apache.spark`, it also reaches the `private[spark]`
  * core members graft needs (the listener bus).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Lazy wrapper (ColumnNodeExpression) — resolved by the analyzer
    * inside standard operators; fine for expression trees consumed by
    * built-in nodes.
    */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER conversion for expressions embedded in CUSTOM logical
    * nodes: the analyzer's generic resolution never rewrites the lazy
    * ColumnNodeExpression placeholder there (it is Unevaluable and
    * fails at runtime), so convert up front.
    */
  def eagerExpression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** Analyzed logical plan of a DataFrame (classic mode). */
  def logicalPlan(df: org.apache.spark.sql.Dataset[_]): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** Builds a DataFrame over a custom logical plan (classic mode). */
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Session-level Hadoop configuration (spark.hadoop.* + per-session
    * overrides) — what built-in sources resolve filesystems with;
    * `sessionState` is private[sql], hence the bridge.
    */
  def newHadoopConf(spark: org.apache.spark.sql.SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  /** Sets each `(key, value)` the session does not already set
    * explicitly (builder `.config`, `--conf`, `spark.conf.set`); a key
    * it sets keeps its value. A Hadoop key also counts as set when its
    * `spark.hadoop.`-prefixed form is, the only form of it spark-submit
    * passes on. `RuntimeConfig.contains` is private[sql].
    */
  def setUnlessSet(spark: org.apache.spark.sql.SparkSession,
      confs: Seq[(String, String)]): Unit =
    confs.foreach { case (k, v) =>
      if (!spark.conf.contains(k) && !spark.conf.contains("spark.hadoop." + k)) spark.conf.set(k, v)
    }

  /** Runtime registration of a SQL function. Idempotent: a name the
    * session already resolves (registered earlier, or injected by
    * `spark.sql.extensions`) is skipped, not replaced.
    */
  def addFunction(spark: org.apache.spark.sql.SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    if (!registry.functionExists(name)) registry.registerFunction(name, info, builder)
  }

  /** Runtime registration of an extra planner strategy (idempotent). */
  def addStrategy(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy)) {
      exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }

  /** Runtime registration of an extra optimizer rule (idempotent).
    * Runs in the "User Provided Optimizers" batch — after Spark's own
    * window-group-limit inference, which registered rules may need to
    * account for.
    */
  def addOptimization(spark: org.apache.spark.sql.SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(rule)) {
      exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
  }

  /** Blocks until every queued listener event has been delivered.
    * `listenerBus` is private[spark], and benchmark metric attribution
    * needs a deterministic flush point between queries — polling or
    * sleeping would race the event queue.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
