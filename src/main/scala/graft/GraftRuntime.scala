package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.graft.Bridge

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
  *  - [[sessionConfs]] are the session settings both kinds of session
  *    run with.
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

  /** Session settings every graft session runs with. [[plans.GraftOps.install]]
    * and [[submitted]] apply them through `Bridge.setUnlessSet`, so a
    * key the session already sets explicitly (a builder `.config`, a
    * spark-submit `--conf`, an earlier `spark.conf.set`) keeps its
    * value.
    *
    * `spark.sql.artifact.isolation.enabled=false`: Spark 4.1 defaults
    * it to true, and every streaming query starts on a cloned session
    * with a new session UUID. Executors then build a fresh
    * `IsolatedSessionState` per query start: a child-first class
    * loader over an `ExecutorClassLoader` that asks the driver over RPC
    * for every class it cannot find. `CodeGenerator` caches compiled
    * classes by (context class loader, source), so each query start,
    * and each `foreachBatch` batch of the new query, recompiled every
    * whole-stage, projection and predicate class the JVM already held.
    * graft registers no session artifacts (no `addArtifact`, `addJar`
    * or `addFile`), so the isolation protects nothing here.
    * `CodegenReuseSpec` pins the reuse.
    *
    * `fs.AbstractFileSystem.file.impl=graft.sources.GraftLocalFs`:
    * `file://` paths opened through a `FileContext` built from the
    * session's Hadoop conf (every streaming checkpoint manager builds
    * its own that way) get Hadoop's `LocalFs` with its `chmod` and
    * `readlink` done in process instead of by a forked process per
    * created file and per rename. `LocalFsSpec` pins the parity and
    * the missing forks. Other schemes are unaffected. A
    * `spark.hadoop.`-prefixed setting of the key also counts as set.
    *
    * `spark.sql.streaming.stateStore.providerClass` = RocksDB, with
    * `…rocksdb.changelogCheckpointing.enabled=true` (Spark 4.1 defaults
    * to the heap-backed HDFS provider and to full snapshots): every
    * stateful query (`enrich`, the windowed aggregates, the
    * transformWithState operators, which need RocksDB) keeps its state
    * off the JVM heap and uploads only each batch's changelog. The
    * provider is pinned in a query's checkpoint (Spark lists it among
    * the offset log's relevant confs), so a query started under another
    * provider resumes under that one. `RocksDbStateSpec` pins both.
    */
  val sessionConfs: Seq[(String, String)] = Seq(
    "spark.sql.artifact.isolation.enabled" -> "false",
    "fs.AbstractFileSystem.file.impl" -> classOf[sources.GraftLocalFs].getName,
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

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
    * `spark.sql.extensions` all come from the submit), named `appName`,
    * with [[sessionConfs]] applied where the submit left them unset.
    */
  def submitted(appName: String): SparkSession = {
    val spark = SparkSession.builder().appName(appName).getOrCreate()
    Bridge.setUnlessSet(spark, sessionConfs)
    spark
  }

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
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m"
}
