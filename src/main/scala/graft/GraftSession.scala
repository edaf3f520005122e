package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Graph, Shared}

/** Name-routed query facade with automatic pair-graph hoisting — the
  * orchestrator contract SURVEY §8 calls for on top of
  * [[graft.operators.Shared]].
  *
  * `SparkEntry.queries` treats every query as independent (the honest
  * per-query bench/verify contract), which means a pipeline that runs
  * several of the near-dup family recomputes the banded pair graph
  * each time — measured at ~47% of the seven-query family's wall time
  * (SURVEY §5). [[Shared]] fixes that for callers willing to program
  * against its session objects; `GraftSession` removes even that
  * call-site discipline: ask for queries BY NAME, exactly as the
  * driver does, and any member of the pair-graph family is silently
  * routed through a memoized [[Shared]] session — same rows as the
  * registered query (SharedPairsSpec/GraftSessionSpec-asserted), the
  * expensive blocking join computed once per session. Names outside
  * the family fall through to `SparkEntry.queries` untouched.
  *
  * The facade is still OPT-IN (construct one per pipeline run);
  * nothing here changes what Verify/Bench execute.
  *
  * Not thread-safe: one session per pipeline thread (the underlying
  * caches are per-DataFrame, so two sessions coexist safely).
  *
  * A pipeline that knows its ngram-family consumer set up front should
  * DECLARE it (`ngramConsumers`): a keep-only slice (e.g. just the two
  * curate pipelines) then skips the raw-pair persist via
  * [[Shared.pairGraphFor]] — at worst break-even at any member count,
  * where the undeclared session's conservative persist made a 2-member
  * slice 22% slower at 100x. Requesting an undeclared raw-pair member
  * afterwards fails loudly rather than silently recomputing.
  */
final class GraftSession(val spark: SparkSession, val sfDir: String,
    ngramConsumers: Option[Set[String]] = None,
    embFamConsumers: Option[Set[String]] = None)
    extends AutoCloseable {

  private var ngramOpt: Option[Shared.PairGraphSession] = None
  private var embOpt: Option[Shared.EmbPairSession] = None
  private var embFamOpt: Option[Shared.EmbFamilySession] = None

  private[graft] def ngram: Shared.PairGraphSession = {
    if (ngramOpt.isEmpty) ngramOpt = Some(ngramConsumers match {
      case Some(c) => Shared.pairGraphFor(spark, sfDir, c)
      case None    => Shared.pairGraph(spark, sfDir)
    })
    ngramOpt.get
  }

  private def emb: Shared.EmbPairSession = {
    if (embOpt.isEmpty) embOpt = Some(Shared.embPairGraph(spark, sfDir))
    embOpt.get
  }

  private def embFam: Shared.EmbFamilySession = {
    if (embFamOpt.isEmpty) embFamOpt = Some(embFamConsumers match {
      case Some(c) => Shared.embFamilyFor(spark, sfDir, c)
      case None    => Shared.embFamily(spark, sfDir)
    })
    embFamOpt.get
  }

  /** The registered query `name`, with the pair-graph family served
    * from this session's memoized graphs. Unknown names throw the
    * same NoSuchElementException the raw registry would.
    */
  def query(name: String): DataFrame = name match {
    case "dedup_cluster_keep"   => ngram.clusterKeep
    case "corpus_dup_profile" =>
      operators.Dedup.dupProfileFrom(spark, sfDir, ngram.clusterKeep)
    case "pipeline_curate"      => ngram.curated
    case "pipeline_curate_nb"   => ngram.curatedNb
    case "pipeline_shard"       => ngram.curatedShard
    case "graph_triangles"      => ngram.triangles
    case "graph_pagerank"       => Graph.pageRankFrom(ngram.pairs)
    case "graph_label_prop"     => Graph.labelPropFrom(ngram.pairs)
    case "dedup_keep_rank"      => Graph.keepRankFrom(ngram.pairs)
    case "dedup_embedding"      => emb.pairs
    case "dedup_embedding_keep" => emb.keep
    case "dedup_semantic_prune"     => embFam.semanticPrune
    case "emb_centroid"             => embFam.centroid
    case "emb_knn_graph"            => embFam.knn
    case "mine_hard_negatives"      => embFam.hardNegatives
    case "knn_score_diffusion"      => embFam.diffusion
    case "decontaminate_embedding"  => embFam.decontaminate
    // dedup_embedding_blocked deliberately falls through: routing it
    // over the session's persisted scan was built and MEASURED SLOWER
    // (r10, SCALE100_r09.json: 3.14 -> 3.93 s at sf0.1, -14% at 100x;
    // the ReuseBench main that measured it is at commit 89505f5) — its
    // dominant cost is Lloyd assignment + banding, not the corpus
    // scan, so cache reuse saves nothing while InMemoryTableScan of
    // array rows loses to the vectorized parquet re-read. The seam
    // stays available as Shared.EmbFamilySession.blocked.
    case other                  => SparkEntry.queries(other)(spark, sfDir)
  }

  /** Release every pair-graph cache this session materialized. */
  override def close(): Unit = {
    ngramOpt.foreach(_.release())
    embOpt.foreach(_.release())
    embFamOpt.foreach(_.release())
    ngramOpt = None
    embOpt = None
    embFamOpt = None
  }
}

object GraftSession {
  /** Run `body` with a session, releasing its caches afterwards. */
  def withSession[A](spark: SparkSession, sfDir: String)(
      body: GraftSession => A): A = {
    val s = new GraftSession(spark, sfDir)
    try body(s) finally s.close()
  }

  /** [[withSession]] with a DECLARED ngram-family consumer set — a
    * keep-only slice then skips the raw-pair persist (see
    * [[graft.operators.Shared.pairGraphFor]]).
    */
  def withSession[A](spark: SparkSession, sfDir: String,
      ngramConsumers: Set[String])(body: GraftSession => A): A = {
    val s = new GraftSession(spark, sfDir, Some(ngramConsumers))
    try body(s) finally s.close()
  }
}
