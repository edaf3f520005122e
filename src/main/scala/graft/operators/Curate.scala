package graft.operators

import graft.{QueryDef, ScaleGate, Tables}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation — the flagship composition:
  * quality scoring -> language ID -> duplicate-cluster removal (keep
  * the canonical doc of each near-dup cluster) -> within-doc
  * repetition gate -> benchmark-decontamination (the eval slice
  * itself AND every doc sharing a 5-gram with it are both excluded —
  * eval documents must never train) -> deterministic train split. The per-doc scores are computed in one
  * select over a single documents scan (shared Column builders with
  * the standalone oracle-verified queries); the dedup, repetition and
  * contamination branches join in — the whole thing is shuffle-
  * bounded by its dedup step.
  *
  * This is the query a user of the engine actually ships: "give me
  * the deduplicated, quality-filtered, decontaminated train shard of
  * this corpus."
  */
object Curate {

  private val MaxDupShingleFrac = 0.5

  /** [[curate]] body over an injectable keep-decision frame — the
    * seam [[Shared]] uses to feed a pre-computed pair graph's keep
    * decision into the pipeline instead of recomputing the whole
    * jaccard+CC branch; the registered query passes the fresh one.
    */
  private[operators] def curateFrom(
      s: org.apache.spark.sql.SparkSession, d: String,
      dupsIn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      // All per-doc scores in ONE select over one documents scan
      // (shared Column builders, same expressions the standalone
      // queries verify); the branch pipelines join in.
      val scored = Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.predictedLangCol(col("text")).as("predicted_lang"),
        TextAnalysis.qualityScoreCol(col("text")).as("quality_score"),
        Sampling.splitCol(col("text")).as("split"))
      val dups = dupsIn
        .select(col("doc_id"), col("keep"))
      val rep = TextAnalysis.repetition.fn(s, d)
        .select(col("doc_id"), col("dup_shingle_frac"))
      // exclude only the realistic 5-gram leakage hits: the 3-gram
      // level over-flags common phrasing (see Contamination scaladoc).
      // contaminatedDocIds(5) is the membership-only screen — the full
      // decontaminate query would also pay the 3-gram join and the
      // overlap-count aggregates this pipeline discards.
      val contaminated = Contamination.contaminatedDocIds(s, d, 5)
      scored
        .join(dups, Seq("doc_id"), "left")
        .join(rep, Seq("doc_id"), "left")
        .join(contaminated, Seq("doc_id"), "left_anti")  // eval-leakage screen
        // the benchmark slice itself never trains — it IS the eval set
        .filter(col("doc_id") % Contamination.BenchMod =!= 0)
        .filter(col("keep").isNull || col("keep"))       // canonical docs only
        .filter(col("quality_score") >= 0.5)             // quality gate
        .filter(coalesce(col("dup_shingle_frac"), lit(0.0)) < MaxDupShingleFrac)
        .filter(col("split") === "train")                // train shard
        .select("doc_id", "predicted_lang", "quality_score")
  }

  val curate = QueryDef(
    "pipeline_curate",
    (s, d) => curateFrom(s, d, Dedup.clusterKeep.fn(s, d)),
    Some {
      // Compose the component oracles as subqueries — each is the
      // exact SQL already hash-verified on its own.
      val qualitySql = TextAnalysis.quality.oracle.get
      val langSql = TextAnalysis.langId.oracle.get
      val dupsSql = Dedup.clusterKeep.oracle.get
      val splitSql = Sampling.hashSplit.oracle.get
      val repSql = TextAnalysis.repetition.oracle.get
      val decontSql = Contamination.decontaminate.oracle.get
      s"""SELECT d.doc_id, l.predicted_lang, q.quality_score
    FROM documents d
    JOIN ($qualitySql) q ON q.doc_id = d.doc_id
    JOIN ($langSql) l ON l.doc_id = d.doc_id
    JOIN ($splitSql) sp ON sp.doc_id = d.doc_id
    LEFT JOIN ($dupsSql) dup ON dup.doc_id = d.doc_id
    LEFT JOIN ($repSql) r ON r.doc_id = d.doc_id
    LEFT JOIN ($decontSql) c ON c.doc_id = d.doc_id AND c.n5_shingles_shared > 0
    WHERE (dup.keep IS NULL OR dup.keep)
      AND q.quality_score >= 0.5
      AND COALESCE(r.dup_shingle_frac, 0.0) < $MaxDupShingleFrac
      AND c.doc_id IS NULL
      AND d.doc_id % ${Contamination.BenchMod} <> 0
      AND sp.split = 'train'
    ORDER BY d.doc_id"""
    })

  /** [[curate]] hardened with the model-based gate: the NB margin
    * ([[Select.nbClassify]]) must CONFIRM the rule-based quality
    * score — the fastText-filter composition every production corpus
    * pipeline runs (rules prune the obvious, the classifier prunes
    * what rules can't see). Keeps each surviving doc's margin so the
    * downstream mixer can weight by classifier confidence.
    *
    * Scale: one extra doc_id equi-join over [[curate]]'s plan; the NB
    * branch's model state is vocabulary-sized (see Select). The
    * composed oracle joins the two independently hash-verified
    * subquery oracles, so a drift in EITHER branch fails the gate.
    */
  /** [[curateNb]] body over an injectable keep-decision frame — the
    * [[Shared]] seam, exactly as [[curateFrom]].
    */
  private[operators] def curateNbFrom(
      s: org.apache.spark.sql.SparkSession, d: String,
      dupsIn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val nb = Select.nbClassify.fn(s, d)
      .select(col("doc_id"), col("nb_margin"), col("nb_pred"))
    curateFrom(s, d, dupsIn)
      .join(nb, Seq("doc_id"))
      .filter(col("nb_pred"))
      .select("doc_id", "predicted_lang", "quality_score", "nb_margin")
  }

  val curateNb = QueryDef(
    "pipeline_curate_nb",
    (s, d) => curateNbFrom(s, d, Dedup.clusterKeep.fn(s, d)),
    Some {
      val curateSql = curate.oracle.get
      val nbSql = Select.nbClassify.oracle.get
      s"""SELECT c.doc_id, c.predicted_lang, c.quality_score, n.nb_margin
    FROM ($curateSql) c JOIN ($nbSql) n ON n.doc_id = c.doc_id
    WHERE n.nb_pred ORDER BY c.doc_id"""
    })

  /** [[curateEmb]] body over injectable component frames — the
    * [[Shared.EmbFamilySession]] seam (the session passes the blocked
    * stages over its cached corpus scan and the decontamination over
    * its cached pair stream); the registered query passes fresh ones.
    */
  private[operators] def curateEmbFrom(
      blockedIn: org.apache.spark.sql.DataFrame,
      deconIn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val keep = blockedIn.filter(col("keep"))
      .select(col("vec_id"), col("cell"), col("cos_centroid"))
    deconIn.filter(!col("contaminated"))
      .select(col("vec_id"), col("label"))
      .join(keep, Seq("vec_id"))
      .select("vec_id", "label", "cell", "cos_centroid")
  }

  /** The EMBEDDING-side flagship composition — the counterpart of
    * [[curate]] for a vector corpus, closing the gap that the text
    * side had a composed end-to-end proof (D16) while the embedding
    * side's components (registered blocked dedup D5d, embedding
    * decontamination D66, SemDeDup prune — D5d's own stage 3) were
    * only verified separately: "give me the deduplicated,
    * decontaminated training slice of this embedding corpus."
    *
    * Gates, each the literal registered component:
    *  1. CANONICAL + PRUNED ([[Similarity.blockedStages]], the
    *     registered 100-TB default): survivor of in-cell near-dup
    *     first-copy-wins AND of the SemDeDup dominance prune
    *     (`keep`) — over the family's augmentedHi benchmark corpus,
    *     restricted back to raw train ids by the decontamination join.
    *  2. UNCONTAMINATED ([[Similarity.decontaminateEmbedding]]): in
    *     the train slice (never the benchmark slice itself) and no
    *     benchmark vector within SemTau in its label block.
    *
    * Output: surviving train vectors with their audit columns
    * (label, Lloyd cell, centroid cosine) — the mixer's input, like
    * [[curate]]'s (lang, quality) row. The composed oracle joins the
    * two independently hash-verified component oracles, so drift in
    * EITHER component breaks this gate too.
    *
    * Scale: one vec_id equi-join over the two component plans — both
    * 100x-proven; the composition adds no new shuffle class. NOT
    * name-routed by [[graft.GraftSession]]: its dominant branch is the
    * blocked path, whose session routing was built and measured SLOWER
    * (r10, SCALE100_r09.json; ReuseBench main at commit 89505f5 — Lloyd
    * assignment, not the scan, dominates); the
    * [[Shared.EmbFamilySession.curatedEmb]] seam stays available for
    * callers whose caches are already hot.
    */
  val curateEmb = QueryDef(
    "pipeline_curate_emb",
    (s, d) => curateEmbFrom(
      Similarity.blockedStages(s, d)._1,
      Similarity.decontaminateEmbedding.fn(s, d)),
    Some {
      val blockedSql = Similarity.dedupEmbeddingBlocked.oracle.get
      val deconSql = Similarity.decontaminateEmbedding.oracle.get
      s"""SELECT t.vec_id, t.label, b.cell, b.cos_centroid
    FROM ($deconSql) t JOIN ($blockedSql) b ON b.vec_id = t.vec_id
    WHERE NOT t.contaminated AND b.keep
    ORDER BY t.vec_id"""
    })

  private val ShardT = 10000L
  private val ShardBinTokens = 512L

  /** The curated-doc token/hash projection both shard stages read:
    * doc_id, source, whitespace token count, and BOTH ordering hashes
    * (the budget fill's `budget:` salt and the packer's `pack:` salt
    * — the literal component salts, so the composed semantics on the
    * curated slice are exactly the registered components'), in one
    * documents scan.
    */
  private def shardBase(s: org.apache.spark.sql.SparkSession, d: String,
      curated: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .join(curated.select("doc_id"), "doc_id")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " "))
          .cast(org.apache.spark.sql.types.LongType).as("n_tokens"),
        TextAnalysis.hash60(concat(lit("budget:"), col("text"))).as("h"),
        TextAnalysis.hash60(concat(lit("pack:"), col("text"))).as("h_pack"))

  /** [[shard]] body over an injectable curated frame — the same seam
    * style as [[curateFrom]]; the registered query passes the fresh
    * pipeline_curate output.
    */
  private[operators] def shardFrom(
      s: org.apache.spark.sql.SparkSession, d: String,
      curated: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // Materialize once: the base projection embeds the WHOLE curate
    // pipeline and is consumed by four plan branches (budget masses,
    // the budget cumsum's offsets + local window, and through
    // `selected` the pack cumsum's pair again) — uncached, the curate
    // subtree re-evaluates per branch (measured 11.3 s vs 6.5 s for
    // curate alone at sf0.1). The cached stream is the narrow
    // (doc_id, source, n_tokens, h, h_pack) projection; lifetime is
    // the caller's, as for GraftOps.ntileByRange (Bench clears per
    // rep, Verify per query). Unlike the ranking layouts this persist
    // is a cost saving, not a consistency requirement — every stage
    // here is hash-deterministic.
    val base = shardBase(s, d, curated)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // budgets derive from the CURATED corpus (the semantics is "cut a
    // training shard from what curation kept", not from raw mass)
    val budgets = Sampling.sourceBudgets(base, ShardT)
    // Materialized once (r17): the second prefix sum below consumes
    // `selected` through TWO plan branches (its shard-offset aggregate
    // and its local window), and without the checkpoint the whole
    // first cumsum + budget join subtree executes twice per action
    // (measured: the post-base shard stages dropped ~2.8 s -> ~1.6 s
    // at sf0.1). `selected` is budget-bounded by construction
    // (sum(n_tokens) < ShardT + one doc per source), so the eager
    // materialization is small at ANY tier.
    val selected = Sampling.shardedCumTokens(base, "source")
      .join(broadcast(budgets), "source")
      .filter(col("cum_tokens") - col("n_tokens") < col("budget"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("h_pack").as("h"))
      .localCheckpoint(true)
    // pack the selected docs per source under the packer's own hash
    // order — a SECOND two-phase sharded prefix sum, same machinery
    Sampling.shardedCumTokens(selected, "source")
      .withColumn("start_offset",
        (col("cum_tokens") - col("n_tokens")) % ShardBinTokens)
      .withColumn("bin_id",
        expr(s"(cum_tokens - n_tokens) div $ShardBinTokens"))
      .select("doc_id", "source", "n_tokens", "bin_id", "start_offset")
  }

  /** The TRAINING-SHARD end-to-end composition — the one user workflow
    * the registry still verified only piecewise (r13 verdict #6):
    * curate (D16) → temperature token-budget fill per source (D22b,
    * budgets over the CURATED mass) → sequence-pack the selected docs
    * (D20's concat-and-chunk, per source). "Cut me a 10k-token
    * training shard from the curated corpus" — the query a training
    * team actually ships to the dataloader.
    *
    * Scale shape: one documents scan feeds both stage hashes; the two
    * prefix sums are the components' own two-phase sharded machinery
    * (no window ever spans a whole source — see
    * [[Sampling.shardedCumTokens]]); budgets broadcast at
    * sources-count size. The composed oracle nests the hash-verified
    * curate oracle and the components' literal window formulations,
    * so drift in ANY stage breaks the gate.
    */
  val shard = QueryDef(
    "pipeline_shard",
    (s, d) => shardFrom(s, d, curate.fn(s, d)),
    Some {
      val curateSql = curate.oracle.get
      val h60 = TextAnalysis.hash60Sql
      s"""WITH cur AS ($curateSql),
    docs AS (
      SELECT d.doc_id, d.source,
        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        ${h60("'budget:' || d.text")} AS h,
        ${h60("'pack:' || d.text")} AS hp
      FROM documents d JOIN cur c ON c.doc_id = d.doc_id),
    mass AS (SELECT source, SUM(n_tokens) AS mass FROM docs GROUP BY source),
    scored AS (SELECT source, SQRT(CAST(mass AS DOUBLE)) AS w_raw FROM mass),
    norm AS (SELECT ${graft.Det.dsum("w_raw")} AS denom FROM scored),
    budgets AS (
      SELECT source, CAST(FLOOR($ShardT * (w_raw / denom)) AS BIGINT) AS budget
      FROM scored, norm),
    cum AS (
      SELECT d.source, d.doc_id, d.n_tokens, d.hp, b.budget,
        CAST(SUM(d.n_tokens) OVER (PARTITION BY d.source ORDER BY d.h, d.doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      FROM docs d JOIN budgets b ON d.source = b.source),
    sel AS (
      SELECT source, doc_id, n_tokens, hp FROM cum
      WHERE cum_tokens - n_tokens < budget),
    packed AS (
      SELECT source, doc_id, n_tokens,
        CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY hp, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM sel)
    SELECT doc_id, source, n_tokens,
      CAST((cum_tokens - n_tokens) // $ShardBinTokens AS BIGINT) AS bin_id,
      CAST((cum_tokens - n_tokens) % $ShardBinTokens AS BIGINT) AS start_offset
    FROM packed ORDER BY doc_id"""
    })

  /** [[graft.ScaleGate]]'s invariant suite for [[shard]] — the laws
    * the composition guarantees at ANY tier, checkable from the
    * output alone (plus the component frames for the subset/budget
    * laws): checks on the `pipeline_shard` query.
    *
    * The pack CONTIGUITY law is the strong one: decode each doc's
    * global start position as bin_id * [[ShardBinTokens]] +
    * start_offset; per source, sorted starts must begin at 0 and each
    * next start must equal the previous start + its doc's n_tokens.
    * That pins the entire second prefix sum — the exact two-phase
    * ranking machinery whose AQE inconsistency produced the r13
    * 11th-decile bug — from observable output.
    */
  private[graft] def shardChecksFor(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[ScaleGate.Check] = {
    // ONE evaluation of the curate pipeline feeds all three consumers
    // (the shard under check, the subset law, and the budget-law
    // recomputation) — uncached, each would re-run the whole curate
    // plan, minutes apiece at the 100x gate tier (r14 review)
    val curated = curate.fn(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = shardFrom(s, d, curated).persist()
    try {
      val rows = out.count()
      val distinct = out.select("doc_id").distinct().count()
      val orphans = out.join(curated.select("doc_id"),
        Seq("doc_id"), "left_anti").count()
      val badOffset = out.filter(col("start_offset") < 0 ||
        col("start_offset") >= ShardBinTokens || col("bin_id") < 0).count()
      // pack contiguity per source (selected-per-source is budget-
      // bounded, so the collect is small at any tier)
      val contViolations = out
        .select(col("source"),
          (col("bin_id") * ShardBinTokens + col("start_offset")).as("start"),
          col("n_tokens"))
        .collect().groupBy(_.getString(0)).toSeq.flatMap { case (src, rs) =>
          val spans = rs.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
          val startsAtZero =
            if (spans.head._1 != 0L)
              Seq(s"$src: first start ${spans.head._1} != 0") else Seq.empty
          val gaps = spans.sliding(2).collect {
            case Array((s0, n0), (s1, _)) if s0 + n0 != s1 =>
              s"$src: start $s1 != $s0 + $n0"
          }
          startsAtZero ++ gaps
        }
      // budget law: per source, selected tokens reach the budget
      // (unless the source exhausted) and overshoot by less than one
      // doc (the greedy fill keeps exactly the crossing doc)
      val base = shardBase(s, d, curated)
      val budgets = Sampling.sourceBudgets(base, ShardT)
      val curatedPerSource = base.groupBy("source")
        .agg(count(lit(1)).as("n_curated"))
      val budgetViolations = out.groupBy("source")
        .agg(sum("n_tokens").as("t"), count(lit(1)).as("n_sel"),
          max("n_tokens").as("max_n"))
        .join(budgets, "source").join(curatedPerSource, "source")
        .collect().flatMap { r =>
          val (src, t, nSel, maxN, budget, nCur) =
            (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
              r.getLong(4), r.getLong(5))
          val reached = t >= budget || nSel == nCur
          val bounded = t < budget + maxN
          if (reached && bounded) None
          else Some(s"$src: tokens=$t budget=$budget selected=$nSel " +
            s"curated=$nCur max_doc=$maxN")
        }
      def law(inv: String, pass: Boolean, detail: String) =
        ScaleGate.Check(shard.name, inv, pass, detail)
      Seq(
        law("every shard doc is curated (shard ⊆ pipeline_curate), one row each",
          rows == distinct && orphans == 0,
          s"rows=$rows distinct=$distinct orphans=$orphans"),
        law(s"pack offsets decode: 0 <= start_offset < $ShardBinTokens, bin_id >= 0",
          badOffset == 0, s"violations=$badOffset"),
        law("per-source packed spans are contiguous from 0 (the full prefix-sum law)",
          contViolations.isEmpty, contViolations.take(5).mkString("; ")),
        law("per-source fill reaches its budget and overshoots by < one doc",
          budgetViolations.isEmpty, budgetViolations.take(5).mkString("; ")))
    } finally { out.unpersist(); curated.unpersist(); () }
  }

  val defs: Seq[QueryDef] = Seq(curate, curateNb, curateEmb, shard)
}
