package graft.operators

import org.apache.spark.sql.DataFrame
import graft.QueryDef
import org.apache.spark.sql.functions._

/** Graph-motif operators over the near-dup pair graph (the edge set
  * [[Dedup.ngramJaccard]] emits, also consumed by the
  * connected-components keep decision).
  *
  * Triangle counting is the standard cluster-quality diagnostic for a
  * dedup graph: near-dup clusters should be near-cliques, so a low
  * triangle count relative to wedge count (low clustering coefficient)
  * flags chains of borderline pairs that CC would over-merge.
  */
object Graph {

  /** Orient each undirected edge low -> high by (degree, id) — the
    * classic skew guard for distributed triangle counting: after
    * orientation, per-vertex OUT-degree is bounded by ~sqrt(2|E|)
    * regardless of raw degree (a hub of raw degree 10^6 has out-degree
    * 0 unless its neighbour is an even bigger hub), so the wedge
    * self-join's per-key fan-out is bounded even on boilerplate-heavy
    * corpora where the pair graph grows hub vertices. `dord` carries
    * the endpoint's (deg, id) rank so wedge endpoints can be ordered
    * in the same total order without re-joining degrees.
    */
  private[graft] def orientEdges(e: DataFrame): DataFrame = {
    val deg = e.select(col("i").as("node"))
      .unionByName(e.select(col("j").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val iOrd = struct(col("di").as("d"), col("i").as("n"))
    val jOrd = struct(col("dj").as("d"), col("j").as("n"))
    val iLower = iOrd < jOrd
    e.join(deg.select(col("node").as("i"), col("deg").as("di")), "i")
      .join(deg.select(col("node").as("j"), col("deg").as("dj")), "j")
      .select(
        when(iLower, col("i")).otherwise(col("j")).as("src"),
        when(iLower, col("j")).otherwise(col("i")).as("dst"),
        when(iLower, jOrd).otherwise(iOrd).as("dord"))
  }

  /** Wedges over the ORIENTED edges: two out-edges of the same center,
    * endpoints ordered by the global (deg, id) total order so each
    * unordered wedge appears exactly once. On a star graph every edge
    * orients leaf -> hub, so the hub contributes ZERO wedges (the
    * un-oriented formulation would emit C(deg, 2) of them) —
    * spec-asserted on a 1000-leaf hub in GraphSpec.
    */
  private[graft] def orientedWedges(directed: DataFrame): DataFrame = {
    val e1 = directed.select(col("src"), col("dst").as("x"), col("dord").as("xo"))
    val e2 = directed.select(col("src"), col("dst").as("y"), col("dord").as("yo"))
    e1.join(e2, Seq("src")).filter(col("xo") < col("yo")).select("src", "x", "y")
  }

  /** [[triangles]] body over an injectable pair graph (`i` < `j`
    * columns) — the seam that lets a [[Shared]] session feed the
    * cached pairs instead of recomputing the jaccard blocking join;
    * the registered query passes the fresh pairs.
    *
    * The pair graph is localCheckpoint'd first: degrees, both wedge
    * sides and the closing-edge probe all consume it, and without the
    * materialization each consumer would re-run the whole upstream
    * shingle pipeline.
    */
  private[graft] def trianglesFrom(pairsIn: DataFrame): DataFrame = {
    val e = pairsIn.select("i", "j").localCheckpoint(true)
    // The ORIENTED edges are what all three consumers (both wedge
    // sides + the closing-edge probe) actually read — checkpointing
    // only `e` would re-run orientEdges' degree aggregate + two
    // degree joins three times in one action. Edge-sized frame, one
    // materialization.
    val directed = orientEdges(e).localCheckpoint(true)
    // In the (deg, id) total order x precedes y, so the closing x-y
    // edge — if present — is oriented x -> y: one left-semi equi-join.
    val closing = directed.select(col("src").as("x"), col("dst").as("y"))
    orientedWedges(directed)
      .join(closing, Seq("x", "y"), "left_semi")
      // emit id-sorted (a, b, c), the orientation-invariant canonical
      // form the oracle produces
      .select(array_sort(array(col("src"), col("x"), col("y"))).as("t"))
      .select(col("t").getItem(0).as("a"), col("t").getItem(1).as("b"),
        col("t").getItem(2).as("c"))
  }

  /** Triangle enumeration via degree-oriented wedge counting: orient
    * each edge low -> high by (degree, id), self-join out-edges on the
    * shared center to build each wedge once, close with a left-semi
    * equi-join on the oriented endpoint pair. Every join is an
    * equi-join on vertex ids — no cross product — and the orientation
    * bounds per-key wedge fan-out by max out-degree ~ sqrt(2|E|), so
    * hub vertices (boilerplate-heavy corpora) cannot skew-bomb the
    * shuffle. The triangle set is orientation-invariant, so the oracle
    * is the plain id-ordered wedge SQL.
    */
  val triangles = QueryDef(
    "graph_triangles",
    (s, d) => trianglesFrom(Dedup.ngramJaccard.fn(s, d)),
    Some(Dedup.ngramJaccard.oracle.map { jaccardSql =>
      val inner = jaccardSql.replace("ORDER BY i, j", "")
      s"""WITH pairs AS ($inner)
    SELECT w.a, w.b, w.c FROM (
      SELECT ab.i AS a, ab.j AS b, bc.j AS c
      FROM pairs ab JOIN pairs bc ON ab.j = bc.i) w
    WHERE EXISTS (SELECT 1 FROM pairs ac WHERE ac.i = w.a AND ac.j = w.c)
    ORDER BY a, b, c"""
    }.get))

  private val PrIters = 10
  private val PrScale = 1000000000L // rank fixed-point: 1.0 = 1e9
  private val PrTeleport9 = 150000000L // (1 - 0.85) * 1e9

  /** [[pageRank]] body over an injectable pair graph — same seam as
    * [[trianglesFrom]]. Fixed-point integer power iteration:
    *
    *   r_{k+1}(v) = 0.15·1e9 + Σ_{u~v} ((85·r_k(u)) div 100) div deg(u)
    *
    * Every step is integer multiply/floor-divide/sum on positives —
    * bit-identical across engines and partitionings — so ranks
    * hash-match an unrolled-CTE oracle exactly; no float tolerance,
    * no convergence probe (fixed [[PrIters]] rounds, so the driver
    * runs zero extra jobs, unlike CC's data-dependent loop).
    */
  private[graft] def pageRankFrom(pairsIn: DataFrame): DataFrame =
    pageRankOn(pairsIn.select("i", "j").localCheckpoint(true))

  /** [[pageRankFrom]] over an ALREADY-materialized pair frame —
    * [[keepRankFrom]] checkpoints the pairs once for both loops, and
    * re-checkpointing here would eagerly materialize a second
    * identical copy of the edge list per run.
    */
  /** Rounds per lineage checkpoint in the rank loop — r17: the r16
    * shape checkpointed EVERY round (10 eager jobs, each paying AQE
    * replanning + materialization of the node-sized rank vector);
    * letting [[PrCheckpointEvery]] rounds chain in one job keeps the
    * same exchanges (one join + one aggregate per round) while paying
    * the barrier once per batch. Measured (interleaved A/B at sf0.1,
    * identical output collect-compared): every-round 1.54 s, every-2
    * 1.40 s, every-5 0.94 s, every-10 1.21 s (one 10-deep plan grows
    * past the win) — 5 is the knee, and lineage depth stays bounded
    * at 5 rounds of join+aggregate at any scale.
    */
  private val PrCheckpointEvery = 5

  private def pageRankOn(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val edges = pairs.select(col("i").as("u"), col("j").as("v"))
      .unionByName(pairs.select(col("j").as("u"), col("i").as("v")))
    val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
    val e = edges.join(deg, "u").localCheckpoint(true)
    var ranks = e.select(col("u").as("node")).distinct()
      .withColumn("rank9", lit(PrScale)).localCheckpoint(true)
    for (it <- 0 until PrIters) {
      // 85 * rank9 runs in DECIMAL(38,0) (the q_anomaly_hourly rule):
      // a hub absorbing most of a 2e8-node graph's rank mass puts
      // 85 * rank9 past 2^63, where Spark's Long wraps silently and
      // DuckDB's BIGINT errors — decimal keeps both engines exact.
      // Remaining bound: the SUM itself stays in Long while total
      // rank mass < 2^63, i.e. graphs under ~9e9 nodes.
      val next = e.join(ranks, e("u") === ranks("node"))
        .groupBy(col("v"))
        .agg((lit(PrTeleport9) +
          sum(expr(
            "((85 * CAST(rank9 AS DECIMAL(38,0))) div 100) div deg"))).as("rank9"))
        .select(col("v").as("node"), col("rank9"))
      ranks =
        if ((it + 1) % PrCheckpointEvery == 0 || it == PrIters - 1)
          next.localCheckpoint(true)
        else next
    }
    ranks.select(col("node").as("doc_id"), col("rank9"),
      (col("rank9").cast(DoubleType) / 1e9).as("rank"))
  }

  /** PageRank centrality over the near-dup pair graph — the canonical-
    * document selector by AUTHORITY rather than min-id: within a dup
    * cluster the highest-rank doc is the one most other dups point at
    * through shared content, the natural "keep the original" choice
    * when ids carry no meaning (min-id keep is arbitrary under
    * re-sharding; rank is intrinsic to the graph). Undirected edges
    * become both directions; 10 damped (0.85) power-iteration rounds
    * in 1e-9 fixed point.
    *
    * Scale: each round is ONE edge⋈rank equi-join plus a node-keyed
    * aggregate — the canonical distributed PageRank; state is the
    * node-sized rank vector, localCheckpoint'd per round to truncate
    * lineage (the CC discipline). Rounds are FIXED, so the whole query
    * is 10 deterministic stages with no driver-side convergence jobs.
    * Only docs in the pair graph rank (docs with no near-dups have no
    * edges — rank them trivially 1.0 downstream if needed).
    */
  val pageRank = QueryDef(
    "graph_pagerank",
    (s, d) => pageRankFrom(Dedup.ngramJaccard.fn(s, d)),
    Some(Dedup.ngramJaccard.oracle.map { jaccardSql =>
      val inner = jaccardSql.replace("ORDER BY i, j", "")
      val iters = (1 to PrIters).map { k =>
        s"""r$k AS (
        SELECT e.v AS node, CAST($PrTeleport9
          + SUM(CAST(((85 * CAST(r${k - 1}.rank9 AS HUGEINT)) // 100)
                // e.deg AS BIGINT)) AS BIGINT) AS rank9
        FROM e JOIN r${k - 1} ON r${k - 1}.node = e.u GROUP BY e.v)"""
      }.mkString(",\n      ")
      s"""WITH pairs AS ($inner),
      edges AS (
        SELECT i AS u, j AS v FROM pairs
        UNION ALL SELECT j AS u, i AS v FROM pairs),
      deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
      e AS (SELECT edges.u, edges.v, deg.deg FROM edges JOIN deg USING (u)),
      r0 AS (
        SELECT DISTINCT u AS node, CAST($PrScale AS BIGINT) AS rank9
        FROM edges),
      $iters
    SELECT node AS doc_id, rank9, CAST(rank9 AS DOUBLE) / 1e9 AS rank
    FROM r$PrIters ORDER BY doc_id"""
    }.get))

  /** [[keepRank]] body over an injectable pair graph. The pairs are
    * checkpointed ONCE and feed both the CC labeling and the rank
    * loop — neither recomputes the jaccard blocking join.
    */
  private[graft] def keepRankFrom(pairsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = pairsIn.select("i", "j").localCheckpoint(true)
    val cc = Dedup.clusterKeepFrom(pairs)
      .select(col("doc_id"), col("canonical_id").as("cluster_id"))
    val pr = pageRankOn(pairs).select(col("doc_id"), col("rank9"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("rank9").desc, col("doc_id"))
    cc.join(pr, "doc_id")
      .withColumn("keep_rank", row_number().over(w) === 1)
      .select("doc_id", "cluster_id", "rank9", "keep_rank")
  }

  /** Authority-based canonical selection — [[pageRank]]'s consumer:
    * connected components give the cluster, PageRank picks its
    * survivor (max rank, tie min id) instead of `dedup_cluster_keep`'s
    * arbitrary min-id. Within a near-dup cluster the rank-max doc is
    * the one sharing content with the most other members — the best
    * "original" proxy the graph alone can give.
    *
    * Plan: ONE checkpointed pair graph feeds both loops (CC labels +
    * 10 rank rounds); the keep decision is a single window over the
    * cluster key (one exchange). The oracle recomputes both from
    * their independently verified SQL and re-derives the argmax with
    * the identical (rank9 DESC, doc_id) total order — longs, so no
    * tie ambiguity cross-engine.
    */
  val keepRank = QueryDef(
    "dedup_keep_rank",
    (s, d) => keepRankFrom(Dedup.ngramJaccard.fn(s, d)),
    Some {
      val ckSql = Dedup.clusterKeep.oracle.get
      val prSql = pageRank.oracle.get
      s"""WITH ck AS (
        SELECT doc_id, canonical_id AS cluster_id FROM ($ckSql)),
      pr AS (SELECT doc_id, rank9 FROM ($prSql)),
      j AS (
        SELECT ck.doc_id, ck.cluster_id, pr.rank9
        FROM ck JOIN pr ON pr.doc_id = ck.doc_id),
      best AS (
        SELECT cluster_id, doc_id AS best_id FROM j
        QUALIFY ROW_NUMBER() OVER (
          PARTITION BY cluster_id ORDER BY rank9 DESC, doc_id) = 1)
    SELECT j.doc_id, j.cluster_id, j.rank9, j.doc_id = b.best_id AS keep_rank
    FROM j JOIN best b USING (cluster_id) ORDER BY j.doc_id"""
    })

  private val LpIters = 5

  /** [[labelProp]] body over an injectable pair graph — same seam as
    * [[trianglesFrom]]/[[pageRankFrom]]. Synchronous label
    * propagation, fixed [[LpIters]] rounds: every node starts as its
    * own community and each round adopts the most frequent label
    * among its neighbors (tie: lowest label). The argmax is one
    * bounded-heap TopKPerKey pass (k=1, order cnt desc / lbl asc) —
    * no window, no struct-aggregate sort — which is
    * exact because counts and labels are longs; synchronous updates +
    * a total tie order make the round function deterministic, so a
    * FIXED round count is bit-reproducible across engines (an
    * until-convergence LPA is run-order dependent by definition).
    */
  private[graft] def labelPropFrom(pairsIn: DataFrame): DataFrame = {
    val pairs = pairsIn.select("i", "j").localCheckpoint(true)
    val edges = pairs.select(col("i").as("u"), col("j").as("v"))
      .unionByName(pairs.select(col("j").as("u"), col("i").as("v")))
      .localCheckpoint(true)
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint(true)
    for (it <- 0 until LpIters) {
      // argmax via the bounded-heap TopKPerKey (k=1), not
      // max(struct(..)): struct aggregates are not HashAggregate-able,
      // so Catalyst would SortAggregate the (node, label)-pair stream
      // every round — a per-round full sort that HIERTIER_r12.json
      // showed becomes the wall at corpus-scale streams (HierTierProbe
      // main at commit 89505f5). Ordering (cnt desc,
      // lbl asc) == the old max(struct(cnt, -lbl)) contract; cnt is a
      // LONG, so the exact-integer order path applies.
      val next = graft.plans.GraftOps.topKPerKey(
        edges.join(labels, edges("u") === labels("node"))
          .groupBy(col("v"), col("lbl"))
          .agg(count(lit(1)).as("cnt")),
        Seq(col("v")), col("cnt"), col("lbl"), 1)
        .select(col("v").as("node"), col("lbl"))
      // r17: checkpoint once at loop END, not every round — the five
      // fixed rounds chain in one job (same exchanges; the per-round
      // eager materialization barrier was pure overhead). Measured
      // (interleaved A/B at sf0.1, output collect-compared identical):
      // every-round 1.90 s, every-2 1.42 s, end-only 0.82 s. Lineage
      // depth is bounded at LpIters rounds of join+agg+fold.
      labels = if (it == LpIters - 1) next.localCheckpoint(true) else next
    }
    labels.select(col("node").as("doc_id"), col("lbl").as("community"))
  }

  /** Community detection over the near-dup pair graph by synchronous
    * label propagation — the mid-resolution companion to the CC keep
    * (CC merges everything reachable; LPA splits a chained component
    * at its weak waists, the right granularity when boilerplate
    * bridges otherwise-unrelated dup clusters). Five fixed rounds,
    * most-frequent-neighbor-label updates, min-label tie-break.
    *
    * Scale: each round is ONE edge⋈label equi-join + two node/label
    * aggregates (the label-count argmax folds through a single
    * bounded-heap TopKPerKey pass — no per-node window, no sort, no
    * skew beyond degree skew the
    * orientation-free count already bounds); state is the node-sized
    * label vector, localCheckpoint'd per round. Fixed rounds mean
    * zero driver-side convergence jobs, like [[pageRank]].
    */
  val labelProp = QueryDef(
    "graph_label_prop",
    (s, d) => labelPropFrom(Dedup.ngramJaccard.fn(s, d)),
    Some(Dedup.ngramJaccard.oracle.map { jaccardSql =>
      val inner = jaccardSql.replace("ORDER BY i, j", "")
      val iters = (1 to LpIters).map { k =>
        s"""c$k AS (
        SELECT e.v AS node, r${k - 1}.lbl, COUNT(*) AS cnt
        FROM e JOIN r${k - 1} ON r${k - 1}.node = e.u GROUP BY 1, 2),
      r$k AS (
        SELECT node, lbl FROM c$k
        QUALIFY ROW_NUMBER() OVER (
          PARTITION BY node ORDER BY cnt DESC, lbl) = 1)"""
      }.mkString(",\n      ")
      s"""WITH pairs AS ($inner),
      e AS (
        SELECT i AS u, j AS v FROM pairs
        UNION ALL SELECT j AS u, i AS v FROM pairs),
      r0 AS (SELECT DISTINCT u AS node, u AS lbl FROM e),
      $iters
    SELECT node AS doc_id, lbl AS community FROM r$LpIters ORDER BY doc_id"""
    }.get))

  val defs: Seq[QueryDef] = Seq(triangles, pageRank, keepRank, labelProp)
}
