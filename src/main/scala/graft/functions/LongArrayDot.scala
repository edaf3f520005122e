package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Exact integer dot product of two BIGINT arrays as a native Catalyst
  * expression with whole-stage codegen.
  *
  * Why not `aggregate(zip_with(a, b, _*_), 0L, _+_)`: Spark's
  * higher-order functions are interpreted (lambda per element, boxed
  * longs, an intermediate zipped array per row) and sit outside
  * whole-stage codegen. For the similarity operators the dot product
  * runs once per candidate PAIR — at sf0.1's 2M pairs the interpreted
  * form measured ~33 s vs <2 s for this compiled loop; at 100 TB the
  * gap is the difference between scan-bound and CPU-bound.
  *
  * Norms reuse the same expression: `dot(a, a)`.
  */
case class LongArrayDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot"

  // NULL result (not a wrong number) for length-mismatched arrays and
  // for any NULL element - a truncated or sparse embedding must not
  // produce a plausible-looking dot product.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getLong($i) * $b.getLong($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column API and SQL builders for graft's native expressions (the SQL
  * names are listed in [[graft.GraftRuntime.sqlFunctions]]). */
object GraftFunctions {
  // Spark 4's Column is Connect-agnostic (no .expr); the bridge in
  // org.apache.spark.sql.graft converts Column <-> Expression.
  import org.apache.spark.sql.graft.Bridge
  def dotLong(a: Column, b: Column): Column =
    Bridge.column(LongArrayDot(Bridge.expression(a), Bridge.expression(b)))

  /** Sign-LSH band values from the JVM-static hyperplane cache — see
    * [[HyperplaneBandVals]]. bands/bits ride in the node as two ints;
    * no plane constant enters the expression tree.
    */
  def hyperplaneBands(qa: Column, bands: Int, bits: Int): Column =
    Bridge.column(HyperplaneBandVals(Bridge.expression(qa), bands, bits))

  /** Per-subspace nearest-codeword indices against a trained codebook
    * family shipped as a codegen reference object — see [[NearestCodes]].
    */
  def pqCodes(qa: Column, books: Array[Array[Array[Long]]]): Column =
    Bridge.column(NearestCodes(Bridge.expression(qa), books))

  /** Top-p nearest codewords per subspace (multi-probe assignment) —
    * see [[NearestCodes]].
    */
  def pqCodes(qa: Column, books: Array[Array[Array[Long]]], topP: Int): Column =
    Bridge.column(NearestCodes(Bridge.expression(qa), books, topP))

  /** Top-p nearest CELL IDS against a single-subspace coarse
    * quantizer, best first: composes [[NearestCodes]] with
    * [[IndexLookup]] so BOTH the centroid matrix and the
    * index->cell-id table ride as codegen reference objects — the
    * plan text stays O(1) no matter how many cells the corpus scale
    * demands (k = ceil(n/cap) grows linearly with n).
    */
  def pqCells(qa: Column, books: Array[Array[Array[Long]]],
      ids: Array[Long], topP: Int): Column = {
    require(books.length == 1,
      s"pqCells maps codeword indices to cell ids, which only makes sense " +
        s"for a single-subspace coarse quantizer; got ${books.length} subspaces")
    require(ids.length == books(0).length,
      s"id table length ${ids.length} != codebook size ${books(0).length}")
    Bridge.column(IndexLookup(NearestCodes(Bridge.expression(qa), books, topP), ids))
  }

  /** Vector minus the codewords `codes` select — the IVF-PQ residual
    * step; see [[SubCodewords]].
    */
  def pqSub(qa: Column, codes: Column, books: Array[Array[Array[Long]]]): Column =
    Bridge.column(SubCodewords(
      Bridge.expression(qa), Bridge.expression(codes), books))

  /** Builder with a proper arity error instead of an index exception. */
  def dotBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"graft_dot requires exactly 2 arguments, got ${exprs.length}")
    LongArrayDot(exprs(0), exprs(1))
  }

  /** `graft_rolling_minhash(text, window)` — the Rabin-Karp rolling
    * min-hash codegen expression.
    */
  def rollingMinHashBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"graft_rolling_minhash requires exactly 2 arguments, got ${exprs.length}")
    RollingMinHash(exprs(0), exprs(1))
  }

  /** `graft_approx_distinct(x)` — the mergeable HLL sketch aggregate.
    * Applies the same null-guarded xxhash64 pre-hash as the Column API
    * ([[HllSketchAgg.approxDistinct]]), so SQL callers pass raw
    * columns.
    */
  def approxDistinctBuilder(exprs: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{If, IsNotNull, Literal, XxHash64}
    import org.apache.spark.sql.types.LongType
    require(exprs.length == 1,
      s"graft_approx_distinct requires exactly 1 argument, got ${exprs.length}")
    HllSketchAgg(If(IsNotNull(exprs.head),
      new XxHash64(Seq(exprs.head)), Literal.create(null, LongType)))
  }

  /** `graft_approx_quantiles(x)` — the mergeable DDSketch quantile
    * aggregate at its default points (p50/p90/p99, alpha=0.01);
    * returns ARRAY<DOUBLE>. The Column API
    * ([[DdSketchAgg.approxQuantiles]]) takes arbitrary points.
    */
  def approxQuantilesBuilder(exprs: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, If, IsNotNull, Literal}
    import org.apache.spark.sql.types.DoubleType
    require(exprs.length == 1,
      s"graft_approx_quantiles requires exactly 1 argument, got ${exprs.length}")
    val d = Cast(exprs.head, DoubleType)
    DdSketchAgg(If(IsNotNull(d), d, Literal.create(null, DoubleType)),
      Seq(0.5, 0.9, 0.99))
  }

  /** `graft_heavy_hitters(x)` — the Misra-Gries top-items aggregate at
    * its default capacity (k=64); returns array<struct<item, est>>.
    */
  def heavyHittersBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1,
      s"graft_heavy_hitters requires exactly 1 argument, got ${exprs.length}")
    FreqSketchAgg(exprs.head, 64)
  }

  /** `graft_bloom_agg(x)` — mergeable Bloom filter over xxhash64(x),
    * surfaced as its serialized binary. This wraps Spark's own
    * runtime-filter aggregate (the exact machinery InjectRuntimeFilter
    * plants under a scalar subquery), so build and merge are the
    * battle-tested sketch implementation; graft only adds the SQL name
    * and the xxhash64 pre-hash. Pair with `graft_bloom_contains` —
    * both sides hash with the same xxhash64, so any input type works.
    * (A NULL hashes to the xxhash64 seed on both sides, so nulls can
    * only ever FALSE-POSITIVE a probe — conservative for pruning.)
    */
  def bloomAggBuilder(exprs: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    require(exprs.length == 1,
      s"graft_bloom_agg requires exactly 1 argument, got ${exprs.length}")
    new BloomFilterAggregate(new XxHash64(Seq(exprs.head)))
  }

  /** `graft_bloom_contains(bloom, x)` — membership probe against a
    * `graft_bloom_agg` filter (bloom must be foldable or a scalar
    * subquery, mirroring Spark's runtime-filter contract). May return
    * false positives, never false negatives — callers keep an exact
    * join for final semantics and use this only to prune early. The
    * probe hash is [[Unfolded]], so a constant probe, whose hash folds
    * to a literal, still compiles.
    */
  def bloomContainsBuilder(exprs: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
    require(exprs.length == 2,
      s"graft_bloom_contains requires exactly 2 arguments, got ${exprs.length}")
    BloomFilterMightContain(exprs(0), Unfolded(new XxHash64(Seq(exprs(1)))))
  }

  /** Column API for the unbounded deterministic ln: floor-scaled
    * ln(n)·1e9 of a positive integral column at any magnitude, exact
    * below 4096 and within 4.9e-4 nats above (12-bit mantissa table +
    * bit-shift decomposition — see [[graft.operators.Select]]). The
    * cross-engine primitive behind classify_nb / sample_dsir.
    */
  def ln9(n: Column): Column = graft.operators.Select.ln9big(n)

  /** `graft_ln9(n)` — SQL registration of [[ln9]]: the [[Ln9Big]]
    * codegen node over a LongType cast, built directly (a
    * FunctionRegistry builder's return value is spliced into the plan,
    * so no Column round-trip is needed or wanted).
    */
  def ln9Builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1,
      s"graft_ln9 requires exactly 1 argument, got ${exprs.length}")
    import org.apache.spark.sql.catalyst.expressions.Cast
    Ln9Big(Cast(exprs.head, org.apache.spark.sql.types.LongType))
  }

  /** `graft_word_ngrams(text, n, short_doc_fallback, distinct)` — the
    * compiled single-pass word n-gram array ([[WordNgrams]]). The
    * three shape parameters must be foldable literals (they select the
    * generated code path, not per-row data).
    */
  def wordNgramsBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 4,
      s"graft_word_ngrams requires exactly 4 arguments, got ${exprs.length}")
    import org.apache.spark.sql.catalyst.expressions.Literal
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"graft_word_ngrams: $what must be an integer literal, got $other")
    }
    def boolLit(e: Expression, what: String): Boolean = e match {
      case Literal(v: Boolean, _) => v
      case other => throw new IllegalArgumentException(
        s"graft_word_ngrams: $what must be a boolean literal, got $other")
    }
    WordNgrams(exprs(0), intLit(exprs(1), "n"),
      boolLit(exprs(2), "short_doc_fallback"), boolLit(exprs(3), "distinct"))
  }
}
