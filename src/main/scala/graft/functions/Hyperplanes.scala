package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Deterministic md5-derived random hyperplanes for sign-LSH banding,
  * held OUTSIDE the expression tree.
  *
  * Why this object exists: the original banding queries inline each
  * plane as a 64-long `typedlit` — at 128 planes that is ~1.6 MB of
  * literal constants per plan (the outlier of the registry's
  * formatted plan dump), and the log-scaled band widths
  * `dedup_embedding_wide` needs (hundreds to thousands of planes at
  * corpus scale) would blow the codegen constant pool outright. Here the plane matrix is computed once per
  * JVM from the seed formula and cached; the Catalyst expression
  * ([[HyperplaneBandVals]]) carries only two ints, so the plan stays
  * KB-sized no matter how many planes the corpus size demands, and
  * executors regenerate the matrix locally instead of receiving it
  * through task serialization.
  *
  * Bit-compatibility contract: `planes(n)(j)(i)` equals
  * [[graft.operators.Similarity.hyperplanes]]`(j)(i)` for every j —
  * the same `md5("hp<j>_<i>")` formula — so swapping a literal-based
  * banding for the expression changes NO band value (spec-asserted in
  * HyperplanesSpec). The DuckDB oracle derives the identical planes in
  * SQL from the same formula
  * (`('0x' || substr(md5('hp' || j || '_' || i), 1, 15))::BIGINT %
  * 1000001 - 500000`), which keeps the oracle text compact instead of
  * inlining thousands of constants.
  */
object Hyperplanes {

  /** Embedding dimensionality (matches the test corpus and every
    * similarity operator).
    */
  val Dim = 64

  /** Quantization scale (1e-6 integer space) — plane components are
    * drawn uniformly from [-Scale/2, Scale/2].
    */
  val Scale = 1000000L

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Long]]]()

  /** Plane component (j, i) — `md5("hp<j>_<i>")` first 15 hex chars as
    * a long, mapped to [-Scale/2, Scale/2]. Identical to the formula
    * behind [[graft.operators.Similarity.hyperplanes]].
    */
  private def component(mdig: java.security.MessageDigest, j: Int, i: Int): Long = {
    val hex = mdig.digest(s"hp${j}_$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16) % (Scale + 1) - Scale / 2
  }

  /** The first `n` hyperplanes, cached per JVM. Memory is n*Dim longs
    * (~0.5 KB per plane) — thousands of planes cost a few MB, held
    * once per executor JVM rather than once per task.
    */
  def planes(n: Int): Array[Array[Long]] =
    cache.computeIfAbsent(n, _ => {
      val mdig = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(n, Dim)((j, i) => component(mdig, j, i))
    })

  /** Band values of a quantized vector under a (bands x bits) split of
    * the first bands*bits planes: bit k of band b is
    * sign(dot(qa, plane(b*bits + k))), packed little-endian. Called
    * from both interpreted eval and generated code.
    */
  /** True when any element of the array is NULL — called from both
    * interpreted eval and generated code (getLong would read a null
    * slot as 0, silently banding a holed vector).
    */
  def hasNullElement(x: ArrayData): Boolean = {
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i)) return true
      i += 1
    }
    false
  }

  def bandVals(qa: ArrayData, bands: Int, bits: Int): ArrayData =
    bandVals(qa, bands, bits, planes(bands * bits))

  /** Matrix-passing overload for generated code: the caller hoists
    * the plane matrix (a codegen reference object), so the row loop
    * never touches the JVM cache (the [[Ln9]] hot-path rule).
    */
  def bandVals(qa: ArrayData, bands: Int, bits: Int,
      ps: Array[Array[Long]]): ArrayData = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var v = 0L
      var k = 0
      while (k < bits) {
        val p = ps(b * bits + k)
        var s = 0L
        var i = 0
        while (i < Dim) {
          s += qa.getLong(i) * p(i)
          i += 1
        }
        if (s > 0) v |= (1L << k)
        k += 1
      }
      out(b) = v
      b += 1
    }
    new GenericArrayData(out)
  }

  // -----------------------------------------------------------------
  // The log-scaled band plan (dedup_embedding_wide's sizing rule)
  // -----------------------------------------------------------------

  /** Design operating point: the faintest near-dup the wide banding
    * must catch with high probability. Per-bit agreement for a pair at
    * angle theta is (1 - theta/pi); at cosine 0.85 that is ~0.8234.
    */
  val DesignCosine = 0.85

  /** Target per-pair miss probability for the band OR (2%). */
  val DesignMiss = 0.02

  private val p1 = 1.0 - math.acos(DesignCosine) / math.Pi

  /** Bands needed for >= (1 - DesignMiss) recall at `bits`-bit bands on
    * a DesignCosine pair: ceil(ln(1/miss) / -ln(1 - p1^bits)) — the
    * standard LSH OR-amplification count. Grows ~ (1/p1)^bits = n^rho
    * (rho ~ 0.28 here) when bits tracks log2 n: the familiar sublinear
    * LSH exponent, vs the n^2/2^bits blow-up of any FIXED band width.
    *
    * The resulting integers are inlined into the DuckDB oracle as a
    * lookup list, so both engines use the very same table and no
    * floating-point boundary can diverge cross-engine at runtime.
    */
  def bandsFor(bits: Int): Int = {
    require(bits >= 1 && bits <= MaxBits, s"bits out of range: $bits")
    math.ceil(math.log(1.0 / DesignMiss) /
      -math.log1p(-math.pow(p1, bits.toDouble))).toInt
  }

  /** Largest supported band width: 62 keeps band_val inside a signed
    * long with headroom; bandsFor stays finite well past it.
    */
  val MaxBits = 62

  /** ceil(log2(n)) via bit length — integer-exact, mirrored in the
    * oracle as `length(ltrim(bin(n - 1), '0'))`.
    */
  def bitsFor(n: Long): Int = {
    require(n >= 2, s"corpus too small for banding: $n")
    64 - java.lang.Long.numberOfLeadingZeros(n - 1)
  }

  /** (bands, bits) for an n-vector corpus: bits = ceil(log2 n) pins
    * expected random-pair collisions per band at <= 1 per vector;
    * bandsFor(bits) holds recall at the design point.
    */
  def wideBandPlan(n: Long): (Int, Int) = {
    val bits = bitsFor(n)
    (bandsFor(bits), bits)
  }
}

/** `graft_hyperplane_bands(qa, bands, bits)` — array of `bands` band
  * values (little-endian packed sign bits of `bits` hyperplane dots
  * each) for a 64-dim quantized BIGINT vector. The plane matrix lives
  * in [[Hyperplanes]]'s JVM-static cache; this node serializes as two
  * ints, keeping plans KB-sized at any plane count.
  */
case class HyperplaneBandVals(child: Expression, bands: Int, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(bands >= 1 && bits >= 1 && bits <= Hyperplanes.MaxBits,
    s"invalid band plan: $bands x $bits")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hyperplane_bands"

  // NULL (not a wrong banding) for a vector of unexpected width OR
  // with a NULL component — a truncated/holed embedding must not land
  // in plausible buckets (getLong would silently read a null slot as
  // 0; LongArrayDot returns NULL for the same vector, and a pair must
  // not band-match while its similarity is NULL).
  @transient private lazy val tbl: Array[Array[Long]] =
    Hyperplanes.planes(bands * bits)

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (x.numElements() != Hyperplanes.Dim || Hyperplanes.hasNullElement(x)) null
    else Hyperplanes.bandVals(x, bands, bits, tbl)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // Mutable state initialized in the generated class's init: the
    // matrix is rebuilt executor-locally from the JVM cache (plans
    // and task binaries never carry it — at wide-tier plane counts
    // that is MBs), and the row loop indexes a plain field.
    val t = ctx.addMutableState("long[][]", "hyperplaneMatrix",
      v => s"$v = graft.functions.Hyperplanes.planes(${bands * bits});")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |if ($a.numElements() != graft.functions.Hyperplanes.Dim() ||
         |    graft.functions.Hyperplanes.hasNullElement($a)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.Hyperplanes.bandVals($a, $bands, $bits, $t);
         |}
       """.stripMargin
    })
  }

  override def nullable: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
