package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Model-based selection operators (operators.Select): the unbounded
  * deterministic ln primitive, the NB quality classifier against an
  * independent float-arithmetic reference, and the DSIR Gumbel draw's
  * determinism + target-steering properties.
  */
class SelectSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  test("ln9big tracks ln(n) within the mantissa-truncation bound at any magnitude") {
    import spark.implicits._
    // boundaries: table edge (4095/4096/4097), shift edges (2^k ± 1),
    // and large magnitudes far beyond any table
    val ns: Seq[Long] = Seq(1L, 2L, 3L, 7L, 100L, 4095L, 4096L, 4097L,
      (1L << 20) - 1, 1L << 20, (1L << 20) + 1, 999999937L,
      (1L << 40) + 12345L, (1L << 55) + 987654321L, Long.MaxValue / 2)
    val got = ns.toDF("n")
      .select(col("n"), operators.Select.ln9big(col("n")).as("l9"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ns.foreach { n =>
      val approx = got(n) / 1e9
      val exact = math.log(n.toDouble)
      // floor-truncation of the 12-bit mantissa: ln(1 + 1/2048) + 1e-9
      assert(approx <= exact + 1e-9, s"ln9big($n) overshoots: $approx > $exact")
      assert(exact - approx <= 4.9e-4 + 2e-9,
        s"ln9big($n) = $approx too far below ln = $exact")
    }
  }

  test("graft_ln9 is SQL-registered and exact below the table bound") {
    // below 4096 the mantissa is the value itself: exact floor(ln·1e9)
    assert(spark.sql("SELECT graft_ln9(1000L) AS l").collect().head.getLong(0)
      == math.floor(math.log(1000.0) * 1e9).toLong)
    // SQL path == Column API path at any magnitude
    val viaSql = spark.sql("SELECT graft_ln9(123456789012L) AS l")
      .collect().head.getLong(0)
    import spark.implicits._
    val viaCol = Seq(123456789012L).toDF("n")
      .select(operators.Select.ln9big(org.apache.spark.sql.functions.col("n")))
      .collect().head.getLong(0)
    assert(viaSql == viaCol)
  }

  test("classify_nb matches an independent float NB within the ln-truncation bound") {
    val rows = SparkEntry.queries("classify_nb")(spark, d)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(rows.length == 500)
    // pred is definitionally the margin sign
    rows.foreach { case (id, _, _, m, p) =>
      assert(p == (m > 0), s"doc $id: nb_pred disagrees with margin sign")
    }

    // independent reference: exact-float multinomial NB with add-one
    // smoothing on the same labels (median-quality threshold)
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"),
        (operators.TextAnalysis.qualityScoreCol(col("text")) >= 0.6).as("pos"),
        col("text"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2)))
    val cp = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val cn = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var dp = 0L; var dn = 0L
    docs.foreach { case (_, pos, text) =>
      val ts = text.split(" ", -1)
      if (pos) { dp += 1; ts.foreach(t => cp(t) += 1) }
      else { dn += 1; ts.foreach(t => cn(t) += 1) }
    }
    val tp = cp.values.sum; val tn = cn.values.sum
    val v = (cp.keySet ++ cn.keySet).size
    val ref = docs.map { case (id, pos, text) =>
      val ts = text.split(" ", -1)
      val s = math.log(dp.toDouble / dn) + ts.map(t =>
        math.log((cp(t) + 1.0) / (tp + v)) -
          math.log((cn(t) + 1.0) / (tn + v))).sum
      (id, pos, s)
    }.map(t => t._1 -> (t._2, t._3)).toMap

    var agree = 0
    rows.foreach { case (id, lab, nToks, margin, _) =>
      val (refLab, refMargin) = ref(id)
      assert(lab == refLab, s"doc $id: label mismatch")
      // each token contributes 2 ln9big calls (floor error in
      // [0, 4.9e-4)) plus 4 global-term calls
      val bound = 5e-4 * (2 * nToks + 6)
      assert(math.abs(margin - refMargin) <= bound,
        s"doc $id: engine margin $margin vs float $refMargin (bound $bound)")
      if ((margin > 0) == lab) agree += 1
    }
    // bag-of-words signal on this corpus is modest but must beat the
    // majority-class baseline (~51%) decisively
    assert(agree >= 275, s"NB self-accuracy $agree/500 under floor")
  }

  test("mix_dsir ranks the target domains above the rest") {
    val rows = SparkEntry.queries("mix_dsir")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 20)
    assert(rows.map(_._2).sum == 500L)
    val tgt = Set("src0", "src1", "src2", "src3")
    val (t, rest) = rows.partition(r => tgt(r._1))
    val tMean = t.map(_._3).sum / t.length
    val rMean = rest.map(_._3).sum / rest.length
    assert(tMean > rMean,
      s"target domains mean $tMean should exceed non-target $rMean")
  }

  test("sample_dsir is deterministic, sized K, and steered toward the target domain") {
    def draw() = SparkEntry.queries("sample_dsir")(spark, d)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val a = draw(); val b = draw()
    assert(a.length == 100)
    assert(a.map(_._1).toSet == b.map(_._1).toSet, "draw is not rerun-stable")
    // gumbel = key - lw must live in the construction's range:
    // u ∈ [1/2^20, 1) gives g ∈ (-ln ln 2^20, -ln(-ln(1 - 2^-20)))
    // ≈ (-2.64, +13.86)
    a.foreach { case (id, lw, key) =>
      val g = key - lw
      assert(g > -3.0 && g < 14.0, s"doc $id: gumbel part $g out of range")
    }
    // importance steering: the 4 target sources hold 20% of the corpus
    // uniformly; the resample must overrepresent them decisively
    // (measured 62/100 at sf0.001)
    val srcs = Tables.documents(spark, d).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val tgt = Set("src0", "src1", "src2", "src3")
    val hit = a.count(r => tgt(srcs(r._1)))
    assert(hit >= 40, s"only $hit/100 sampled docs from the target domain")
  }
}
