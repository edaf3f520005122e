package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drives the scale-tier invariant gate ([[ScaleGate]]) end-to-end on
  * a cheap 3x derivation of sf0.01 — the same derivation + check code
  * the 100x artifact run uses, so `sbt test` exercises every family
  * law and the gate cannot rot between probe rounds. Includes
  * negative cases: a gate that cannot fail is not a gate.
  */
class ScaleGateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val src = "/root/testdata/sf0.01"
  private val out = "/tmp/graft_scale3_sf001"
  private val copies = 3

  test("every gated family law holds on the 3x sf0.01 derivation") {
    ScaleCorpus.ensure(spark, src, out, copies)
    ScaleCorpus.ensureTpch(spark, src, out, copies)
    val family = ScaleGate.gatedQueries().filter(SparkEntry.queries.contains)
    // every gated query must actually be registered — a typo'd gate
    // list would silently skip a family
    assert(family.size == ScaleGate.gatedQueries().size,
      s"gated queries missing from the registry: " +
        ScaleGate.gatedQueries().filterNot(SparkEntry.queries.contains))
    assert(family.size >= 80,
      s"the r16 widening targets >= 80 gated queries, got ${family.size}")
    val checks = ScaleGate.checksFor(spark, src, out, copies, family)
    assert(checks.size >= 185,
      s"expected the full r16 check sweep, got ${checks.size}")
    val failed = checks.filterNot(_.pass)
    assert(failed.isEmpty, "violated scale invariants:\n" + failed
      .map(c => s"  ${c.query}: ${c.invariant} (${c.detail})").mkString("\n"))
  }

  test("tier-comparison laws reject drifted counts, sums, and invariants (negative)") {
    import spark.implicits._
    val law = ScaleGate.TierLaw("l", Seq("k"), countCols = Seq("n"),
      extensiveCols = Seq("s"), invariantCols = Seq("a"))
    def f(rows: (String, Long, Double, Double)*) =
      rows.toDF("k", "n", "s", "a")
    val base = f(("x", 2L, 10.0, 5.0))
    assert(ScaleGate.tierCompare(law, base, f(("x", 6L, 30.0, 5.0)), 3)
      .forall(_.pass), "a clean 3x scale must pass")
    assert(ScaleGate.tierCompare(law, base, f(("x", 5L, 30.0, 5.0)), 3)
      .exists(!_.pass), "a drifted count must fail")
    assert(ScaleGate.tierCompare(law, base, f(("x", 6L, 31.0, 5.0)), 3)
      .exists(!_.pass), "a drifted sum must fail")
    assert(ScaleGate.tierCompare(law, base, f(("x", 6L, 30.0, 5.1)), 3)
      .exists(!_.pass), "a drifted invariant must fail")
    assert(ScaleGate.tierCompare(law, base,
      f(("x", 6L, 30.0, 5.0), ("y", 3L, 1.0, 1.0)), 3)
      .exists(!_.pass), "a novel group at tier must fail")
    assert(ScaleGate.tierCompare(law, base.limit(0), base.limit(0), 3)
      .exists(!_.pass), "vacuously-equal empty outputs must fail")
  }

  test("top-N stability laws reject a lost row, an alien tuple, and a drifted max (negative)") {
    import spark.implicits._
    val law = ScaleGate.TopNLaw("l", 2, "rev", Seq("d"))
    def f(rows: (String, Double)*) = rows.toDF("d", "rev")
    val base = f(("a", 10.0), ("b", 9.0))
    assert(ScaleGate.topNCompare(law, base, f(("a", 10.0), ("a", 10.0)))
      .forall(_.pass), "tier rows that replicate the base head must pass")
    assert(ScaleGate.topNCompare(law, base, f(("a", 10.0)))
      .exists(!_.pass), "a lost row must fail")
    assert(ScaleGate.topNCompare(law, base, f(("a", 10.0), ("c", 8.0)))
      .exists(!_.pass), "an alien value-tuple must fail")
    assert(ScaleGate.topNCompare(law, base, f(("b", 9.0), ("b", 9.0)))
      .exists(!_.pass), "a drifted top measure must fail")
  }

  test("ANN laws reject sparse ranks, unsorted scores, and positional violations (negative)") {
    val ok = Seq((1L, 1L, 10L, 0.9), (1L, 2L, 11L, 0.8))
    assert(ScaleGate.annStructure("l", ok).forall(_.pass))
    assert(ScaleGate.annStructure("l", Seq((1L, 2L, 10L, 0.9)))
      .exists(!_.pass), "a rank gap must fail")
    assert(ScaleGate.annStructure("l",
      Seq((1L, 1L, 10L, 0.7), (1L, 2L, 11L, 0.8)))
      .exists(!_.pass), "an unsorted score must fail")
    assert(ScaleGate.annStructure("l", Seq((1L, 1L, 10L, 1.5)))
      .exists(!_.pass), "an out-of-range cosine must fail")
    // approximate beating exact at a shared position is impossible
    assert(!ScaleGate.annPositional("l", "i",
      Seq((1L, 1L, 10L, 0.95)), ok, atLeast = false).pass)
    // exact at tier dipping below the base tier breaks superset search
    assert(!ScaleGate.annPositional("l", "i",
      Seq((1L, 1L, 10L, 0.85)), ok, atLeast = true).pass)
    assert(ScaleGate.annPositional("l", "i",
      Seq((1L, 1L, 10L, 0.95)), ok, atLeast = true).pass)
    assert(!ScaleGate.annPositional("l", "i", Seq.empty, ok,
      atLeast = true).pass, "no shared positions means the probe read nothing")
  }

  test("the linearity law actually fails under a wrong factor (negative case)") {
    ScaleCorpus.ensure(spark, src, out, copies)
    // claim the 3x corpus is 2x: every linearity check must FAIL
    val checks = ScaleGate.checksFor(spark, src, out, copies = 2,
      Seq("q_scd2"))
    assert(checks.nonEmpty && checks.forall(!_.pass),
      s"a wrong factor must violate linearity: $checks")
  }

  test("a stamped dir refuses reuse under a different source (r14 advice)") {
    // a factor-only stamp reused under a different SPARK_GRAFT_SF_DIR
    // would silently serve tables derived from the OLD source — the
    // stamp now records the source and refuses the mismatch the same
    // way it refuses a mixed factor
    ScaleCorpus.ensure(spark, src, out, copies)
    val e = intercept[IllegalArgumentException] {
      ScaleCorpus.ensure(spark, "/root/testdata/sf0.001", out, copies)
    }
    assert(e.getMessage.contains("mixed-source"), e.getMessage)
  }

  test("a pre-r15 factor-only stamp is treated as unstamped and upgraded") {
    val dir = TestSpark.tempDir("graft_scale_up")
    try {
      // old-format stamp (factor only, source unknowable) + a leftover
      // table: the derivation must NOT trust either — full re-derive,
      // then a two-line stamp
      java.nio.file.Files.write(dir.resolve("derived_copies.txt"),
        "2\n".getBytes("UTF-8"))
      ScaleCorpus.ensure(spark, "/root/testdata/sf0.001", dir.toString, 2)
      val lines = new String(java.nio.file.Files.readAllBytes(
        dir.resolve("derived_copies.txt")), "UTF-8")
        .split("\n").map(_.trim).filter(_.nonEmpty)
      assert(lines.length == 2 && lines(0) == "2" &&
        lines(1).endsWith("sf0.001"), lines.mkString("|"))
      // and the derived corpus is real: documents scaled 2x
      val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
      val scaled = spark.read.parquet(s"$dir/documents.parquet").count()
      assert(scaled == 2 * base)
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively()
    }
  }

  // -------------------------------------------------------------
  // Negative cases for the r15 widened law families: each suite is
  // driven with a doctored frame that a correct operator can never
  // emit — the law must FAIL on it.

  private def fails(checks: Seq[ScaleGate.Check], hint: String): Unit =
    assert(checks.exists(!_.pass), s"$hint must fail: $checks")
  private def passes(checks: Seq[ScaleGate.Check]): Unit =
    assert(checks.forall(_.pass), s"law must accept a valid frame: $checks")

  test("split laws reject a split/bucket mismatch and a skewed share (negative)") {
    import spark.implicits._
    // bucket 10 labelled "test": threshold law fires
    fails(ScaleGate.splitLaws(
      Seq((1L, 10L, "test"), (2L, 92L, "val")).toDF("doc_id", "bucket", "split")),
      "a mislabeled bucket")
    // everything train: the 90/5/5 share band fires
    fails(ScaleGate.splitLaws(
      (1L to 400L).map(i => (i, i % 90, "train"))
        .toDF("doc_id", "bucket", "split")),
      "an all-train split")
  }

  test("stratified laws reject an over-quota pick and a rank gap (negative)") {
    import spark.implicits._
    val strata = Seq(("en", 100L)).toDF("lang", "n_docs")
    fails(ScaleGate.stratifiedLaws(
      (1L to 21L).map(i => (i, "en", i)).toDF("doc_id", "lang", "pick_rank"),
      strata), "21 picks against a quota of 20")
    fails(ScaleGate.stratifiedLaws(
      (1L to 20L).map(i => (i, "en", if (i == 5) 21L else i))
        .toDF("doc_id", "lang", "pick_rank"),
      strata), "a gapped rank sequence")
    passes(ScaleGate.stratifiedLaws(
      (1L to 20L).map(i => (i, "en", i)).toDF("doc_id", "lang", "pick_rank"),
      strata))
  }

  test("pack chain laws reject duplicate origins and a gapped stream (negative)") {
    import spark.implicits._
    // two docs both claiming the stream origin
    fails(ScaleGate.packChainLaws("pack_sequences",
      Seq((1L, "en", 10L, 0L, 0L), (2L, "en", 5L, 0L, 0L))
        .toDF("doc_id", "lang", "n_tokens", "bin_id", "start_offset"), 512L),
      "two docs at start 0")
    // doc 2 starts at 11, doc 1 ends at 10: a one-token gap
    fails(ScaleGate.packChainLaws("pack_sequences",
      Seq((1L, "en", 10L, 0L, 0L), (2L, "en", 5L, 0L, 11L))
        .toDF("doc_id", "lang", "n_tokens", "bin_id", "start_offset"), 512L),
      "a gapped token stream")
    passes(ScaleGate.packChainLaws("pack_sequences",
      Seq((1L, "en", 10L, 0L, 0L), (2L, "en", 5L, 0L, 10L))
        .toDF("doc_id", "lang", "n_tokens", "bin_id", "start_offset"), 512L))
  }

  test("BFD laws reject an over-capacity bin, a skipped id, and two half-empty bins (negative)") {
    import spark.implicits._
    def bfd(rows: (Long, String, Long, Long, Long)*) =
      rows.toDF("doc_id", "lang", "shard", "bin_id", "n_tokens")
    fails(ScaleGate.bfdLaws(
      bfd((1L, "en", 0L, 0L, 300L), (2L, "en", 0L, 0L, 300L)), 512L),
      "a 600-token bin")
    fails(ScaleGate.bfdLaws(
      bfd((1L, "en", 0L, 0L, 400L), (2L, "en", 0L, 2L, 400L)), 512L),
      "bin id 1 skipped")
    fails(ScaleGate.bfdLaws(
      bfd((1L, "en", 0L, 0L, 100L), (2L, "en", 0L, 1L, 100L)), 512L),
      "two bins at <= half fill")
    passes(ScaleGate.bfdLaws(
      bfd((1L, "en", 0L, 0L, 400L), (2L, "en", 0L, 1L, 400L)), 512L))
  }

  test("budget laws reject a non-prefix selection and a doc starting past budget (negative)") {
    import spark.implicits._
    val budgets = Seq(("web", 100L)).toDF("source", "budget")
    val masses = Seq(("web", 1000L)).toDF("source", "mass")
    def out(rows: (String, Long, Long, Long)*) =
      rows.toDF("source", "doc_id", "n_tokens", "cum_tokens")
    // cum jumps over a missing doc: max_cum != selected mass
    fails(ScaleGate.budgetLaws(
      out(("web", 1L, 50L, 50L), ("web", 2L, 30L, 110L)), budgets, masses),
      "a non-prefix selection")
    // a kept doc starting at the budget boundary
    fails(ScaleGate.budgetLaws(
      out(("web", 1L, 100L, 100L), ("web", 2L, 30L, 130L)), budgets, masses),
      "a doc starting at cum=budget")
    passes(ScaleGate.budgetLaws(
      out(("web", 1L, 80L, 80L), ("web", 2L, 30L, 110L)), budgets, masses))
  }

  test("exact-dedup laws reject a lost document (negative)") {
    import spark.implicits._
    val docs = (1L to 10L).toDF("doc_id")
    fails(ScaleGate.exactDedupLaws(
      Seq(("aa", 1L, 9L)).toDF("content_md5", "keep_id", "n_copies"), docs),
      "9 accounted of 10 docs")
    passes(ScaleGate.exactDedupLaws(
      Seq(("aa", 1L, 9L), ("bb", 10L, 1L))
        .toDF("content_md5", "keep_id", "n_copies"), docs))
  }

  test("segment laws reject a wrong segment count and a ghost clean text (negative)") {
    import spark.implicits._
    val words = Seq((1L, 16L)).toDF("doc_id", "words")
    def seg(nSegs: Long, nKept: Long, clean: String) =
      Seq((1L, nSegs, nKept, clean))
        .toDF("doc_id", "n_segs", "n_kept_segs", "clean_text")
    fails(ScaleGate.segmentLaws(seg(3L, 0L, ""), words, 8),
      "16 words is 2 segments, not 3")
    fails(ScaleGate.segmentLaws(seg(2L, 0L, "a b c"), words, 8),
      "clean text with zero kept segments")
    passes(ScaleGate.segmentLaws(seg(2L, 1L, "a b c d e f g h"), words, 8))
  }

  test("span laws reject overlap, bad arithmetic, out-of-doc, and a bench leak (negative)") {
    import spark.implicits._
    val words = Seq((1L, 100L), (11L, 100L)).toDF("doc_id", "words")
    def spans(rows: (Long, Long, Long, Long)*) =
      rows.toDF("doc_id", "span_start", "span_end", "n_tokens")
    fails(ScaleGate.spanLaws("s", spans((1L, 1L, 25L, 25L), (1L, 20L, 50L, 31L)),
      words, 20, None), "overlapping spans")
    fails(ScaleGate.spanLaws("s", spans((1L, 1L, 25L, 20L)),
      words, 20, None), "length arithmetic off")
    fails(ScaleGate.spanLaws("s", spans((1L, 90L, 120L, 31L)),
      words, 20, None), "span past the document end")
    fails(ScaleGate.spanLaws("s", spans((11L, 1L, 25L, 25L)),
      words, 20, Some(11L)), "a span on a benchmark doc")
    passes(ScaleGate.spanLaws("s", spans((1L, 1L, 25L, 25L), (1L, 30L, 60L, 31L)),
      words, 20, Some(11L)))
  }

  test("BPE train laws reject an increasing count and a bad concat (negative)") {
    fails(ScaleGate.bpeTrainLaws(
      Seq((1L, "a", "b", "ab", 5L), (2L, "c", "d", "cd", 9L)), 2),
      "count rising across merges")
    fails(ScaleGate.bpeTrainLaws(
      Seq((1L, "a", "b", "ba", 5L)), 1), "merged != left || right")
    fails(ScaleGate.bpeTrainLaws(
      Seq((1L, "a", "b", "ab", 5L), (3L, "c", "d", "cd", 4L)), 2),
      "a rank gap")
    passes(ScaleGate.bpeTrainLaws(
      Seq((1L, "a", "b", "ab", 5L), (2L, "c", "d", "cd", 4L)), 2))
  }

  test("BPE tokenize laws reject fewer tokens than words (negative)") {
    import spark.implicits._
    val docs = Seq(1L).toDF("doc_id")
    fails(ScaleGate.bpeTokenizeLaws(
      Seq((1L, 10L, 50L, 8L))
        .toDF("doc_id", "n_words", "n_word_chars", "n_bpe_tokens"), docs),
      "8 tokens for 10 words")
    passes(ScaleGate.bpeTokenizeLaws(
      Seq((1L, 10L, 50L, 23L))
        .toDF("doc_id", "n_words", "n_word_chars", "n_bpe_tokens"), docs))
  }

  test("winnow laws reject an unfingerprinted doc and an oversized fp (negative)") {
    import spark.implicits._
    val words = Seq((1L, 50L), (2L, 50L)).toDF("doc_id", "words")
    fails(ScaleGate.winnowLaws(Seq((1L, 123L)).toDF("doc_id", "fp"), words),
      "doc 2 carries no fingerprint")
    fails(ScaleGate.winnowLaws(
      Seq((1L, 123L), (2L, 1L << 33)).toDF("doc_id", "fp"), words),
      "a 33-bit fingerprint")
    passes(ScaleGate.winnowLaws(
      Seq((1L, 123L), (2L, 456L)).toDF("doc_id", "fp"), words))
  }

  test("decontamination laws reject a bench-side flag and inconsistent hits (negative)") {
    import spark.implicits._
    def ngram(rows: (Long, Long, Long, Long, Long)*) =
      rows.toDF("doc_id", "n3_shingles_shared", "n3_benchmark_docs",
        "n5_shingles_shared", "n5_benchmark_docs")
    val docs = (1L to 106L).toDF("doc_id")
    fails(ScaleGate.decontNgramLaws(ngram((53L, 2L, 1L, 0L, 0L)), docs, 53L),
      "a flag on a benchmark doc")
    fails(ScaleGate.decontNgramLaws(ngram((2L, 2L, 1L, 3L, 0L)), docs, 53L),
      "5-gram shingles without a benchmark doc")
    passes(ScaleGate.decontNgramLaws(ngram((2L, 2L, 1L, 1L, 1L)), docs, 53L))
    fails(ScaleGate.decontWinnowLaws(
      Seq((2L, 0L, 1L)).toDF("doc_id", "fps_shared", "benchmark_docs"),
      docs, 53L), "a flag with zero shared fingerprints")
  }

  test("chunk laws reject a short last chunk and an index gap (negative)") {
    import spark.implicits._
    val words = Seq((1L, 56L)).toDF("doc_id", "words")
    def chunks(rows: (Long, Long, Long)*) =
      rows.map { case (d, i, n) => (d, i, n, "x") }
        .toDF("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text")
    // 56 words, W=32, S=24: 2 chunks, last = 56 - 24 = 32 tokens
    passes(ScaleGate.chunkLaws(chunks((1L, 0L, 32L), (1L, 1L, 32L)), words, 32, 24))
    fails(ScaleGate.chunkLaws(chunks((1L, 0L, 32L), (1L, 1L, 30L)), words, 32, 24),
      "a last chunk 2 tokens short")
    fails(ScaleGate.chunkLaws(chunks((1L, 0L, 32L), (1L, 2L, 32L)), words, 32, 24),
      "a skipped chunk index")
  }

  test("batch-2 law suites reject doctored frames (negative)") {
    import spark.implicits._
    val docs = Seq(1L, 2L).toDF("doc_id")
    // two keepers in one hash group
    fails(ScaleGate.normExactLaws(
      Seq((1L, "h", 1L, true, 2L), (2L, "h", 1L, true, 2L))
        .toDF("doc_id", "canon_hash", "canonical_id", "keep", "dup_count"),
      docs), "two keepers in a group")
    // keep flag contradicting canonical
    fails(ScaleGate.normExactLaws(
      Seq((1L, "h", 1L, false, 1L)).toDF(
        "doc_id", "canon_hash", "canonical_id", "keep", "dup_count"),
      Seq(1L).toDF("doc_id")), "keep=false on the canonical row")
    // oov exceeding tokens
    fails(ScaleGate.vocabOovLaws(
      Seq((1L, 5L, 7L, 1.4), (2L, 5L, 0L, 0.0))
        .toDF("doc_id", "n_tokens", "n_oov", "oov_rate"), docs),
      "oov above token count")
    // a drifted quality score
    fails(ScaleGate.qualityLaws(
      Seq((1L, 10L, 10L, 8L, 0.8, 0.1, 4.0, 0.99),
        (2L, 10L, 10L, 8L, 0.8, 0.1, 4.0,
          0.8 * 0.5 + 0.9 * 0.3 + 0.4 * 0.2))
        .toDF("doc_id", "n_chars_actual", "n_words", "n_uniq_words",
          "uniq_ratio", "stopword_ratio", "avg_word_len", "quality_score"),
      docs), "a score off its own components")
    // entropy above the uniform bound
    fails(ScaleGate.entropyLaws(
      Seq((1L, 10L, 4L, 2.0), (2L, 10L, 4L, 1.0))
        .toDF("doc_id", "n_tokens", "n_distinct_tokens", "token_entropy"),
      docs), "entropy above ln(distinct)")
    // chars_per_token present on a zero-token doc
    fails(ScaleGate.tokensLaws(
      Seq((1L, 3L, 0L, Some(2.5)), (2L, 3L, 2L, Some(2.5)))
        .toDF("doc_id", "n_ws_tokens", "n_bpe_tokens", "chars_per_token"),
      docs), "a ratio on a tokenless doc")
    // shares not a simplex
    fails(ScaleGate.mixWeightsLaws(
      Seq(("en", 2L, 0.7, 70000L)).toDF("lang", "n_docs", "mix_share",
        "target_docs"), corpusDocs = 2L), "shares summing to 0.7")
    // a mis-quantized confusion rate
    fails(ScaleGate.confusionLaws(
      Seq(("en", "en", 2L, 0.5)).toDF("lang", "predicted_lang", "n_docs",
        "rate"), corpusDocs = 2L), "rate not the floor-quantized share")
    // corpus-stats per-source drift
    fails(ScaleGate.corpusStatsLaws(
      Seq(("web", 5L, 1L, 100L, 0.5, 0L))
        .toDF("source", "n_docs", "n_langs", "total_chars", "avg_quality",
          "n_dup_docs"),
      Seq(("web", 6L, 100L)).toDF("source", "fact_docs", "fact_chars")),
      "a doc count off the recomputation")
  }

  test("the NTILE law rejects a shifted allocation (negative case)") {
    // 23 rows over 4 buckets: law is 6/6/6/5 — 5/6/6/6 must fail
    val good = ScaleGate.ntileLaw("t", Seq((1L, 6L), (2L, 6L), (3L, 6L), (4L, 5L)), 4)
    assert(good.forall(_.pass), s"law must accept its own allocation: $good")
    val shifted = ScaleGate.ntileLaw("t", Seq((1L, 5L), (2L, 6L), (3L, 6L), (4L, 6L)), 4)
    assert(shifted.exists(!_.pass), "a shifted allocation must fail")
    val eleventh = ScaleGate.ntileLaw("t",
      Seq((1L, 3L), (2L, 2L), (3L, 2L), (4L, 2L), (5L, 2L), (6L, 2L),
        (7L, 2L), (8L, 2L), (9L, 2L), (10L, 2L), (11L, 2L)), 10)
    assert(eleventh.exists(!_.pass),
      "an eleventh bucket (the literal r13 bug) must fail the id check")
  }
}
