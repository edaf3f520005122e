package graft

import graft.operators.Sampling
import graft.streaming.BudgetStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.BudgetStream]] (B28): streaming token-budget
  * sampling — batch parity with `sample_token_budget` on a drained
  * stream, carried-state correctness across micro-batches, and
  * exactly-once verdict/state partitions under replay.
  */
class BudgetStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir
  private def tmp(tag: String): String =
    TestSpark.tempDir(s"graft_bs_$tag").toString

  private def keptRows(verdictsDir: String): Set[(String, Long, Long, Long)] =
    spark.read.parquet(verdictsDir).filter(col("kept"))
      .select("source", "doc_id", "n_tokens", "cum_tokens")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("drained stream in hash order reproduces sample_token_budget exactly") {
    val (stateDir, verdictsDir) = (tmp("st"), tmp("out"))
    val docs = Tables.documents(spark, d).select("doc_id", "source", "text")
    val budgets = Sampling.sourceBudgets(Sampling.budgetTokenCols(docs), 10000L)

    // corpus in the batch operator's global (h, doc_id) order, split
    // into three consecutive micro-batches
    val ordered = Sampling.budgetTokenCols(docs)
      .select("doc_id", "h").collect()
      .sortBy(r => (r.getLong(1), r.getLong(0))).map(_.getLong(0))
    val chunks = ordered.grouped((ordered.length + 2) / 3).toSeq
    assert(chunks.size == 3)
    chunks.zipWithIndex.foreach { case (ids, i) =>
      import spark.implicits._
      val batch = docs.join(ids.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
      BudgetStream.processBatch(batch, budgets, stateDir, verdictsDir, i.toLong)
    }

    val streamed = keptRows(verdictsDir)
    val batchRows = SparkEntry.queries("sample_token_budget")(spark, d)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == batchRows,
      s"stream-only: ${(streamed -- batchRows).take(3)}; " +
        s"batch-only: ${(batchRows -- streamed).take(3)}")
  }

  test("carried state: a source exhausted in batch 0 admits nothing later") {
    import spark.implicits._
    val (stateDir, verdictsDir) = (tmp("st2"), tmp("out2"))
    val budgets = Seq(("web", 5L)).toDF("source", "budget")
    def doc(id: Long, words: Int) =
      (id, "web", Seq.fill(words)("w").mkString(" "))
    // batch 0: 3 + 3 tokens — the second doc CROSSES the budget of 5
    // (crossing doc kept), leaving cum = 6 >= 5
    BudgetStream.processBatch(Seq(doc(1, 3), doc(2, 3)).toDF("doc_id", "source", "text"),
      budgets, stateDir, verdictsDir, 0L)
    // batch 1: everything must be dropped — the budget is spent
    BudgetStream.processBatch(Seq(doc(3, 1)).toDF("doc_id", "source", "text"),
      budgets, stateDir, verdictsDir, 1L)
    val v = spark.read.parquet(verdictsDir)
      .select("doc_id", "cum_tokens", "kept").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(v(3L) == ((7L, false)), s"carried state wrong: ${v(3L)}")
    assert(v.filter(_._2._2).keySet == Set(1L, 2L))
  }

  test("replaying a batch replaces its verdicts and does not double-advance state") {
    import spark.implicits._
    val (stateDir, verdictsDir) = (tmp("st3"), tmp("out3"))
    val budgets = Seq(("web", 10L)).toDF("source", "budget")
    def doc(id: Long, words: Int) =
      (id, "web", Seq.fill(words)("w").mkString(" "))
    BudgetStream.processBatch(Seq(doc(1, 4)).toDF("doc_id", "source", "text"),
      budgets, stateDir, verdictsDir, 0L)
    BudgetStream.processBatch(Seq(doc(2, 4)).toDF("doc_id", "source", "text"),
      budgets, stateDir, verdictsDir, 1L)
    val before = spark.read.parquet(verdictsDir).collect()
      .map(_.toSeq).toSeq.sortBy(_.toString)
    // replay batch 1: same pre-state (batch 0's snapshot), so rows and
    // row COUNTS are identical — overwrite, not append
    BudgetStream.processBatch(Seq(doc(2, 4)).toDF("doc_id", "source", "text"),
      budgets, stateDir, verdictsDir, 1L)
    val after = spark.read.parquet(verdictsDir).collect()
      .map(_.toSeq).toSeq.sortBy(_.toString)
    assert(after == before, "replay must replace, not append or drift")
    val st = spark.read.parquet(s"$stateDir/batch=1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st("web") == 8L, s"state double-advanced: $st")
  }

  test("unbudgeted source: explicit kept=false verdicts, state still advances") {
    import spark.implicits._
    val (stateDir, verdictsDir) = (tmp("st5"), tmp("out5"))
    // budgets only covers "web" — "ghost" streams documents anyway
    val budgets = Seq(("web", 10L)).toDF("source", "budget")
    BudgetStream.processBatch(
      Seq((1L, "web", "a b"), (2L, "ghost", "x y z"))
        .toDF("doc_id", "source", "text"),
      budgets, stateDir, verdictsDir, 0L)
    val v = spark.read.parquet(verdictsDir)
      .select("source", "doc_id", "kept").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getBoolean(2)).toMap
    // the ghost doc is PRESENT in the verdict log with kept=false
    // (budget coalesced to 0), not silently dropped while its tokens
    // advance the carried state
    assert(v == Map(("web", 1L) -> true, ("ghost", 2L) -> false), s"$v")
    val st = spark.read.parquet(s"$stateDir/batch=0").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st == Map("web" -> 2L, "ghost" -> 3L), s"$st")
  }

  test("state snapshot holds exactly one row per distinct source seen (driver bound)") {
    import spark.implicits._
    val (stateDir, verdictsDir) = (tmp("st6"), tmp("out6"))
    val budgets = Seq(("s0", 100L), ("s1", 100L), ("s2", 100L))
      .toDF("source", "budget")
    // batch 0 sees s0/s1 (many docs each); batch 1 adds s2
    BudgetStream.processBatch(
      (1L to 40L).map(i => (i, s"s${i % 2}", "a b c")).toDF("doc_id", "source", "text"),
      budgets, stateDir, verdictsDir, 0L)
    BudgetStream.processBatch(
      Seq((100L, "s2", "d e")).toDF("doc_id", "source", "text"),
      budgets, stateDir, verdictsDir, 1L)
    // the driver-materialized state is bounded by |distinct sources
    // seen|, never by document count — the Scaladoc'd collect bound
    val st0 = spark.read.parquet(s"$stateDir/batch=0").collect()
    assert(st0.map(_.getString(0)).sorted.toSeq == Seq("s0", "s1"),
      s"batch-0 state must be one row per seen source: ${st0.toSeq}")
    val st1 = spark.read.parquet(s"$stateDir/batch=1").collect()
    assert(st1.map(_.getString(0)).sorted.toSeq == Seq("s0", "s1", "s2"),
      s"batch-1 state must carry forward + add s2: ${st1.toSeq}")
  }

  test("streaming wiring end-to-end via MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (stateDir, verdictsDir, ckpt) = (tmp("st4"), tmp("out4"), tmp("ckpt"))
    val budgets = Seq(("web", 4L)).toDF("source", "budget")
    val input = MemoryStream[(Long, String, String)]
    val q = BudgetStream.budgetStream(
      input.toDF().toDF("doc_id", "source", "text"),
      budgets, stateDir, verdictsDir, ckpt)
    try {
      input.addData((1L, "web", "a b c"))
      q.processAllAvailable()
      input.addData((2L, "web", "d e f"))
      q.processAllAvailable()
    } finally q.stop()
    val v = spark.read.parquet(verdictsDir)
      .select("doc_id", "kept").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // doc 1 (3 tokens, cum 3) crosses nothing; doc 2 starts at cum 3
    // < 4 so it is the crossing doc and is kept; nothing after
    assert(v == Map(1L -> true, 2L -> true))
  }
}
