package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[PlanPeek.canonical]]: two builds of one plan print the same
  * text, and a different plan still prints differently.
  */
class PlanPeekSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // two builds of q_distinct_agg's Expand and the aggregate above it:
  // fresh ids and hashes, and the distinct groups in another order
  private val first =
    """(12) Expand
      |Arguments: [[l_returnflag#9282, null, null, null, 0], [l_returnflag#9282, l_suppkey#9276L, null, null, 1], [l_returnflag#9282, null, l_partkey#9275L, null, 2], [l_returnflag#9282, null, null, l_orderkey#9274L, 3]], [l_returnflag#9282, l_suppkey#9306L, l_partkey#9307L, l_orderkey#9308L, gid#9305]
      |(13) HashAggregate
      |Keys [5]: [l_returnflag#9282, l_suppkey#9306L, l_partkey#9307L, l_orderkey#9308L, gid#9305]
      |Functions [2]: [partial_count(l_partkey#9307L) FILTER (WHERE (gid#9305 = 2)), partial_count(l_suppkey#9306L) FILTER (WHERE (gid#9305 = 1))]
      |(14) Exchange
      |Arguments: hashpartitioning(l_returnflag#9282, l_suppkey#9306L, l_partkey#9307L, l_orderkey#9308L, gid#9305, 4), ENSURE_REQUIREMENTS, [plan_id=41]
      |(15) BroadcastHashJoin
      |Join condition: graft_idx_lookup([J@5e60e639, lambda x_6#436)
      |""".stripMargin
  private val second =
    """(12) Expand
      |Arguments: [[l_returnflag#9301, null, null, null, 0], [l_returnflag#9301, l_partkey#9294L, null, null, 1], [l_returnflag#9301, null, l_suppkey#9295L, null, 2], [l_returnflag#9301, null, null, l_orderkey#9293L, 3]], [l_returnflag#9301, l_partkey#9325L, l_suppkey#9326L, l_orderkey#9327L, gid#9324]
      |(13) HashAggregate
      |Keys [5]: [l_returnflag#9301, l_partkey#9325L, l_suppkey#9326L, l_orderkey#9327L, gid#9324]
      |Functions [2]: [partial_count(l_partkey#9325L) FILTER (WHERE (gid#9324 = 1)), partial_count(l_suppkey#9326L) FILTER (WHERE (gid#9324 = 2))]
      |(14) Exchange
      |Arguments: hashpartitioning(l_returnflag#9301, l_partkey#9325L, l_suppkey#9326L, l_orderkey#9327L, gid#9324, 4), ENSURE_REQUIREMENTS, [plan_id=57]
      |(15) BroadcastHashJoin
      |Join condition: graft_idx_lookup([J@2b46d238, lambda x_9#512)
      |""".stripMargin

  test("ids, hashes and the distinct-aggregate column order canonicalize away") {
    assert(first != second)
    assert(PlanPeek.canonical(first) == PlanPeek.canonical(second))
    // an ordered list on a line outside the rewrite keeps its order
    val ordered = "Output [2]: [b#1, a#2]"
    assert(PlanPeek.canonical(ordered) == "Output [2]: [b#_, a#_]")
  }

  test("a different join strategy or exchange count still reads as different") {
    val smj = second.replace("BroadcastHashJoin", "SortMergeJoin")
    assert(PlanPeek.canonical(first) != PlanPeek.canonical(smj))
    val repartitioned = second.replace("gid#9324, 4)", "gid#9324, 8)")
    assert(PlanPeek.canonical(first) != PlanPeek.canonical(repartitioned))
  }

  test("two builds of the distinct-aggregate queries in one session dump alike") {
    // the queries whose raw dumps permute between runs; the second
    // build gets fresh ids, so the raw explain strings always differ
    val names = Seq("decontaminate_ngram", "decontaminate_winnow", "q_distinct_agg", "q_profile")
    def dump(): Seq[String] = names.map(PlanPeek.plan(spark, _, TestSpark.sfDir))
    val (a, b) = (dump(), dump())
    assert(a.forall(_.contains("Expand")))
    names.zip(a.zip(b)).foreach { case (name, (x, y)) => assert(x == y, name) }
  }
}
