package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** The plan tool: the physical plan of one registered query, or of
  * every one (`all`, in name order, one `## <name>` section each),
  * against any data dir — where pushdown, pruning, join strategy and
  * exchange count show. A query whose build throws prints
  * `ERROR: <message>` in its section and the rest still print. Runs on
  * `SPARK_GRAFT_CPUS` cores (default 4) with one shuffle partition per
  * core, as Bench does, so it prints the plans Bench executes.
  *
  * Output is always [[canonical]], so two runs of one commit print the
  * same bytes and a diff of two commits' dumps shows only plan drift.
  * `plan_budget.tsv` (PlanBudgetSpec) stays the drift gate; this is
  * for reading the plans behind it.
  *
  * Usage: sbt "runMain graft.PlanPeek <query|all> [dir] [mode]"
  */
object PlanPeek {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { println("usage: graft.PlanPeek <query|all> [dir] [mode]"); return }
    val name = args(0)
    require(name == "all" || SparkEntry.queries.contains(name),
      s"unknown query name: $name (expected a registered query or all)")
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val mode = args.drop(2).headOption.getOrElse("formatted")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftRuntime.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    print(if (name == "all") dumpAll(spark, dir, mode) else plan(spark, name, dir, mode))
    spark.stop()
  }

  /** The canonical plan of every registered query, in name order. */
  private def dumpAll(spark: SparkSession, dir: String, mode: String): String =
    SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val body = try plan(spark, name, dir, mode)
      catch { case NonFatal(e) => s"ERROR: ${e.getMessage}\n" }
      s"## $name\n\n```\n$body```\n"
    }.mkString("\n")

  /** The canonical `mode` plan of query `name` built on `dir`. */
  def plan(spark: SparkSession, name: String, dir: String, mode: String = "formatted"): String =
    canonical(SparkEntry.queries(name)(spark, dir)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.explainString(ExplainMode.fromString(mode)))

  /** Counters and addresses that differ between two builds of one plan,
    * in one JVM or two; each is masked to `_` or dropped.
    */
  private val masks = Seq(
    "#\\d+" -> "#_", // expression ids
    "plan_id=\\d+" -> "plan_id=_",
    "RDD\\[\\d+\\]" -> "RDD[_]", // RDD ids of checkpointed inputs
    "(lambda \\w+)_\\d+#" -> "$1#", // lambda variable names x_6, y_7
    "\\$\\$Lambda[$\\d]*/0x[0-9a-f]+" -> "\\$\\$Lambda", // lambda class names
    "@[0-9a-f]{1,8}\\b" -> "@_", // object hashes
    "\\.(scala|java):\\d+" -> ".$1:_" // source line numbers
  ).map { case (re, to) => re.r -> to }

  /** `gid`, the group id attribute Spark's distinct-aggregate rewrite
    * adds, and its numbers in the filters above the rewrite's Expand.
    */
  private val GroupId = "gid#_"
  private val GroupIdTest = "(gid#_ = )\\d+".r

  /** `plan` in a form two builds of the same plan print alike: [[masks]]
    * applied, and on each line of the distinct-aggregate rewrite (a
    * line naming [[GroupId]]) the group numbers masked and the lists
    * sorted. That rewrite numbers the distinct groups and orders their
    * columns by hash-set iteration over expression ids, so the Expand,
    * the aggregates and the exchange between them list the same
    * columns in a different order from build to build; no other line
    * does.
    */
  def canonical(plan: String): String = {
    val masked = masks.foldLeft(plan) { case (s, (re, to)) => re.replaceAllIn(s, to) }
    masked.split("\n", -1).map { line =>
      if (line.contains(GroupId)) sortLists(GroupIdTest.replaceAllIn(line, "$1_")) else line
    }.mkString("\n")
  }

  /** `s` with each `[...]` list and each `hashpartitioning(...)`
    * argument list sorted, nested lists first. A bare integer in a
    * `[...]` of two or more elements, the group number in an Expand
    * projection, is masked to `_`. An unclosed list is left as it is.
    */
  private def sortLists(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val open =
        if (s(i) == '[') 1
        else if (s.startsWith("hashpartitioning(", i)) "hashpartitioning(".length
        else 0
      val (elems, end) = if (open > 0) list(s, i + open) else (Nil, -1)
      if (end < 0) { out.append(s(i)); i += 1 }
      else {
        val parts = elems.map(sortLists)
        val masked =
          if (s(i) != '[' || parts.size < 2) parts
          else parts.map(p => if (p.nonEmpty && p.forall(_.isDigit)) "_" else p)
        out.append(s.substring(i, i + open)).append(masked.sorted.mkString(", ")).append(s(end))
        i = end + 1
      }
    }
    out.toString
  }

  /** The elements of the list that starts at `from`, split at its
    * top-level commas, and the index of its closing bracket; -1 when
    * the list is not closed.
    */
  private def list(s: String, from: Int): (Seq[String], Int) = {
    val parts = Seq.newBuilder[String]
    var (depth, start, i) = (0, from, from)
    while (i < s.length && (depth > 0 || (s(i) != ']' && s(i) != ')'))) {
      s(i) match {
        case '[' | '(' => depth += 1
        case ']' | ')' => depth -= 1
        case ',' if depth == 0 => parts += s.substring(start, i).trim; start = i + 1
        case _ =>
      }
      i += 1
    }
    if (i == s.length) (Nil, -1) else ((parts += s.substring(start, i).trim).result(), i)
  }
}
