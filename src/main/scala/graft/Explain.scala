package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dumps the formatted physical plan of every registered query to
  * EXPLAIN.md — the plan-audit artifact (pushdown, pruning, broadcast,
  * codegen spans, exchange count are all visible per query).
  *
  * Usage: sbt "runMain graft.Explain [sfDir] [outFile]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.drop(1).headOption.getOrElse("EXPLAIN.md")
    val spark = GraftRuntime.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (formatted), generated by graft.Explain\n\n")
    sb.append(s"Data: `$sfDir` — regenerate with " +
      "`sbt \"runMain graft.Explain\"` after plan-affecting changes.\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = try {
        fn(spark, sfDir)
          .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
          .queryExecution.explainString(ExplainMode.fromString("formatted"))
      } catch { case e: Throwable => s"ERROR: ${e.getMessage}\n" }
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[explain] wrote $outFile")
    spark.stop()
  }
}
