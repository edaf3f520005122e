package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev-only: formatted physical plan of ONE registered query against
  * an arbitrary data dir — for checking how a plan CHANGES across
  * scale tiers (Explain.scala dumps the whole registry at sf0.001;
  * building the whole registry against a 100x tier would execute the
  * eager-loop queries). Runs on `SPARK_GRAFT_CPUS` cores (default 4)
  * with one shuffle partition per core, as Bench does, so it prints
  * the plans Bench executes.
  *
  * Usage: sbt "runMain graft.PlanPeek <query> [dir] [mode]"
  */
object PlanPeek {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val mode = args.drop(2).headOption.getOrElse("formatted")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftRuntime.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    println(SparkEntry.queries(name)(spark, dir)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.explainString(ExplainMode.fromString(mode)))
    spark.stop()
  }
}
