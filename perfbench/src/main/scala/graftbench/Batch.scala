package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The analytics workload: a fixed query list from the registry, run
  * closed loop by one client, each query written through the `noop`
  * sink (not `count()`, under which Catalyst would drop top-level
  * sorts). One untimed pass writes every output for the DuckDB oracle,
  * `warmups` untimed `noop` passes let codegen and the JIT settle (the
  * first passes of a JVM run up to 1.7 times slower than later ones),
  * then a fixed number of timed passes run: fixed, not time-boxed, so
  * the pass count does not follow machine speed.
  */
object Batch {
  private def clearCaches(spark: SparkSession): Unit = {
    // materialize-once layouts persist internally; drop them between
    // passes so no pass reads another's cached blocks
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def run(spark: SparkSession, tracer: Tracer, data: String, out: String,
      warmups: Int, passes: Int, names: Seq[String]): Map[String, Any] = {
    val fns = names.map(n => n -> graft.SparkEntry.queries(n))
    val errors = mutable.Map.empty[String, String]

    def exec(name: String, f: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      try {
        val df = tracer.span(s"build:$name", "operators.build")(f(spark, data))
        tracer.span(s"exec:$name", "operators.exec")(
          df.write.format("noop").mode("overwrite").save())
        true
      } catch {
        case NonFatal(e) =>
          errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      }

    // warm-up and correctness dump in one untimed pass: each output is
    // written in the layout tools/oracle_check.py reads (one parquet
    // dir per query plus the oracle SQL and the expected-query manifest)
    fns.foreach { case (n, f) =>
      try f(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      catch {
        case NonFatal(e) =>
          errors.getOrElseUpdate(n, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      clearCaches(spark)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json(oracle))
    Files.writeString(Paths.get(s"$out/manifest.json"), Json(names))
    (0 until warmups).foreach { _ =>
      fns.foreach { case (n, f) => exec(n, f) }
      clearCaches(spark)
    }

    val firstOpMs = System.currentTimeMillis()
    val firstOpCpuS = Harness.cpuS
    tracer.start()
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passS = mutable.ArrayBuffer.empty[Double]
    val passCpuS = mutable.ArrayBuffer.empty[Double]
    val passJitS = mutable.ArrayBuffer.empty[Double]
    while (passS.size < passes) {
      val pass = passS.size
      val p0 = System.nanoTime()
      val (c0, j0) = Harness.cpuS
      tracer.span(s"pass:$pass", "harness") {
        fns.foreach { case (n, f) =>
          val q0 = System.nanoTime()
          val ok = tracer.span(s"query:$n", "operators")(exec(n, f))
          samples += Map("query" -> n, "pass" -> pass, "ok" -> ok,
            "s" -> (System.nanoTime() - q0) / 1e9)
        }
      }
      passS += (System.nanoTime() - p0) / 1e9
      val (c1, j1) = Harness.cpuS
      passCpuS += c1 - c0
      passJitS += j1 - j0
      clearCaches(spark)
    }
    tracer.stop()

    Map("first_op_ms" -> firstOpMs, "first_op_cpu_s" -> firstOpCpuS._1,
      "first_op_jit_s" -> firstOpCpuS._2, "pass_s" -> passS.toSeq,
      "pass_cpu_s" -> passCpuS.toSeq, "pass_jit_s" -> passJitS.toSeq,
      "queries" -> names, "samples" -> samples.toSeq, "errors" -> errors.toMap)
  }
}
