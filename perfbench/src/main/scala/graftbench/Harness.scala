package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point: one workload in a fresh session, raw
  * observations written as JSON to `--out` for `perfbench/run.py` to
  * reduce into metrics.
  *
  * Arguments (all `--key value`): workload, data (input table dir),
  * work (this run's working dir, emptied by the caller), out, seed,
  * seconds, trace (0|1); batch: warmups, passes, queries (comma-separated
  * registry names); events: events (comma-separated key=value sizes).
  *
  * Workload `inputs` writes the `events` inputs of `--seed` to the
  * directory `--out` (backlog.txt, open.txt) and exits: the
  * benchmark's tests check the seeding with it.
  */
object Harness {
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/rdd-checkpoints")
    spark
  }

  /** CPU time of this JVM so far, in seconds, as (work, JIT): the time
    * of every thread but the JIT compiler threads, and theirs. The kernel
    * leaves out time the host stole from the machine's CPUs, which wall
    * time includes. The JIT's share is kept apart because it is the
    * noisiest part: a JVM compiles Spark for minutes, at a pace that
    * differs from run to run.
    */
  def cpuS: (Double, Double) = {
    val all = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    val jit = jitCpuS
    (all - jit, jit)
  }

  // the JVM is started with a fixed set of compiler threads, so none
  // exits and takes its time along
  private def jitCpuS: Double =
    new File("/proc/self/task").listFiles().toSeq.map { t =>
      try {
        val name = Files.readString(Paths.get(t.getPath, "comm")).trim
        if (name.matches("C[12] CompilerThre.*"))
          Files.readString(Paths.get(t.getPath, "schedstat")).split(" ")(0).toLong / 1e9
        else 0.0
      } catch { case _: java.io.IOException => 0.0 }
    }.sum

  /** Peak resident set of this JVM so far (Linux `VmHWM`), in KiB. */
  private def peakRssKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val workload = a("workload")
    val spark = session(work)
    graft.plans.GraftOps.install(spark)
    val tracer = new Tracer(a("trace") == "1", spark)
    val cores = spark.sparkContext.defaultParallelism
    def eventSizes = a("events").split(",").map { kv =>
      val Array(k, v) = kv.split("=")
      k -> v.toDouble
    }.toMap
    if (workload == "inputs") {
      val in = Events.inputs(spark, a("seed").toLong, a("seconds").toDouble, eventSizes)
      new File(a("out")).mkdirs()
      Seq("backlog" -> in.backlog, "open" -> in.open).foreach {
        case (k, lines) => Files.write(Paths.get(a("out"), s"$k.txt"), lines.toSeq.asJava)
      }
      spark.stop()
      return
    }
    val body = workload match {
      case "analytics" =>
        val out = s"$work/out"
        new File(out).mkdirs()
        Batch.run(spark, tracer, a("data"), out, a("warmups").toInt, a("passes").toInt,
          a("queries").split(",").toSeq)
      case "events" =>
        Events.run(spark, tracer, work, a("seed").toLong, a("seconds").toDouble, cores,
          eventSizes)
    }
    val result = body ++ Map(
      "rss_peak_kb" -> peakRssKb,
      "workload" -> workload,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "stamp" -> Map("nproc" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark" -> spark.version, "seed" -> a("seed").toLong),
      "trace" -> tracer.report)
    spark.stop()
    Files.writeString(Paths.get(a("out")), Json(result))
  }
}
