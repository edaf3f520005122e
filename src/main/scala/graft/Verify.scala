package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter (dev only;
    // the driver always passes two args = full run)]
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2)
        Some(args(2).split(',').map(_.trim).filter(_.nonEmpty).toSet)
      else None
    // typo'd filter names must fail LOUDLY (the Bench filter rule):
    // the manifest and oracle dump are filtered by the same set, so a
    // silent miss would produce a self-consistent near-empty run the
    // checker reports all-green
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown query names in filter: ${unknown.mkString(", ")}")
    }
    val dumped = (name: String) => only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the same SMJ->SHJ bound as Bench, so correctness verifies the
    // plans the bench actually executes
    val spark = GraftRuntime.local(cpus.toInt, GraftRuntime.ShjThreshold)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete()
    }
    SparkEntry.queries
      .filter { case (name, _) => dumped(name) }
      .foreach { case (name, fn) =>
      // drop any previous dump first: a query failing before its
      // write must leave NO output, not a stale one the oracle
      // compare would green-light
      deleteRec(new java.io.File(s"$outDir/$name"))
      // NonFatal only (the Bench rule): swallowing an OOM and dumping
      // the remaining queries on a dying heap would turn one fatal
      // error into a scatter of misleading per-query mismatches
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the materialize-once ranking layouts (GraftOps.ntileByRange)
      // persist internally and cannot unpersist themselves — without
      // this, cached layouts accumulate across the 161-query run
      // (r13 review; Bench clears per rep for the same reason)
      spark.catalog.clearCache()
      // r18: also drop RDD-level persists (localCheckpoint frames) —
      // they register in the block manager, not the catalog, and
      // accumulate across the 162-query run exactly as in Bench (see
      // its rep-loop comment; the r17 driver correctness run read
      // dedup_embedding_keep at 103 s with this signature).
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql.filter { case (k, _) => dumped(k) }))
    // full expected-query manifest so the checker can flag a
    // rows-only query that silently stopped producing output
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      Json.write(SparkEntry.queries.keys.toSeq.sorted.filter(dumped)))
    spark.stop()
  }
}
