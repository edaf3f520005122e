package graft

import graft.sources.Formats
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FormatsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val created = scala.collection.mutable.ArrayBuffer.empty[String]

  private def tmp(): String = {
    val p = TestSpark.tempDir("graft_fmt").toString
    created += p
    p
  }

  override def afterAll(): Unit = {
    import scala.reflect.io.Directory
    created.foreach(p => new Directory(new java.io.File(p)).deleteRecursively())
  }

  test("parquet/json/csv/orc round-trip the events table losslessly") {
    val ev = Tables.events(spark, TestSpark.sfDir)
      .selectExpr("event_id", "user_id", "event_type", "value", "props")
    val n = ev.count()
    val schema = ev.schema

    val pq = tmp(); Formats.writeParquet(ev, pq)
    assert(Formats.readParquet(spark, pq).count() == n)

    val js = tmp(); Formats.writeJson(ev, js)
    assert(Formats.readJson(spark, schema, js).count() == n)

    val cs = tmp(); Formats.writeCsv(ev, cs)
    assert(Formats.readCsv(spark, schema, cs).count() == n)

    val orc = tmp(); Formats.writeOrc(ev, orc)
    assert(Formats.readOrc(spark, orc).count() == n)

    // value fidelity through the lossiest format (csv)
    val back = Formats.readCsv(spark, schema, cs)
      .orderBy("event_id").collect().map(_.toSeq)
    val orig = ev.orderBy("event_id").collect().map(_.toSeq)
    assert(back.toSeq == orig.toSeq)
  }

  test("partitioned parquet layout prunes partitions on read") {
    val ev = Tables.events(spark, TestSpark.sfDir)
      .selectExpr("event_id", "user_id", "event_type")
    val out = tmp()
    Formats.writeParquet(ev, out, partitionBy = Seq("event_type"))
    val clicks = Formats.readParquet(spark, out)
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
    clicks.collect()
    val scan = clicks.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(event_type"),
      s"expected partition pruning in:\n$scan")
  }

  test("a re-read of an unchanged parquet path launches no schema-inference job") {
    val pq = tmp()
    Formats.writeParquet(Tables.events(spark, TestSpark.sfDir)
      .selectExpr("event_id", "user_id"), pq)
    val sc = spark.sparkContext
    // counts only this thread's jobs (tagged by a job group), so a job
    // from anything else running in the shared session cannot leak in
    def jobsLaunchedBy(body: => Unit): Int = {
      val group = s"formats-reread-${System.nanoTime()}"
      val jobs = new AtomicInteger
      val counter = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
            jobs.incrementAndGet()
      }
      Bridge.drainListeners(sc)
      sc.addSparkListener(counter)
      sc.setJobGroup(group, "Formats.readParquet re-read check")
      try { body; Bridge.drainListeners(sc) }
      finally { sc.clearJobGroup(); sc.removeSparkListener(counter) }
      jobs.get
    }
    val first = jobsLaunchedBy(Formats.readParquet(spark, pq))
    assert(first >= 1, "the first read infers the schema with a Spark job")
    val second = jobsLaunchedBy(Formats.readParquet(spark, pq))
    assert(second == 0, s"the second read of an unchanged path launched $second job(s)")
  }
}
