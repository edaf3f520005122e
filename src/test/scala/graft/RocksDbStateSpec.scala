package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.streaming.{EventStream, ParsedEvent, PatternMatch}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** The stateful operators on the state store every graft session runs
  * by default ([[GraftRuntime.sessionConfs]]): RocksDB provider +
  * changelog checkpointing, with no opt-in. Proves (1) the provider is
  * actually engaged (RocksDB custom metrics in query progress, changelog
  * files in the checkpoint) for `patternDetect` and `enrich`, (2) state
  * stays bounded at the live-key count over a long multi-batch run —
  * matched keys release their state, (3) an open prefix survives a
  * checkpoint restart through the changelog-checkpoint recovery path,
  * (4) a checkpoint started under the HDFS provider resumes under it on
  * the default session, with every key's sequence unbroken.
  */
class RocksDbStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val Hdfs =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private def ev(id: String, t: String, ts: Long) =
    ParsedEvent(id, t, ts, Map.empty)

  /** Whether `q`'s last stateful progress carries RocksDB's custom metrics. */
  private def reportsRocksDb(q: StreamingQuery): Boolean = {
    val progresses = q.recentProgress.filter(_.stateOperators.nonEmpty)
    assert(progresses.nonEmpty, "no stateful progress recorded")
    progresses.last.stateOperators.head.customMetrics.keySet.asScala
      .exists(_.startsWith("rocksdb"))
  }

  /** Names of the files under `ckpt`'s state dir. */
  private def stateFiles(ckpt: String): Seq[String] =
    Files.walk(Paths.get(ckpt, "state")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq

  /** `enrich` over a JSON line source, into a parquet sink. */
  private def enrich(input: MemoryStream[String], out: String, ckpt: String) = {
    val (valid, _) = EventStream.parseRoute(input.toDF())
    EventStream.parquetSink(EventStream.enrich(valid.as[ParsedEvent]),
      out, ckpt, triggerMs = 100L).start()
  }

  private def line(id: String, t: String, ts: Long) =
    s"""{"id":"$id","type":"$t","timestamp":$ts,"data":{}}"""

  /** (id, sequence) of every row the sink holds, sorted. */
  private def sequences(out: String): Seq[(String, Int)] =
    spark.read.parquet(out).select("originalId", "sequence").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted

  test("patternDetect state stays bounded under RocksDB over a long run") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ParsedEvent]
    val matches = EventStream.patternDetect(
      input.toDS(), Seq("view", "click", "purchase"), windowMs = 1000000L)
    val q = matches.writeStream.format("memory")
      .queryName("rocksdb_pattern").outputMode("append").start()
    try {
      val keys = (0 until 20).map(u => s"u$u")
      // 30 batches; each batch completes a full 3-stage match for
      // every key, so per-key state is created and released within
      // the batch — total state must NEVER exceed the live-key count
      (0 until 30).foreach { b =>
        val t0 = b * 10000L
        input.addData(keys.flatMap(k => Seq(
          ev(k, "view", t0 + 1), ev(k, "click", t0 + 2),
          ev(k, "purchase", t0 + 3))): _*)
        q.processAllAvailable()
      }
      // then 5 keys park an open (view, click) prefix
      input.addData(keys.take(5).flatMap(k => Seq(
        ev(k, "view", 400000L), ev(k, "click", 400001L))): _*)
      q.processAllAvailable()

      assert(spark.table("rocksdb_pattern").count() === 20L * 30)
      val progresses = q.recentProgress.filter(_.stateOperators.nonEmpty)
      assert(progresses.nonEmpty, "no stateful progress recorded")
      // provider engaged: RocksDB-specific custom metrics present
      assert(reportsRocksDb(q), progresses.last.stateOperators.head.toString)
      // bounded: never more rows of state than live keys
      val maxRows = progresses.map(_.stateOperators.head.numRowsTotal).max
      assert(maxRows <= 20,
        s"state grew past the live-key count: $maxRows")
      // exact: only the 5 parked prefixes remain
      assert(progresses.last.stateOperators.head.numRowsTotal === 5L)
    } finally q.stop()
  }

  test("open prefix survives a restart via changelog checkpointing") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ParsedEvent]
    def detector() = EventStream.patternDetect(
      input.toDS(), Seq("view", "click", "purchase"), windowMs = 10000L)
    val out = TestSpark.tempDir("graft_rdb_sink").toString
    val ckpt = TestSpark.tempDir("graft_rdb_ckpt").toString
    val q1 = EventStream.parquetSink(detector(), out, ckpt, triggerMs = 100L).start()
    try {
      input.addData(ev("u1", "view", 1000), ev("u1", "click", 2000))
      q1.processAllAvailable()
    } finally q1.stop()
    // new query, same checkpoint: the (view, click) prefix must come
    // back from the RocksDB changelog checkpoint
    input.addData(ev("u1", "purchase", 3000))
    val q2 = EventStream.parquetSink(detector(), out, ckpt, triggerMs = 100L).start()
    try q2.processAllAvailable() finally q2.stop()
    import spark.implicits._
    val rows = spark.read.parquet(out).as[PatternMatch].collect()
    assert(rows.toSeq == Seq(PatternMatch("u1", 1000, 3000, Seq(1000, 2000, 3000))),
      rows.mkString(", "))
  }

  test("enrich runs on RocksDB with changelog checkpointing, with no opt-in") {
    implicit val sqlCtx = spark.sqlContext
    assert(!spark.conf.getOption(ProviderKey).contains(Hdfs))
    val input = MemoryStream[String]
    val out = TestSpark.tempDir("graft_rdb_enrich_sink").toString
    val ckpt = TestSpark.tempDir("graft_rdb_enrich_ckpt").toString
    val q = enrich(input, out, ckpt)
    try {
      input.addData(line("u1", "login", 1000), line("u2", "view", 2000))
      q.processAllAvailable()
      input.addData(line("u1", "view", 3000))
      q.processAllAvailable()
      assert(reportsRocksDb(q), q.lastProgress.stateOperators.head.toString)
    } finally q.stop()
    assert(sequences(out) == Seq("u1" -> 1, "u1" -> 2, "u2" -> 1))
    val files = stateFiles(ckpt)
    assert(files.exists(_.endsWith(".changelog")),
      s"no changelog files in the state checkpoint: ${files.sorted}")
  }

  test("an enrich checkpoint started under HDFS resumes under HDFS with unbroken sequences") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val out = TestSpark.tempDir("graft_rdb_pin_sink").toString
    val ckpt = TestSpark.tempDir("graft_rdb_pin_ckpt").toString
    val keys = (0 until 6).map(k => s"u$k")
    TestSpark.withConfs(ProviderKey -> Hdfs) {
      val q1 = enrich(input, out, ckpt)
      try {
        (0 until 2).foreach { b =>
          input.addData(keys.map(k => line(k, "view", 1000L * b + 1)): _*)
          q1.processAllAvailable()
        }
        assert(!reportsRocksDb(q1), "the first run should be on the HDFS provider")
      } finally q1.stop()
    }
    // same checkpoint, default session: the provider comes from the
    // checkpoint, and every key's sequence continues at 3, then 4
    val q2 = enrich(input, out, ckpt)
    try {
      (2 until 4).foreach { b =>
        input.addData(keys.map(k => line(k, "view", 1000L * b + 1)): _*)
        q2.processAllAvailable()
      }
      assert(!reportsRocksDb(q2), "a resumed checkpoint keeps the provider it started with")
    } finally q2.stop()
    assert(sequences(out) == keys.flatMap(k => (1 to 4).map(k -> _)))
    assert(!stateFiles(ckpt).exists(_.endsWith(".changelog")))
  }
}
