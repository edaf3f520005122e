package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 regression: the driver regenerated `events.parquet` with
  * `ts` as parquet TIMESTAMP(MICROS) (read by Spark as TIMESTAMP_NTZ)
  * and every events query died on the hard-coded Long-nanos
  * assumption. [[Tables.events]] now normalizes the physical encoding
  * at the read boundary; this spec pins that contract for the three
  * encodings a generator can legally emit:
  *
  *  - int64 nanos (parquet TIMESTAMP(NANOS) via nanosAsLong, or a
  *    plain BIGINT column) -> passthrough;
  *  - TIMESTAMP_NTZ (isAdjustedToUTC=false micros) -> wall-clock
  *    read as UTC (sessions pin spark.sql.session.timeZone=UTC);
  *  - TIMESTAMP (isAdjustedToUTC=true micros) -> instant micros.
  *
  * All three must produce the SAME Long-nanos column.
  */
class EncodingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // 2024-01-15T12:34:56.789012 UTC in micros since epoch
  private val micros = Seq(1705322096789012L, 0L, 1705322400000000L)

  private def writeFixture(dir: String, tsCol: org.apache.spark.sql.Column): Unit =
    micros.toDF("us")
      .withColumn("ts", tsCol)
      .withColumn("event_id", col("us"))
      .select("event_id", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("Tables.events normalizes all three ts encodings to identical Long nanos") {
    val base = TestSpark.tempDir("graft-enc").toString
    val asLong = s"$base/long"
    val asNtz = s"$base/ntz"
    val asLtz = s"$base/ltz"
    writeFixture(asLong, col("us") * 1000L)
    writeFixture(asNtz, timestamp_micros(col("us")).cast(TimestampNTZType))
    writeFixture(asLtz, timestamp_micros(col("us")))

    val expected = micros.map(_ * 1000L).sorted
    for ((dir, enc) <- Seq(asLong -> "long", asNtz -> "ntz", asLtz -> "ltz")) {
      val out = Tables.events(spark, dir)
      assert(out.schema("ts").dataType == LongType, s"$enc: ts must come out Long")
      val got = out.select("ts").as[Long].collect().sorted.toSeq
      assert(got == expected, s"$enc: nanos mismatch")
    }
  }

  test("an events table overwritten in place with another ts encoding reads with the new one") {
    // Tables reads keep each path's inferred schema while its files are
    // unchanged; a regen in place must be re-inferred, or the old
    // schema's Long would read the new file's micros unconverted
    val dir = TestSpark.tempDir("graft-enc-regen").toString
    val expected = micros.map(_ * 1000L).sorted
    writeFixture(dir, col("us") * 1000L)
    val before = Tables.events(spark, dir).select("ts").as[Long].collect().sorted.toSeq
    assert(before == expected)
    writeFixture(dir, timestamp_micros(col("us")).cast(TimestampNTZType))
    assert(Tables.read(spark, dir, "events").schema("ts").dataType == TimestampNTZType,
      "the rewritten file's encoding was not re-inferred")
    val after = Tables.events(spark, dir).select("ts").as[Long].collect().sorted.toSeq
    assert(after == expected, s"stale normalization after the rewrite: $after")
  }

  test("a changed parquet inference conf re-infers an unchanged events table") {
    // a TIMESTAMP(NANOS) ts reads as Long only under nanosAsLong; with
    // it off, inference itself rejects the type. So a second read that
    // reused the first read's schema would succeed where Spark fails.
    val dir = TestSpark.tempDir("graft-enc-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    micros.foreach(us => w.write(rows.newGroup().append("event_id", us).append("ts", us * 1000L)))
    w.close()

    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val first = Tables.events(spark, dir).select("ts").as[Long].collect().sorted.toSeq
    assert(first == micros.map(_ * 1000L).sorted)
    TestSpark.withConfs("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      val e = intercept[Exception](Tables.events(spark, dir))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains("PARQUET_TYPE_ILLEGAL")),
        s"expected re-inference to reject TIMESTAMP(NANOS), got: $e")
    }
  }

  test("Tables.orders normalizes date32 / adjusted-timestamp o_orderdate to TIMESTAMP_NTZ") {
    val base = TestSpark.tempDir("graft-enc-date").toString
    for ((enc, tsCol) <- Seq(
        "date" -> to_date(lit("1997-07-01")),
        "ltz" -> lit("1997-07-01").cast(TimestampType),
        "ntz" -> lit("1997-07-01").cast(TimestampNTZType))) {
      val dir = s"$base/$enc"
      Seq(1L, 2L).toDF("o_orderkey")
        .withColumn("o_orderdate", tsCol)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val out = Tables.orders(spark, dir)
      assert(out.schema("o_orderdate").dataType == TimestampNTZType,
        s"$enc: o_orderdate must come out TIMESTAMP_NTZ")
      val got = out.select(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
        .distinct().collect().map(_.getString(0)).toSeq
      assert(got == Seq("1997-07-01 00:00:00"), s"$enc: wall-clock drifted: $got")
    }
  }

  test("documents encoding drill: BINARY, large_string, plain-page and int32 variants read identically") {
    // The one untested lane of the regen failure class (round-3 ts,
    // round-4 dates): a generator is free to re-encode documents.text
    // as un-annotated BYTE_ARRAY (Spark: BINARY), as Arrow
    // large_string (committed pyarrow fixture — same STRING logical
    // type, different writer), with dictionary pages disabled, or the
    // integer columns as INT32. Tables.documents normalizes; the whole
    // text family must produce IDENTICAL results on every variant.
    val sf = TestSpark.sfDir
    val base = TestSpark.tempDir("graft-encdoc").toString
    val others = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "embeddings")
    def mkVariant(name: String)(writeDocs: String => Unit): String = {
      val dir = s"$base/$name"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      others.foreach { t =>
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(s"$dir/$t.parquet"),
          java.nio.file.Paths.get(s"$sf/$t.parquet"))
      }
      writeDocs(s"$dir/documents.parquet")
      dir
    }
    val raw = spark.read.parquet(s"$sf/documents.parquet")
    val binDir = mkVariant("bin") { p =>
      raw.select(col("doc_id"), col("text").cast(BinaryType).as("text"),
        col("lang").cast(BinaryType).as("lang"),
        col("source").cast(BinaryType).as("source"), col("n_chars"))
        .write.parquet(p)
    }
    val lsDir = mkVariant("largestring") { p =>
      val in = getClass.getResourceAsStream("/encdrill/documents_largestring.parquet")
      assert(in != null, "large_string fixture missing from test resources")
      java.nio.file.Files.copy(in, java.nio.file.Paths.get(p))
    }
    val plainDir = mkVariant("plainpages") { p =>
      raw.write.option("parquet.enable.dictionary", "false").parquet(p)
    }
    val i32Dir = mkVariant("int32") { p =>
      raw.select(col("doc_id").cast(IntegerType).as("doc_id"), col("text"),
        col("lang"), col("source"),
        col("n_chars").cast(IntegerType).as("n_chars"))
        .write.parquet(p)
    }
    val variants = Seq(binDir -> "binary", lsDir -> "large_string",
      plainDir -> "plain_pages", i32Dir -> "int32")

    // normalizer contract: strings come out STRING, integrals LONG
    for ((dir, tag) <- variants) {
      val sch = Tables.documents(spark, dir).schema
      assert(sch("text").dataType == StringType, s"$tag: text must read as string")
      assert(sch("lang").dataType == StringType, s"$tag: lang must read as string")
      assert(sch("doc_id").dataType == LongType, s"$tag: doc_id must read as long")
      assert(sch("n_chars").dataType == LongType, s"$tag: n_chars must read as long")
    }

    // the text family, end to end, must be byte-identical on every
    // variant (the variant dirs carry the other tables via symlink, so
    // each query runs exactly as registered)
    val family = Seq("text_langid", "text_quality", "text_tokens",
      "text_fingerprint", "text_scrub", "text_repetition", "text_entropy",
      "text_bigrams", "text_chunk", "text_lm_score", "text_ppl_bucket",
      "dedup_exact", "dedup_norm_exact", "dedup_minhash_lsh", "corpus_stats")
    family.foreach { q =>
      val want = SparkEntry.queries(q)(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(want.nonEmpty, s"$q produced no baseline rows — vacuous drill")
      for ((dir, tag) <- variants) {
        val got = SparkEntry.queries(q)(spark, dir)
          .collect().map(_.toString).sorted.toSeq
        assert(got == want, s"$q drifted on the $tag encoding")
      }
    }
  }

  test("the shipped testdata reads through the normalizer with full-precision nanos") {
    val ev = Tables.events(spark, TestSpark.sfDir)
    assert(ev.schema("ts").dataType == LongType)
    // sanity: values are plausible epoch nanos (year 2000..2100 range)
    val (lo, hi) = (9.466e17.toLong, 4.102e18.toLong)
    val bad = ev.filter(col("ts") < lo || col("ts") > hi).count()
    assert(bad == 0, s"$bad rows outside plausible epoch-nanos range")
  }
}
