package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Typed access to the driver-generated parquet tables.
  *
  * All operators read through here so that column pruning / predicate
  * pushdown always start from a plain parquet scan (Catalyst pushes
  * the operator's own `select`/`filter` into the scan).
  *
  * Reads go through [[graft.sources.Formats.readParquet]], which infers
  * a table's schema once per file fingerprint and session conf: a
  * query build re-reading an unchanged table lists its files but runs
  * no schema-inference job, and a regenerated table (new files, new
  * lengths or modification times) or a changed parquet conf is
  * re-inferred on its next read.
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Formats.readParquet(spark, s"$dir/$name.parquet")

  /** Every operator assumes `events.ts` is Long nanoseconds since the
    * epoch, but the generator is free to encode the column as parquet
    * TIMESTAMP(NANOS) (read as Long via nanosAsLong), TIMESTAMP(MICROS)
    * isAdjustedToUTC=false (read as TIMESTAMP_NTZ), or
    * isAdjustedToUTC=true (read as TIMESTAMP). Normalize all three to
    * Long nanos here — one projection on top of the scan, so pruning
    * of the other columns still reaches parquet. NTZ wall-clock is
    * interpreted in the session timezone; every graft entry point pins
    * `spark.sql.session.timeZone=UTC`, matching the DuckDB oracle's
    * naive-UTC `CAST(ts AS TIMESTAMP)`.
    */
  private def tsToNanos(dt: DataType): Column = dt match {
    case LongType          => col("ts")
    case TimestampNTZType  => unix_micros(col("ts").cast(TimestampType)) * lit(1000L)
    case TimestampType     => unix_micros(col("ts")) * lit(1000L)
    case other => throw new IllegalStateException(
      s"events.ts: unsupported physical type $other")
  }

  def region(s: SparkSession, d: String): DataFrame = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame =
    dateishToNtz(read(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    dateishToNtz(read(s, d, "lineitem"), "l_shipdate")
  /** Same drift guard for the date-carrying dimension columns: the
    * generator currently writes them as TIMESTAMP(MICROS) NTZ, but
    * DATE (date32) and adjusted-to-UTC TIMESTAMP are equally legal
    * encodings of a day value. Normalize to TIMESTAMP_NTZ — what the
    * engine and every declared oracle output expect — so a regen
    * cannot break the TPC-H family the way round 3's ts regen broke
    * the events family (drill: date32 orders/lineitem flipped only
    * the two o_orderdate passthrough outputs; this repairs those and
    * keeps comparisons/year()/epoch-math identical).
    */
  private def dateishToNtz(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case TimestampNTZType => df
      case DateType | TimestampType =>
        df.withColumn(c, col(c).cast(TimestampNTZType))
      case other => throw new IllegalStateException(
        s"$c: unsupported physical type $other")
    }

  def events(s: SparkSession, d: String): DataFrame = {
    val raw = read(s, d, "events")
    raw.withColumn("ts", tsToNanos(raw.schema("ts").dataType))
  }

  /** The normalized `ts` (nanos, see [[events]]) as epoch millis —
    * ONE spelling of the unit conversion for every consumer
    * (Temporal/Patterns/Stats all bucket on millis); if the physical
    * encoding ever changes again, this and [[events]]'s normalizer
    * are the only places that know.
    */
  val eventTsMs: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr("ts div 1000000")
  /** Same drift guard for the text table, the one lane of the
    * round-3/4 failure class (a generator regen changing the physical
    * encoding) that had no normalizer: a writer may legally emit
    * `text`/`lang`/`source` as un-annotated BYTE_ARRAY (read by Spark
    * as BINARY — e.g. a bytes-typed writer) or as Arrow large_string
    * (same parquet STRING logical type, different writer layout), and
    * the integer columns as INT32. Normalize binaries to UTF-8
    * strings and integrals to Long — conditional per-column casts in
    * one projection, so pruning of untouched columns still reaches
    * the parquet scan. Dictionary-encoded vs plain pages are a
    * page-level detail the reader handles; EncodingSpec drills all of
    * these against the same query results.
    */
  def documents(s: SparkSession, d: String): DataFrame = {
    val raw = read(s, d, "documents")
    raw.schema.fields.foldLeft(raw) { (df, f) =>
      (f.dataType, f.name) match {
        case (BinaryType, n) => df.withColumn(n, col(n).cast(StringType))
        case (IntegerType | ShortType, n) => df.withColumn(n, col(n).cast(LongType))
        case _ => df
      }
    }
  }
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
