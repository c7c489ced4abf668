package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType}

/** Loaders for the driver testdata tables (TESTDATA.md / FIXTURES.md §B).
  *
  * All reads go through `spark.read.parquet` so Catalyst gets native
  * column pruning + predicate pushdown into the parquet scans. At 100 TB
  * the same call works against a partitioned directory tree; nothing here
  * assumes single-file layout.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events.ts normalization. The driver testdata has shipped two physical
    * encodings across rounds: TIMESTAMP(NANOS) (Spark 4 rejects it outright
    * with PARQUET_TYPE_ILLEGAL, so it is read nanos-as-long and truncated to
    * µs — the truncation DuckDB applies scanning NANOS into its µs
    * TIMESTAMP) and TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4
    * infers as TIMESTAMP_NTZ. Every downstream operator (unix_micros,
    * LTZ-literal comparisons) wants plain TIMESTAMP, so both encodings are
    * normalized here, at the single load point. Under the UTC session
    * timezone all entry points set, NTZ→LTZ is a pure reinterpretation of
    * the same epoch micros DuckDB's epoch_us(ts) reads — oracle agreement
    * is exact either way.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    eventsTs(raw.schema("ts").dataType).fold(raw)(e => raw.withColumn("ts", expr(e)))
  }

  /** The SQL expression that normalizes an events `ts` column of physical
    * type `t` to plain TIMESTAMP (see [[events]]), None when it already is
    * one. The one owner of that decision: [[events]] applies it, and
    * [[Sql.registerPersistent]] splices it into its view text.
    */
  def eventsTs(t: DataType): Option[String] = t match {
    case LongType => Some("timestamp_micros(ts div 1000)")
    case TimestampNTZType => Some("CAST(ts AS TIMESTAMP)")
    case _ => None
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
