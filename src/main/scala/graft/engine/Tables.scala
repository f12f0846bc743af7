package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table access for the driver-generated testdata star schema
  * (TESTDATA.md / FIXTURES.md). All queries read through here so the
  * scan is a plain parquet relation Catalyst can push filters into.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** `events.ts` arrives as whatever the driver's generator wrote that
    * round — TIMESTAMP(MICROS, NTZ) today, TIMESTAMP(NANOS) in earlier
    * rounds (readable only as a long via nanosAsLong) — so normalize by
    * the OBSERVED read type to microsecond TimestampType. The session
    * timezone is pinned to UTC everywhere (builder + oracle `SET
    * TimeZone='UTC'`), so the NTZ→TimestampType cast is instant-
    * preserving and matches DuckDB's naive TIMESTAMP reading.
    *
    * Predicate pushdown SURVIVES the cast: Catalyst unwraps the
    * NTZ→Timestamp cast in binary comparisons under the UTC session,
    * so a ts-range filter lands in the parquet scan's PushedFilters
    * as bounds on the NTZ column (verified in the scan plan:
    * `PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,...),
    * LessThan(ts,...)]`) — time-bounded event queries still prune row
    * groups/partitions at scale.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // nanosAsLong must be set BEFORE planning a TIMESTAMP(NANOS) scan;
    // harmless no-op on the current MICROS layout. Guarded so repeated
    // table getters don't mutate session conf on every call.
    if (!s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // legacy nanos-as-long
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw // already microsecond TimestampType
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
