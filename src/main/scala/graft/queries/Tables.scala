package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Table loaders + shared determinism helpers for the oracle query surface.
  *
  * Determinism rules (FIXTURES.md): every query has a total explicit
  * ordering; money/float aggregates go through exact integer cents
  * (`round(x*100) → long`) so the sum is order-insensitive and hash-stable
  * across Spark and DuckDB; DuckDB `sum(BIGINT)` returns HUGEINT so every
  * oracle SQL casts aggregate sums back to BIGINT.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  /** Normalize an `events.ts` column to session-zoned microsecond
    * TimestampType regardless of how the generator wrote the parquet —
    * the physical layout has changed across test-data generations and
    * the whole query surface must be layout-agnostic:
    *
    *  - TIMESTAMP(NANOS): vanilla Spark rejects it ([PARQUET_TYPE_ILLEGAL]);
    *    read as raw nanos via the legacy conf (see [[events]]) and rebuild
    *    µs with integer division (`div`, not `/` — nanos ≈ 1.7e18 exceeds
    *    double's 2^53 exact-integer range, so float division would corrupt
    *    low bits).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark infers
    *    TimestampNTZType; cast to TimestampType. The session timezone is
    *    pinned UTC everywhere (Verify/Bench/tests), so the cast
    *    reinterprets the wall-clock value as the identical UTC instant —
    *    bit-identical µs to what the nanos path produced, and downstream
    *    `unix_millis`/`unix_micros`/`window` keep their LTZ input type.
    *  - TimestampType already: pass through.
    *
    * DuckDB reads the same file natively on every layout (TIMESTAMP_NS or
    * TIMESTAMP), so `epoch_ms`/`epoch_us` oracle arithmetic agrees. ts is
    * monotone in event_id with no µs collisions in the test data, so any
    * ns→µs truncation cannot reorder anything relative to the oracle. */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      // REPO-WIDE CONTRACT: a LongType ts is raw NANOSECONDS — the shape
      // the legacy nanosAsLong conf produces from TIMESTAMP(NANOS)
      // parquet, and the unit every synthetic drop-dir writer emits
      // (millis × 1e6: the gap-session property specs).
      // A µs-long routed through here would come out 1000× in the past;
      // there is no cheap runtime check (a magnitude probe would need a
      // scan, impossible on a stream), so the unit is enforced by
      // convention + the writers' code, documented here.
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  def events(s: SparkSession, d: String): DataFrame = {
    // Harmless for µs layouts; required before the scan for nanos ones.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(t(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Exact cents: round(x*100) as long. Input values have ≤2 decimals, so
    * this is lossless; summing longs is order-insensitive. */
  def cents(c: Column): Column = round(c * 100, 0).cast("long")
}
