package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated test tables (TESTDATA.md, FIXTURES.md).
  *
  * Scale posture: every loader is a bare parquet scan — Catalyst pushes
  * predicates and column pruning into the scan, so the downstream operator
  * decides the real cost. Nothing here collects to the driver; at cluster
  * scale these scans split by parquet row-group across executors.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** events.parquet: TYPE-ADAPTIVE loader. The driver has shipped `ts` as
    * parquet TIMESTAMP(NANOS) (rounds 1–12) and TIMESTAMP(MICROS) (round
    * 13+); this loader absorbs either and always yields the same contract:
    *
    *   - `ts`       BIGINT epoch-nanoseconds (the ordering/bucketing key)
    *   - `event_ts` TIMESTAMP_NTZ, µs precision — value-identical to
    *                DuckDB's `CAST(ts AS TIMESTAMP)` on the same file
    *
    * NANOS branch: Spark 4.x rejects TIMESTAMP(NANOS) by default, so the
    * legacy conf reads it as BIGINT and `event_ts` is derived by µs
    * truncation. MICROS branch: the column loads as a timestamp (the
    * legacy conf is a no-op); `event_ts` is a plain NTZ cast and `ts` is
    * re-derived as nanos via `unix_micros` under the session's pinned UTC
    * zone, so every downstream `div`/compare keeps working unchanged.
    *
    * The conf is set at session BUILD time by [[Session.local]], the one
    * builder every graft entry point uses (Bench, Verify, Dev and the test
    * session), so plan behavior never depends on whether events() ran
    * first. [[pinNanosAsLong]] below is only a fallback for foreign
    * sessions. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    pinNanosAsLong(spark)
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) file, read nanos-as-BIGINT
        raw.withColumn("event_ts",
          timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      case TimestampNTZType => // TIMESTAMP(MICROS) file, naive values —
        // derive epoch-micros ZONE-FREE (timestampdiff between two NTZ
        // values never consults the session zone; the previous
        // unix_micros(cast AS TIMESTAMP) silently shifted ts in any
        // foreign session not pinned to UTC)
        raw
          .withColumn("event_ts", col("ts"))
          .withColumn("ts", expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
            * lit(1000L))
      case TimestampType => // MICROS adjusted-to-UTC (an absolute instant:
        // unix_micros is zone-free here, but the NTZ render of event_ts is
        // not — pin the zone like the nanosAsLong guard above)
        pinUtc(spark)
        raw
          .withColumn("event_ts", col("ts").cast(TimestampNTZType))
          .withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts loaded as unsupported type ${other.sql} — driver data drift? " +
          "Expected BIGINT (nanos under legacy conf) or a timestamp type (micros).")
    }
  }

  /** True when dir/events.parquet physically carries TIMESTAMP(NANOS)
    * (loads as BIGINT under the legacy conf); false for TIMESTAMP(MICROS)
    * (loads as a timestamp type). Used by config builders that must emit
    * type-correct derive expressions (ep3/ep4). One footer read. */
  def eventsTsIsLong(spark: SparkSession, dir: String): Boolean = {
    pinNanosAsLong(spark)
    table(spark, dir, "events").schema("ts").dataType == LongType
  }

  /** Foreign-session guards of the events readers; no-ops in graft's sessions. */
  private[graft] def pinNanosAsLong(spark: SparkSession): Unit =
    if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").forall(_ != "true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  private[graft] def pinUtc(spark: SparkSession): Unit =
    if (spark.conf.getOption("spark.sql.session.timeZone").forall(_ != "UTC"))
      spark.conf.set("spark.sql.session.timeZone", "UTC")

  /** Naive-timestamp literal for filters against TIMESTAMP_NTZ columns. */
  def tsLit(s: String): org.apache.spark.sql.Column =
    lit(s).cast(TimestampNTZType)
}
