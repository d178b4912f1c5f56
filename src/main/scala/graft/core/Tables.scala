package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders for the driver-provided testdata layout
  * (`TESTDATA.md`): one parquet file per table under a scale-factor dir.
  *
  * All engine operators take DataFrames, not paths — these helpers are the
  * only place that knows the on-disk layout, so swapping parquet for Delta
  * or a catalog table at cluster scale is a one-file change.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** Normalizes an externally-produced timestamp column to `TimestampType`.
    *
    * Parquet written by different producers encodes the "same" timestamp at
    * least three ways, and a 100 TB lake mixes all of them:
    *   - INT64 TIMESTAMP(NANOS): Spark's reader rejects it outright unless
    *     `spark.sql.legacy.parquet.nanosAsLong` surfaces it as a raw long —
    *     exact `div 1000` to µs (all testdata values are whole µs, matching
    *     what DuckDB's µs TIMESTAMP sees).
    *   - TIMESTAMP(isAdjustedToUTC=false, µs): surfaces as TIMESTAMP_NTZ in
    *     Spark 4; a bare cast to TimestampType is exact under the UTC
    *     session timezone the engine pins.
    *   - TIMESTAMP(isAdjustedToUTC=true, µs): already TimestampType.
    * Anything else (string/date) falls through a plain cast.
    */
  def normalizeTimestamp(df: DataFrame, colName: String): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, timestamp_micros(expr(s"`$colName` div 1000")))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case TimestampType => df
      case _ => df.withColumn(colName, col(colName).cast(TimestampType))
    }
  }

  /** Operator-side timestamp coercion. TIMESTAMP_NTZ → TIMESTAMP is
    * unambiguous (exact under the UTC session zone the engine pins); a raw
    * LONG is NOT — epoch seconds/millis/micros/nanos are indistinguishable
    * by type, and guessing a unit here would silently corrupt every
    * downstream comparison. Callers with long epochs must state the unit
    * explicitly (`timestamp_micros`/`timestamp_seconds`, or
    * [[normalizeTimestamp]] at INGESTION where the producer's encoding is
    * known — the nanos arm above exists because the testdata's writer is
    * known to emit INT64 nanos).
    */
  def requireTimestamp(df: DataFrame, colName: String): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema(colName).dataType match {
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalArgumentException(
        s"column '$colName' must be TIMESTAMP or TIMESTAMP_NTZ; got $other — " +
          "convert explicitly (timestamp_micros/timestamp_seconds) so the " +
          "epoch unit is stated, not guessed")
    }
  }

  /** events.parquet's `ts` encoding has changed across testdata generations
    * (INT64-nanos, then NTZ-µs); normalize whatever shows up.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTimestamp(table(spark, sfDir, "events"), "ts")
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")

  /** The r7 TIMESTAMP_NTZ incident, applied forward: a regenerated
    * embeddings.parquet could plausibly arrive as `array<double>` (or a
    * 32-bit label) and would kill every ANN/dedup gate at ANALYSIS time.
    * Normalize the vector to `array<float>` and the label to int here,
    * in the one place that knows the layout.
    */
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val raw = table(spark, sfDir, "embeddings")
    val vecNorm = raw.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => raw
      case ArrayType(_, _) =>
        raw.withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
      case other => throw new IllegalArgumentException(
        s"embeddings.embedding must be an array column; got $other")
    }
    // label is OPTIONAL: most ANN/dedup consumers are vector-only, and a
    // regenerated file without the column must not widen the blast
    // radius from "two label queries fail" to "every embedding gate dies"
    if (!vecNorm.schema.fieldNames.contains("label")) vecNorm
    else vecNorm.schema("label").dataType match {
      case IntegerType => vecNorm
      case _ => vecNorm.withColumn("label", col("label").cast(IntegerType))
    }
  }
}
