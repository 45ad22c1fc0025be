package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided synthetic corpus (TESTDATA.md).
  *
  * Tables are plain parquet; Catalyst handles column pruning and filter
  * pushdown into the scan, so every query should start from these loaders
  * rather than caching or materializing intermediates. At 100 TB the same
  * loaders point at a partitioned table root and nothing else changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.parquet stores ts as TIMESTAMP(NANOS), which Spark's parquet
    // reader rejects. Sessions set spark.sql.legacy.parquet.nanosAsLong=true
    // so the column arrives as LONG nanos; convert to a proper timestamp
    // (micros) here so every query sees the declared TIMESTAMP schema.
    val ns =
      if (name == "events" && df.schema("ts").dataType == LongType)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else df
    normalizeTimestamps(ns)
  }

  /** Engine boundary contract: event-time columns are TIMESTAMP (LTZ).
    *
    * Parquet written as TIMESTAMP_MICROS with isAdjustedToUTC=0 arrives as
    * TIMESTAMP_NTZ in Spark 4, which `withWatermark` and `unix_micros`
    * reject. The session timezone is pinned UTC (build.sbt), so casting
    * NTZ -> LTZ is value-preserving; do it once here so every downstream
    * operator (range join, streaming watermarks) sees one timestamp type
    * regardless of how the corpus writer encoded it.
    */
  def normalizeTimestamps(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType).map(_.name)
    ntz.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }

  /** Spread a small single-split input across all cores before a
    * compute-bound narrow stage (per-row digests, dot products, codecs).
    * The local testdata is one parquet row group per table, so without
    * this those stages pin to ONE task. Conditional on the planned
    * partition count: on a real multi-TB table the scan itself supplies
    * thousands of splits and this is a literal no-op (no exchange in the
    * plan at all); only an input narrower than the core count pays the
    * one round-robin move of its rows.
    */
  def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }
}
