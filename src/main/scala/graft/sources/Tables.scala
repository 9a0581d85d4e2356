package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * The testdata `events` table carries TIMESTAMP(NANOS) parquet timestamps,
  * which Spark refuses by default (PARQUET_TYPE_ILLEGAL). We read them via
  * `spark.sql.legacy.parquet.nanosAsLong` and expose `ts_us` (epoch
  * microseconds, long) — microsecond grain matches DuckDB's internal timestamp
  * precision, so window ordering and equality agree exactly between the engine
  * and the oracle.
  */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** events with `ts` replaced by `ts_us` (epoch micros, long).
    *
    * Sets `spark.sql.legacy.parquet.nanosAsLong=true` on the CALLER's
    * session (a TIMESTAMP(NANOS) file cannot be read without it), so every
    * later read in that session also sees a TIMESTAMP(NANOS) column as a
    * long. [[eventsRaw]] and [[tsMicros]] hold the decoding, shared with
    * [[graft.queries.StreamQueries]]' streaming read of the same file.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = eventsRaw(spark, sfDir)
    raw.withColumn("ts_us", tsMicros(raw.schema("ts").dataType)).drop("ts")
  }

  /** The events file as stored, read with nanosAsLong set (see [[events]]):
    * `ts` is a ns long for TIMESTAMP(NANOS) and a timestamp_ntz for
    * TIMESTAMP(MICROS). */
  private[graft] def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    table(spark, sfDir, "events")
  }

  /** Epoch-µs long from an [[eventsRaw]] `ts` column of type `tsType`:
    * `ts div 1000` for the ns long, `unix_micros` for the timestamp (the
    * NTZ→timestamp cast is identity under the UTC session timezone every
    * entry point pins). Both land on the same epoch-µs longs the DuckDB
    * oracle convention (`epoch_us(ts)`) produces. */
  private[graft] def tsMicros(tsType: DataType): Column = tsType match {
    case LongType => expr("ts div 1000")
    case _ => unix_micros(col("ts").cast("timestamp"))
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
