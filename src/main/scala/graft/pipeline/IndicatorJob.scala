package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.operators.{Indicators, Joins}
import graft.streaming.IdempotentWriter

/** Batch indicator job — full parity with the reference's analytical core
  * (dags/spark_job_1.py:11-97), recomposed Spark-first:
  *
  *   kline fact scan -> single-pass 4-indicator window -> long shape ->
  *   null filter -> broadcast dim join -> anti-join vs existing sink ->
  *   idempotent append
  *
  * Differences from the reference, by design (SURVEY.md §3.1 findings):
  *   - ONE WindowExec pass instead of cache + 4 branch re-scans: same result,
  *     one shuffle, no cache memory at 100 TB;
  *   - no `rdd.isEmpty` pre-action (spark_job_1.py:88 triggers a full extra
  *     job) — an empty append is a no-op;
  *   - timestamps second-grain end to end, so the idempotence anti-join key
  *     survives sink round-trips (the reference's DATETIME-precision bug).
  */
object IndicatorJob {

  val keyCols: Seq[String] = Seq("symbol_id", "interval_id", "type_id", "timestamp")

  /** Pure transform: kline fact rows -> indicator fact rows (without the
    * sink-side anti-join). Input needs (symbol_id, interval_id, close_time,
    * close_price); output (symbol_id, interval_id, type_id, value, timestamp).
    */
  def computeIndicators(klines: DataFrame, typeDim: DataFrame, n: Int = 14): DataFrame = {
    val spec = Indicators.SeriesSpec(
      partitionCols = Seq("symbol_id", "interval_id"),
      orderCols = Seq("close_time"),
      priceCol = "close_price",
      n = n)
    // Indicator math runs in DOUBLE (decimal inputs would make the SMA
    // branch decimal while RSI/Bollinger are double — stack() refuses the
    // mix, and the reference's computation is effectively double anyway);
    // the declared DECIMAL(18,8) precision is applied to the OUTPUT.
    val long = Indicators.allLong(
      klines
        // a NULL close_time indicator row could never satisfy the sink
        // anti-join's NOT NULL key contract (Joins.antiJoinNew) — it would
        // be RE-APPENDED on every run, breaking the idempotence promise
        // below (round-13 fix); a timestamp-less kline carries no
        // ordering position for the window indicators anyway
        .filter(col("close_time").isNotNull)
        .select(col("symbol_id"), col("interval_id"), col("close_time"),
          col("close_price").cast("double").as("close_price")), spec)
    Joins.dimJoin(long, typeDim, Seq("type_name"))
      .select(
        col("symbol_id"), col("interval_id"), col("type_id"),
        col("value").cast(Schemas.indicatorDecimal).as("value"),
        col("close_time").as("timestamp"))
  }

  /** Drop rows already present in the sink (idempotence, spark_job_1.py:74-85). */
  def newOnly(computed: DataFrame, existing: DataFrame): DataFrame =
    Joins.antiJoinNew(computed, existing, keyCols)

  /** End-to-end run against a parquet warehouse directory: reads
    * `$dir/kline_fact` and `$dir/indicator_fact` (if it holds data),
    * appends only new indicator rows. Re-running on unchanged input
    * appends nothing. Both reads take their schema from a footer on the
    * driver ([[IdempotentWriter.readSink]]), so neither runs an inference
    * job.
    * Returns the number of rows appended.
    */
  def run(spark: SparkSession, klineFactPath: String, indicatorFactPath: String,
      typeDim: DataFrame, n: Int = 14): Long = {
    val klines = IdempotentWriter.readSink(spark, klineFactPath)
      .getOrElse(spark.read.parquet(klineFactPath))
    val computed = computeIndicators(klines, typeDim, n)
    // data files, not the path: a sink holding only a dead first append's
    // committer files would fail schema inference on every later run
    val fresh = IdempotentWriter.readSink(spark, indicatorFactPath)
      .fold(computed)(existing => newOnly(computed, existing.select(keyCols.map(col): _*)))
    // fresh is small after the anti-join; an empty result appends nothing
    IdempotentWriter.appendNonEmpty(fresh, indicatorFactPath)
  }
}
