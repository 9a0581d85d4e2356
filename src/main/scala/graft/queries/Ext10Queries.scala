package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Dedup
import graft.sources.Tables

/** Round-4 extension batch 2: market-data resampling (the reference's kline
  * tables are exactly this shape — `dags/producer_prices.py:21-27` fetches
  * OHLC candles, `dags/spark_job_1.py` consumes close prices), a
  * volume-weighted average price, the prefix-filtered set-similarity join
  * (the scale path for the exact n-gram Jaccard dedup tier), and a
  * sketch-based rolling distinct (the unbounded-cardinality form of
  * q_rolling_distinct).
  */
object Ext10Queries {

  /** OHLC candle resampling: collapse the event stream into hourly candles
    * per type — open/close picked by a total (ts, event_id) order via
    * constant-per-partition window first_value, high/low/n as plain
    * aggregates. One shuffle on (type, hour); the window and the aggregate
    * share that partitioning. The reference stores 1h/1d klines; this is the
    * operator that derives one interval from another instead of re-fetching.
    */
  private val ohlcResampleQ: OracleSql.Dialect => String = OracleSql.barsQ(
    "SELECT event_type, hr_us, open, high, low, close, vol AS n FROM bars")

  def ohlcResample(s: SparkSession, dir: String): DataFrame =
    OracleSql.sparkQ(s, dir, ohlcResampleQ)
  val ohlcResampleOracle: String = ohlcResampleQ(OracleSql.DuckDb)

  /** Volume-weighted average price per (type, day): price quantized to its
    * 2-decimal grid, volume integral from the JSON payload — the weighted sum
    * is an exact decimal, so the result is order-independent (shuffle-width
    * safe) without any rounding. Single map-side-combinable aggregation.
    */
  def vwap(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        to_date(timestamp_micros(col("ts_us"))).as("day"),
        col("value").cast(DecimalType(18, 2)).as("vq"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(
        (sum(col("vq") * col("k")).cast("double") / sum(col("k"))).as("vwap"),
        sum(col("k")).as("vol"))

  val vwapOracle: String =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(value AS DECIMAL(18,2)) AS vq,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events
      |)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
      |  CAST(SUM(vq * k) AS DOUBLE) / CAST(SUM(k) AS BIGINT) AS vwap,
      |  CAST(SUM(k) AS BIGINT) AS vol
      |FROM e GROUP BY event_type, day""".stripMargin

  /** Prefix-filtered Jaccard join ([[Dedup.jaccardPrefixPairs]]): same
    * contract and oracle as q_ngram_jaccard — the prefix filter is lossless,
    * so the candidate pruning must be invisible in the output.
    */
  def jaccardPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPrefixPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5)
      .select(col("id_1"), col("id_2"), round(col("jaccard"), 6).as("jaccard"))

  /** Rolling 7-day distinct users via mergeable HLL sketches: one sketch per
    * (type, day) partial, unioned across each day's trailing window — the
    * formulation whose state per window is O(sketch) not O(users), i.e. the
    * 100 TB path where q_rolling_distinct's exact triple-collapse still
    * shuffles every (type, day, user) once. Gated as a within-5% flag
    * against the exact count computed alongside (the driver checks the flag,
    * not the estimate — approximation error is bounded, not reproduced, by
    * the oracle).
    */
  def rollingHll(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.events(s, dir)
      .select(col("event_type"), to_date(timestamp_micros(col("ts_us"))).as("day"),
        col("user_id"))
    val daySketch = pairs.groupBy("event_type", "day")
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val days = daySketch.select(col("event_type"), col("day").as("d")).distinct()
    val est = days.join(daySketch, Seq("event_type"))
      .filter(datediff(col("d"), col("day")).between(0, 6))
      .groupBy(col("event_type"), col("d"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est"))
    val exact = pairs.distinct()
      .join(days.withColumnRenamed("d", "dd"), Seq("event_type"))
      .filter(datediff(col("dd"), col("day")).between(0, 6))
      .groupBy(col("event_type"), col("dd"))
      .agg(countDistinct("user_id").as("n_exact"))
    est.join(exact, col("d") === col("dd") && est("event_type") === exact("event_type"))
      .select(est("event_type"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("n_exact"),
        (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.05).as("within_5pct"))
  }

  val rollingHllOracle: String =
    """WITH pairs AS (
      |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id FROM events
      |), days AS (
      |  SELECT DISTINCT event_type, day FROM pairs
      |)
      |SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
      |  COUNT(DISTINCT p.user_id) AS n_exact, TRUE AS within_5pct
      |FROM days d JOIN pairs p
      |  ON p.event_type=d.event_type AND p.day BETWEEN d.day-6 AND d.day
      |GROUP BY 1, 2""".stripMargin
}
