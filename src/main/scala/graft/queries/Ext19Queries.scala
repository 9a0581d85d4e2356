package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 extension: the technical-analysis indicator tier. The reference
  * pipeline's whole analytical surface is kline indicators — SMA-14, RSI and
  * Bollinger bands over hourly candles (`dags/spark_job_1.py:25-46`, the
  * reference's only Spark job) computed from the OHLC
  * candles `dags/producer_prices.py:21-27` fetches. This tier completes the
  * standard TA toolbox a user of that pipeline reaches for next: stochastic
  * oscillator, ATR, Donchian channels, OBV, Williams %R, CCI, MFI, floor
  * pivots, MACD and Heikin-Ashi — all over the same candle shape
  * (`q_ohlc_resample` derives it from the event stream, exactly how the
  * reference derives 1h bars).
  *
  * SCALE SHAPE: every query here is (1) one shuffle to build bars keyed by
  * (symbol, hour) — map-side combinable aggregate — then (2) windows
  * partitioned by symbol only, which AQE coalesces after the second, narrower
  * exchange. Symbol count is the parallelism unit (5 event types here,
  * thousands of symbols in production klines); per-symbol bar series are
  * bounded (10 years of 1h bars ≈ 88k rows/key), which is what makes the two
  * fold-based indicators (MACD, Heikin-Ashi — inherently recursive, so not
  * window-expressible) safe as per-key sorted-list folds: O(bars-per-symbol)
  * memory, never O(total rows).
  *
  * FP parity: the indicator bodies are engine-neutral ANSI run verbatim on
  * both engines (identical op order ⇒ identical doubles); `round(_, 6)` only
  * on output columns; divisions guarded with NULLIF; EMA alphas written as
  * `CAST(2.0 AS DOUBLE)/13` in SQL so DuckDB takes the IEEE-double division
  * path (its bare-decimal literals divide in DECIMAL), matching Scala's
  * `2.0/13.0`. The two recursive folds use the recursive-CTE oracle pattern
  * (see [[Ext17Queries.holtSmoothingOracle]] — DuckDB's struct `list_reduce`
  * is unreliable).
  */
object Ext19Queries {

  import OracleSql.{DayUs, DuckDb, barsCte, barsQ, sparkQ}

  // --- window-expressible indicators (engine-neutral ANSI bodies) ------------

  /** Stochastic oscillator: raw %K over a 14-bar high/low channel, %D as the
    * 3-bar SMA of %K. Flat channels (max high == min low) yield NULL via
    * NULLIF — same contract as the reference's RSI ÷0 handling.
    */
  private val stochasticBody: String =
    """SELECT event_type, hr_us, ROUND(k_pct, 6) AS k_pct,
      |  ROUND(d_pct, 6) AS d_pct
      |FROM (
      |  -- %D's window is computed in THIS subquery and the rn gate applied
      |  -- OUTSIDE it (round-13 fix): WHERE runs before window functions,
      |  -- so a same-SELECT filter removed rows 14-15 from the 3-bar frame
      |  -- and the first emitted d_pct equaled k_pct alone — mirrored
      |  -- verbatim in the oracle, invisible to the parity gate
      |  SELECT event_type, hr_us, rn, k_pct,
      |    AVG(k_pct) OVER (PARTITION BY event_type ORDER BY hr_us
      |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS d_pct
      |  FROM (
      |    SELECT event_type, hr_us, rn,
      |      100 * (close - MIN(low) OVER w14)
      |        / NULLIF(MAX(high) OVER w14 - MIN(low) OVER w14, 0) AS k_pct
      |    FROM (
      |      SELECT *, CAST(row_number() OVER (PARTITION BY event_type
      |        ORDER BY hr_us) AS INT) AS rn FROM bars)
      |    WINDOW w14 AS (PARTITION BY event_type ORDER BY hr_us
      |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      |  )
      |)
      |WHERE rn >= 16""".stripMargin

  def stochastic(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, barsQ(stochasticBody))
  val stochasticOracle: String = barsQ(stochasticBody)(DuckDb)

  /** Average True Range (SMA-14 variant): true range folds the overnight gap
    * into the bar range via the previous close; first bar falls back to
    * high − low. The Wilder-smoothed variant is `q_macd`'s fold shape.
    */
  private val atrBody: String =
    """SELECT event_type, hr_us, ROUND(tr, 6) AS tr, ROUND(atr, 6) AS atr
      |FROM (
      |  -- the SMA-14 window is computed in THIS subquery and the rn gate
      |  -- applied OUTSIDE it (round-13 fix): WHERE runs before window
      |  -- functions, so a same-SELECT filter removed rows 2-14 from the
      |  -- frame and the first 13 emitted ATRs were partial averages —
      |  -- mirrored verbatim in the oracle, invisible to the parity gate
      |  SELECT event_type, hr_us, rn, tr,
      |    AVG(tr) OVER (PARTITION BY event_type ORDER BY hr_us
      |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS atr
      |  FROM (
      |    SELECT event_type, hr_us, rn,
      |      GREATEST(high - low,
      |        ABS(high - COALESCE(prev_close, high)),
      |        ABS(low - COALESCE(prev_close, low))) AS tr
      |    FROM (
      |      SELECT *, lag(close) OVER (PARTITION BY event_type ORDER BY hr_us)
      |          AS prev_close,
      |        CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr_us)
      |          AS INT) AS rn
      |      FROM bars)
      |  )
      |)
      |WHERE rn >= 15""".stripMargin

  def atr(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, barsQ(atrBody))
  val atrOracle: String = barsQ(atrBody)(DuckDb)

  /** Donchian channel (20-bar) with breakout flags against the PREVIOUS bar's
    * channel — comparing against the current channel can never break out
    * upward (close ≤ current max high by construction). Channel bounds are
    * raw input doubles (max/min, no arithmetic), so no rounding is needed for
    * parity; mid divides by 2 (exact in binary).
    */
  private val donchianBody: String =
    """SELECT event_type, hr_us, upper_ch, lower_ch,
      |  (upper_ch + lower_ch) / 2 AS mid_ch,
      |  CAST(CASE WHEN close > prev_upper THEN 1 ELSE 0 END AS INT)
      |    AS breakout_up,
      |  CAST(CASE WHEN close < prev_lower THEN 1 ELSE 0 END AS INT)
      |    AS breakout_dn
      |FROM (
      |  SELECT event_type, hr_us, close, rn, upper_ch, lower_ch,
      |    lag(upper_ch) OVER wt AS prev_upper,
      |    lag(lower_ch) OVER wt AS prev_lower
      |  FROM (
      |    SELECT event_type, hr_us, close, rn,
      |      MAX(high) OVER w20 AS upper_ch, MIN(low) OVER w20 AS lower_ch
      |    FROM (
      |      SELECT *, CAST(row_number() OVER (PARTITION BY event_type
      |        ORDER BY hr_us) AS INT) AS rn FROM bars)
      |    WINDOW w20 AS (PARTITION BY event_type ORDER BY hr_us
      |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
      |  )
      |  WINDOW wt AS (PARTITION BY event_type ORDER BY hr_us)
      |)
      |WHERE rn >= 21""".stripMargin

  def donchian(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, barsQ(donchianBody))
  val donchianOracle: String = barsQ(donchianBody)(DuckDb)

  /** On-balance volume: cumulative volume signed by the close-to-close
    * direction. All-integer arithmetic after the sign cast, so the running
    * sum is exact and order-independent — no rounding anywhere.
    */
  private val obvBody: String =
    """SELECT event_type, hr_us, close,
      |  CAST(SUM(sv) OVER (PARTITION BY event_type ORDER BY hr_us
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
      |FROM (
      |  SELECT event_type, hr_us, close,
      |    CAST(SIGN(close - COALESCE(
      |      lag(close) OVER (PARTITION BY event_type ORDER BY hr_us),
      |      close)) AS BIGINT) * vol AS sv
      |  FROM bars
      |)""".stripMargin

  def obv(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, barsQ(obvBody))
  val obvOracle: String = barsQ(obvBody)(DuckDb)

  /** Williams %R: the stochastic's mirror, scaled to [−100, 0]. The `+ 0`
    * collapses IEEE −0.0 to +0.0 (when close == channel high, DuckDB's ROUND
    * keeps the negative sign, Spark's drops it; −0.0 + 0 = +0.0 everywhere).
    */
  private val williamsBody: String =
    """SELECT event_type, hr_us,
      |  ROUND(-100 * (hh - close) / NULLIF(hh - ll, 0), 6) + 0 AS williams_r
      |FROM (
      |  SELECT event_type, hr_us, close, rn,
      |    MAX(high) OVER w14 AS hh, MIN(low) OVER w14 AS ll
      |  FROM (
      |    SELECT *, CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY hr_us) AS INT) AS rn FROM bars)
      |  WINDOW w14 AS (PARTITION BY event_type ORDER BY hr_us
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      |)
      |WHERE rn >= 14""".stripMargin

  def williamsR(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, barsQ(williamsBody))
  val williamsROracle: String = barsQ(williamsBody)(DuckDb)

  /** Money Flow Index: volume-weighted RSI over the typical price. Equal
    * consecutive typical prices contribute to neither flow (the published
    * definition); a window with zero negative flow yields NULL via NULLIF
    * rather than a fake 100.
    */
  private val mfiBody: String =
    """SELECT event_type, hr_us,
      |  ROUND(100 - 100 / (1 + pos_sum / NULLIF(neg_sum, 0)), 6) AS mfi
      |FROM (
      |  SELECT event_type, hr_us, rn,
      |    SUM(pos_f) OVER w14 AS pos_sum, SUM(neg_f) OVER w14 AS neg_sum
      |  FROM (
      |    SELECT event_type, hr_us, rn,
      |      CASE WHEN tp > prev_tp THEN tp * vol ELSE 0 END AS pos_f,
      |      CASE WHEN tp < prev_tp THEN tp * vol ELSE 0 END AS neg_f
      |    FROM (
      |      SELECT event_type, hr_us, vol, tp,
      |        lag(tp) OVER (PARTITION BY event_type ORDER BY hr_us)
      |          AS prev_tp,
      |        CAST(row_number() OVER (PARTITION BY event_type
      |          ORDER BY hr_us) AS INT) AS rn
      |      FROM (
      |        SELECT event_type, hr_us, vol,
      |          (high + low + close) / 3 AS tp FROM bars)
      |    )
      |  )
      |  WINDOW w14 AS (PARTITION BY event_type ORDER BY hr_us
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      |)
      |WHERE rn >= 15""".stripMargin

  def mfi(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, barsQ(mfiBody))
  val mfiOracle: String = barsQ(mfiBody)(DuckDb)

  /** Floor-trader pivot points from the PREVIOUS day's OHLC, with today's
    * close classified against the R1/S1 band — daily bars, one lag.
    */
  private val pivotBody: String =
    """SELECT event_type, hr_us AS day_us,
      |  ROUND(p, 6) AS pivot,
      |  ROUND(2 * p - prev_low, 6) AS r1,
      |  ROUND(2 * p - prev_high, 6) AS s1,
      |  ROUND(p + (prev_high - prev_low), 6) AS r2,
      |  ROUND(p - (prev_high - prev_low), 6) AS s2,
      |  CASE WHEN close > 2 * p - prev_low THEN 'above_r1'
      |       WHEN close < 2 * p - prev_high THEN 'below_s1'
      |       ELSE 'inside' END AS signal
      |FROM (
      |  SELECT event_type, hr_us, close,
      |    (prev_high + prev_low + prev_close) / 3 AS p,
      |    prev_high, prev_low
      |  FROM (
      |    SELECT event_type, hr_us, close,
      |      lag(high) OVER wd AS prev_high,
      |      lag(low) OVER wd AS prev_low,
      |      lag(close) OVER wd AS prev_close
      |    FROM bars
      |    WINDOW wd AS (PARTITION BY event_type ORDER BY hr_us)
      |  )
      |  WHERE prev_close IS NOT NULL
      |)""".stripMargin

  def pivotPoints(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, barsQ(pivotBody, DayUs))
  val pivotPointsOracle: String = barsQ(pivotBody, DayUs)(DuckDb)

  /** Commodity Channel Index: deviation of the typical price from its 20-bar
    * SMA, scaled by the window's mean absolute deviation. MAD has no window
    * aggregate in either engine — both sides fold the SAME frame-ordered
    * 20-element list (Spark `aggregate` HOF over `collect_list` OVER w20;
    * DuckDB `list_sum(list_transform(list(...) OVER w20))`), which keeps the
    * abs-sum sequential and bit-equal. The list is bounded at 20 elements —
    * constant memory per row, window-shuffle scale shape unchanged.
    */
  def cci(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, barsQ("""SELECT event_type, hr_us, ROUND((tp - sma_tp)
      |    / NULLIF(CAST(0.015 AS DOUBLE) * (aggregate(tps, CAST(0.0 AS DOUBLE),
      |      (acc, x) -> acc + ABS(x - sma_tp)) / 20), 0), 6) AS cci
      |FROM (
      |  SELECT event_type, hr_us, tp, rn,
      |    AVG(tp) OVER w20 AS sma_tp,
      |    collect_list(tp) OVER w20 AS tps
      |  FROM (
      |    SELECT *, CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY hr_us) AS INT) AS rn
      |    FROM (SELECT event_type, hr_us,
      |      (high + low + close) / 3 AS tp FROM bars))
      |  WINDOW w20 AS (PARTITION BY event_type ORDER BY hr_us
      |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
      |)
      |WHERE rn >= 20""".stripMargin))

  val cciOracle: String =
    barsQ("""SELECT event_type, hr_us, ROUND((tp - sma_tp)
      |    / NULLIF(CAST(0.015 AS DOUBLE) * (list_sum(list_transform(tps,
      |      x -> ABS(x - sma_tp))) / 20), 0), 6) AS cci
      |FROM (
      |  SELECT event_type, hr_us, tp, rn,
      |    AVG(tp) OVER w20 AS sma_tp,
      |    list(tp) OVER w20 AS tps
      |  FROM (
      |    SELECT *, CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY hr_us) AS INT) AS rn
      |    FROM (SELECT event_type, hr_us,
      |      (high + low + close) / 3 AS tp FROM bars))
      |  WINDOW w20 AS (PARTITION BY event_type ORDER BY hr_us
      |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
      |)
      |WHERE rn >= 20""".stripMargin)(DuckDb)

  // --- recursive folds (per-symbol sorted-series state) ----------------------

  /** MACD(12, 26, 9): three chained EMAs — inherently recursive, so not
    * window-expressible; folded per symbol over the hr-sorted close series
    * with a (ema12, ema26, signal) struct accumulator, seeded at the first
    * close (signal seeds at 0 = the first MACD value). Emits the final state
    * per symbol. Alphas are IEEE doubles on both engines (`2.0/13.0` in
    * Scala, `CAST(2.0 AS DOUBLE)/13` in the oracle).
    */
  def macd(s: SparkSession, dir: String): DataFrame = {
    val bars = sparkQ(s, dir, barsQ("SELECT event_type, hr_us, close FROM bars"))
    val a12 = lit(2.0 / 13.0)
    val a26 = lit(2.0 / 27.0)
    val a9 = lit(2.0 / 10.0)
    val vals = transform(array_sort(col("raw")), x => x.getField("close"))
    val seed = struct(
      element_at(vals, 1).as("e12"),
      element_at(vals, 1).as("e26"),
      lit(0.0).as("sig"))
    val folded = aggregate(
      slice(vals, lit(2), greatest(size(vals) - 1, lit(0))),
      seed,
      (acc, x) => {
        val e12 = a12 * x + (lit(1.0) - a12) * acc.getField("e12")
        val e26 = a26 * x + (lit(1.0) - a26) * acc.getField("e26")
        val sig = a9 * (e12 - e26) + (lit(1.0) - a9) * acc.getField("sig")
        struct(e12.as("e12"), e26.as("e26"), sig.as("sig"))
      })
    bars.groupBy(col("event_type"))
      .agg(collect_list(struct(col("hr_us"), col("close"))).as("raw"))
      .select(
        col("event_type"),
        size(vals).as("n_bars"),
        round(folded.getField("e12"), 6).as("ema12"),
        round(folded.getField("e26"), 6).as("ema26"),
        round(folded.getField("e12") - folded.getField("e26"), 6).as("macd"),
        round(folded.getField("sig"), 6).as("signal"),
        round(folded.getField("e12") - folded.getField("e26")
          - folded.getField("sig"), 6).as("histogram"))
  }

  val macdOracle: String =
    s"""WITH RECURSIVE ${barsCte(DuckDb, materialized = true)},
      |seq AS MATERIALIZED (
      |  SELECT event_type, close,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr_us)
      |      AS BIGINT) AS i
      |  FROM bars
      |), nn AS (
      |  SELECT event_type, MAX(i) AS n FROM seq GROUP BY event_type
      |), rec(event_type, i, e12, e26, sig) AS (
      |  SELECT event_type, i, close, close, CAST(0.0 AS DOUBLE)
      |  FROM seq WHERE i = 1
      |  UNION ALL
      |  SELECT s.event_type, s.i,
      |    (CAST(2.0 AS DOUBLE)/13) * s.close
      |      + (1 - CAST(2.0 AS DOUBLE)/13) * r.e12,
      |    (CAST(2.0 AS DOUBLE)/27) * s.close
      |      + (1 - CAST(2.0 AS DOUBLE)/27) * r.e26,
      |    (CAST(2.0 AS DOUBLE)/10) * (
      |        ((CAST(2.0 AS DOUBLE)/13) * s.close
      |          + (1 - CAST(2.0 AS DOUBLE)/13) * r.e12)
      |      - ((CAST(2.0 AS DOUBLE)/27) * s.close
      |          + (1 - CAST(2.0 AS DOUBLE)/27) * r.e26))
      |      + (1 - CAST(2.0 AS DOUBLE)/10) * r.sig
      |  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.i = r.i + 1
      |)
      |SELECT r.event_type, CAST(nn.n AS INT) AS n_bars,
      |  ROUND(r.e12, 6) AS ema12, ROUND(r.e26, 6) AS ema26,
      |  ROUND(r.e12 - r.e26, 6) AS macd, ROUND(r.sig, 6) AS signal,
      |  ROUND(r.e12 - r.e26 - r.sig, 6) AS histogram
      |FROM rec r JOIN nn ON nn.event_type = r.event_type AND r.i = nn.n""".stripMargin

  /** Heikin-Ashi candle smoothing: ha_open recurses on the previous HA bar
    * ((prev ha_open + prev ha_close)/2), so like MACD it folds per symbol;
    * divisions are by 2 and 4 (exact in binary — zero fp drift). Emits the
    * final HA bar plus the bullish-bar count, the summary a trend scanner
    * keeps per symbol.
    */
  def heikinAshi(s: SparkSession, dir: String): DataFrame = {
    val bars = sparkQ(s, dir, barsQ("SELECT event_type, hr_us, open, high, low, close FROM bars"))
    val vals = array_sort(col("raw"))
    val b1 = element_at(vals, 1)
    val haC1 = (b1.getField("open") + b1.getField("high")
      + b1.getField("low") + b1.getField("close")) / lit(4.0)
    val haO1 = (b1.getField("open") + b1.getField("close")) / lit(2.0)
    val seed = struct(
      haO1.as("ha_open"), haC1.as("ha_close"),
      when(haC1 > haO1, lit(1L)).otherwise(lit(0L)).as("bull"))
    val folded = aggregate(
      slice(vals, lit(2), greatest(size(vals) - 1, lit(0))),
      seed,
      (acc, b) => {
        val haO = (acc.getField("ha_open") + acc.getField("ha_close")) / lit(2.0)
        val haC = (b.getField("open") + b.getField("high")
          + b.getField("low") + b.getField("close")) / lit(4.0)
        struct(haO.as("ha_open"), haC.as("ha_close"),
          (acc.getField("bull")
            + when(haC > haO, lit(1L)).otherwise(lit(0L))).as("bull"))
      })
    bars.groupBy(col("event_type"))
      .agg(collect_list(struct(col("hr_us"), col("open"), col("high"),
        col("low"), col("close"))).as("raw"))
      .select(
        col("event_type"),
        size(vals).as("n_bars"),
        round(folded.getField("ha_open"), 6).as("ha_open"),
        round(folded.getField("ha_close"), 6).as("ha_close"),
        folded.getField("bull").as("bull_bars"))
  }

  val heikinAshiOracle: String =
    s"""WITH RECURSIVE ${barsCte(DuckDb, materialized = true)},
      |seq AS MATERIALIZED (
      |  SELECT event_type, open, high, low, close,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr_us)
      |      AS BIGINT) AS i
      |  FROM bars
      |), nn AS (
      |  SELECT event_type, MAX(i) AS n FROM seq GROUP BY event_type
      |), rec(event_type, i, ha_open, ha_close, bull) AS (
      |  SELECT event_type, i, (open + close) / 2,
      |    (open + high + low + close) / 4,
      |    CAST(CASE WHEN (open + high + low + close) / 4
      |      > (open + close) / 2 THEN 1 ELSE 0 END AS BIGINT)
      |  FROM seq WHERE i = 1
      |  UNION ALL
      |  SELECT s.event_type, s.i,
      |    (r.ha_open + r.ha_close) / 2,
      |    (s.open + s.high + s.low + s.close) / 4,
      |    r.bull + CASE WHEN (s.open + s.high + s.low + s.close) / 4
      |      > (r.ha_open + r.ha_close) / 2 THEN 1 ELSE 0 END
      |  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.i = r.i + 1
      |)
      |SELECT r.event_type, CAST(nn.n AS INT) AS n_bars,
      |  ROUND(r.ha_open, 6) AS ha_open, ROUND(r.ha_close, 6) AS ha_close,
      |  r.bull AS bull_bars
      |FROM rec r JOIN nn ON nn.event_type = r.event_type AND r.i = nn.n""".stripMargin
}
