package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-6 extension batch 5: the risk-metrics suite a quant desk computes
  * over the reference's kline series — Sharpe/Sortino, up/down market
  * capture, drawdown durations (underwater islands), the Hurst exponent via
  * rescaled range, information ratio vs the equal-weight market, and
  * historical VaR/ES by exact order statistics.
  *
  * All queries share the hourly-bar log-return base (one bar shuffle, then
  * symbol-partitioned windows/aggregates). Engine parity: moment-style
  * double aggregates follow the `q_moments` round(6) convention; VaR/ES
  * deliberately use EXACT order statistics (a[k] of the sorted array and a
  * sequential fold over the k-element tail) instead of interpolating
  * percentiles — see `q_bot_detection` for the divergence that avoids.
  */
object Ext23Queries {

  import OracleSql.{DuckDb, retsQ, sparkQ}

  /** Sharpe and Sortino (rf = 0) per symbol, annualized by √(24·365) hourly
    * bars. Downside deviation uses the 0-target full-count convention
    * (√(Σ min(r,0)² / n)).
    */
  private val sharpeBody: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  ROUND(AVG(ret) / stddev_samp(ret) * sqrt(8760.0), 6) AS sharpe,
      |  ROUND(AVG(ret) / sqrt(SUM(CASE WHEN ret < 0 THEN ret * ret
      |      ELSE 0 END) / COUNT(*)) * sqrt(8760.0), 6) AS sortino
      |FROM rr GROUP BY event_type""".stripMargin

  def sharpeSortino(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, retsQ(sharpeBody))
  val sharpeSortinoOracle: String = retsQ(sharpeBody)(DuckDb)

  /** Up/down market capture vs the equal-weight hourly market return:
    * capture = mean(asset | market up) / mean(market | market up), and the
    * down-side mirror.
    */
  private val captureBody: String =
    """, mkt AS (
      |  SELECT hr_us, AVG(ret) AS mret FROM rr GROUP BY hr_us
      |), j AS (
      |  SELECT rr.event_type, rr.ret, mkt.mret
      |  FROM rr JOIN mkt ON rr.hr_us = mkt.hr_us
      |)
      |SELECT event_type,
      |  ROUND(AVG(CASE WHEN mret > 0 THEN ret END)
      |    / AVG(CASE WHEN mret > 0 THEN mret END), 6) AS up_capture,
      |  ROUND(AVG(CASE WHEN mret < 0 THEN ret END)
      |    / AVG(CASE WHEN mret < 0 THEN mret END), 6) AS down_capture,
      |  CAST(SUM(CASE WHEN mret > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up_hours
      |FROM j GROUP BY event_type""".stripMargin

  def upDownCapture(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, retsQ(captureBody))
  val upDownCaptureOracle: String = retsQ(captureBody)(DuckDb)

  /** Drawdown durations: underwater flag (close < running peak), islands
    * over consecutive underwater bars, longest spell + deepest drawdown per
    * symbol. Peak/close comparisons and island algebra are exact; depth is
    * a ratio of raw doubles rounded at the output.
    */
  private val ddBody: String =
    """, p AS (
      |  SELECT event_type, hr_us, close,
      |    MAX(close) OVER (PARTITION BY event_type ORDER BY hr_us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr_us)
      |      AS BIGINT) AS rn
      |  FROM bars
      |), u AS (
      |  SELECT event_type, rn, close, peak,
      |    CASE WHEN close < peak THEN 1 ELSE 0 END AS uw
      |  FROM p
      |), isl AS (
      |  SELECT event_type, uw, close, peak,
      |    rn - CAST(row_number() OVER (PARTITION BY event_type, uw
      |      ORDER BY rn) AS BIGINT) AS grp
      |  FROM u
      |), spells AS (
      |  SELECT event_type, grp, CAST(COUNT(*) AS BIGINT) AS dur,
      |    MIN(close / peak) AS worst_ratio
      |  FROM isl WHERE uw = 1 GROUP BY event_type, grp
      |)
      |SELECT event_type,
      |  MAX(dur) AS max_underwater_bars,
      |  ROUND(1 - MIN(worst_ratio), 6) AS max_drawdown,
      |  CAST(COUNT(*) AS BIGINT) AS n_spells
      |FROM spells GROUP BY event_type""".stripMargin

  def drawdownDuration(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, retsQ(ddBody))
  val drawdownDurationOracle: String = retsQ(ddBody)(DuckDb)

  /** Hurst exponent by rescaled range over two chunk sizes (16 and 64
    * bars): per chunk, R/S = (max − min of the cumulative mean-deviation)
    * / σ; H = Δ mean-log₂(R/S) / Δ log₂(n). The cumulative deviation runs
    * as a sequential window sum inside each chunk (identical order both
    * engines); only full chunks participate.
    */
  private def rsCte(sz: Int): String =
    s"""c$sz AS (
      |  SELECT event_type, (rn - 1) div $sz AS chunk, rn, ret,
      |    AVG(ret) OVER (PARTITION BY event_type, (rn - 1) div $sz) AS cmu,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type, (rn - 1) div $sz)
      |      AS BIGINT) AS cn,
      |    stddev_samp(ret) OVER (PARTITION BY event_type, (rn - 1) div $sz)
      |      AS csd
      |  FROM rn_base
      |), d$sz AS (
      |  SELECT event_type, chunk, csd,
      |    SUM(ret - cmu) OVER (PARTITION BY event_type, chunk ORDER BY rn
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd
      |  FROM c$sz WHERE cn = $sz
      |), rs$sz AS (
      |  SELECT event_type,
      |    AVG(ln((mx - mn) / sd) / ln(2.0)) AS mean_log_rs,
      |    CAST(COUNT(*) AS BIGINT) AS n_chunks
      |  FROM (
      |    SELECT event_type, chunk, MAX(cd) AS mx, MIN(cd) AS mn,
      |      MAX(csd) AS sd
      |    FROM d$sz GROUP BY event_type, chunk
      |  ) WHERE sd > 0 AND mx > mn
      |  GROUP BY event_type
      |)""".stripMargin

  private val hurstBody: String =
    s""", rn_base AS (
      |  SELECT event_type, ret,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr_us)
      |      AS BIGINT) AS rn
      |  FROM rr
      |), ${rsCte(16)},
      |${rsCte(64)}
      |SELECT a.event_type,
      |  ROUND((b.mean_log_rs - a.mean_log_rs) / 2, 6) AS hurst,
      |  a.n_chunks AS n_chunks_16, b.n_chunks AS n_chunks_64
      |FROM rs16 a JOIN rs64 b ON a.event_type = b.event_type""".stripMargin

  def hurst(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, retsQ(hurstBody))
  val hurstOracle: String = retsQ(hurstBody)(DuckDb)
    .replace(" div 16", " // 16").replace(" div 64", " // 64")

  /** Information ratio vs the equal-weight market: annualized mean active
    * return over tracking error, plus the tracking error itself.
    */
  private val irBody: String =
    """, mkt AS (
      |  SELECT hr_us, AVG(ret) AS mret FROM rr GROUP BY hr_us
      |), act AS (
      |  SELECT rr.event_type, rr.ret - mkt.mret AS aret
      |  FROM rr JOIN mkt ON rr.hr_us = mkt.hr_us
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  ROUND(stddev_samp(aret) * sqrt(8760.0), 6) AS tracking_error,
      |  ROUND(AVG(aret) / stddev_samp(aret) * sqrt(8760.0), 6)
      |    AS information_ratio
      |FROM act GROUP BY event_type""".stripMargin

  def informationRatio(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, retsQ(irBody))
  val informationRatioOracle: String = retsQ(irBody)(DuckDb)

  /** Historical VaR(95) and expected shortfall per symbol via EXACT order
    * statistics: k = ceil(0.05·n), VaR = −(k-th smallest return), ES =
    * −mean of the k worst returns computed as a sequential fold over the
    * sorted k-element tail — bit-identical on both engines, no
    * interpolation anywhere.
    */
  def varEs(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, retsQ(""", arr AS (
      |  SELECT event_type, sort_array(collect_list(ret)) AS a,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM rr GROUP BY event_type
      |), kk AS (
      |  SELECT event_type, a, n,
      |    CAST(ceil(n * CAST(0.05 AS DOUBLE)) AS INT) AS k
      |  FROM arr
      |)
      |SELECT event_type, n, k,
      |  ROUND(-element_at(a, k), 6) AS var_95,
      |  ROUND(-aggregate(slice(a, 1, k), CAST(0.0 AS DOUBLE),
      |    (acc, x) -> acc + x) / k, 6) AS es_95
      |FROM kk""".stripMargin))

  val varEsOracle: String =
    retsQ(""", arr AS (
      |  SELECT event_type, list_sort(list(ret)) AS a,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM rr GROUP BY event_type
      |), kk AS (
      |  SELECT event_type, a, n,
      |    CAST(ceil(n * CAST(0.05 AS DOUBLE)) AS INT) AS k
      |  FROM arr
      |)
      |SELECT event_type, n, k,
      |  ROUND(-a[k], 6) AS var_95,
      |  ROUND(-list_sum(a[1:k]) / k, 6) AS es_95
      |FROM kk""".stripMargin)(DuckDb)

  /** Calmar (annualized return over max drawdown) and Omega (gain/loss
    * ratio at threshold 0) per symbol — the two drawdown/partial-moment
    * ratios the Sharpe/Sortino pair misses. Running peak via cumulative
    * MAX window; drawdown algebra on raw doubles, round(6) at the edge.
    */
  private val calmarBody: String =
    """, p AS (
      |  SELECT event_type, hr_us, close,
      |    MAX(close) OVER (PARTITION BY event_type ORDER BY hr_us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM bars
      |), dd AS (
      |  SELECT event_type, MIN(close / peak - 1) AS maxdd FROM p GROUP BY 1
      |), agg AS (
      |  SELECT event_type, AVG(ret) * 8760.0 AS ann_ret,
      |    SUM(CASE WHEN ret > 0 THEN ret ELSE 0 END) AS gains,
      |    SUM(CASE WHEN ret < 0 THEN -ret ELSE 0 END) AS losses
      |  FROM rr GROUP BY 1
      |)
      |SELECT a.event_type,
      |  ROUND(a.ann_ret / (-d.maxdd), 6) AS calmar,
      |  ROUND(a.gains / a.losses, 6) AS omega,
      |  ROUND(-d.maxdd, 6) AS max_drawdown
      |FROM agg a JOIN dd d ON a.event_type = d.event_type""".stripMargin

  def calmarOmega(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, retsQ(calmarBody))
  val calmarOmegaOracle: String = retsQ(calmarBody)(DuckDb)

  /** Pairs-trading spread monitor for the (click, view) pair: log price
    * ratio of the hourly closes, z-scored against the full-sample spread
    * mean/σ, emitting the divergence hours (|z| > 1.5) a stat-arb desk
    * would trade. The mean/σ is a 1-row aggregate broadcast back — the
    * same scalar-threshold topology as q_tpch_q11/q22.
    */
  private val pairsBody: String =
    """, c1 AS (SELECT hr_us, close FROM bars WHERE event_type = 'click'),
      |c2 AS (SELECT hr_us, close FROM bars WHERE event_type = 'view'),
      |sp AS (
      |  SELECT c1.hr_us, ln(c1.close / c2.close) AS spread
      |  FROM c1 JOIN c2 ON c1.hr_us = c2.hr_us
      |), st AS (
      |  SELECT AVG(spread) AS mu, stddev_samp(spread) AS sd FROM sp
      |)
      |SELECT sp.hr_us, ROUND(sp.spread, 6) AS spread,
      |  ROUND((sp.spread - st.mu) / st.sd, 6) AS z
      |FROM sp CROSS JOIN st
      |WHERE abs((sp.spread - st.mu) / st.sd) > 1.5""".stripMargin

  def pairsSpread(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, retsQ(pairsBody))
  val pairsSpreadOracle: String = retsQ(pairsBody)(DuckDb)

  /** Portfolio turnover of the value-weighted 5-symbol book at DAILY
    * rebalance grain (hourly bars are too sparse at the smallest scale
    * factor to ever print all 5 symbols in one hour): last hourly close
    * per day → weights w = close/Σclose on days where all 5 symbols
    * print → turnover = ½·Σ|Δw| vs the previous complete day. One bar
    * re-aggregate, one per-day total (broadcastable), one
    * symbol-partitioned lag — then a 1-row audit (mean/max).
    */
  private val turnoverBody: String =
    """, db AS (
      |  SELECT event_type, hr_us div 86400000000 AS day_no, close,
      |    row_number() OVER (PARTITION BY event_type,
      |      hr_us div 86400000000 ORDER BY hr_us DESC) AS brn
      |  FROM bars
      |), dc AS (
      |  SELECT event_type, day_no, close FROM db WHERE brn = 1
      |), tot AS (
      |  SELECT day_no, SUM(close) AS tot, COUNT(*) AS k FROM dc GROUP BY 1
      |), wts AS (
      |  SELECT dc.event_type, dc.day_no, dc.close / t.tot AS w
      |  FROM dc JOIN tot t ON dc.day_no = t.day_no WHERE t.k = 5
      |), ch AS (
      |  SELECT event_type, day_no,
      |    abs(w - lag(w) OVER (PARTITION BY event_type ORDER BY day_no)) AS dw
      |  FROM wts
      |), per_day AS (
      |  SELECT day_no, SUM(dw) / 2 AS turnover
      |  FROM ch WHERE dw IS NOT NULL
      |  GROUP BY day_no HAVING COUNT(*) = 5
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
      |  ROUND(AVG(turnover), 6) AS avg_turnover,
      |  ROUND(MAX(turnover), 6) AS max_turnover
      |FROM per_day""".stripMargin

  def turnover(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, retsQ(turnoverBody))
  val turnoverOracle: String = retsQ(turnoverBody)(DuckDb)
    .replace(" div 86400000000", " // 86400000000")

  /** Jensen's alpha vs the equal-weight market: per-symbol CAPM beta from
    * population covariance/variance, alpha = (mean return − β·mean market
    * return), annualized. Same joined base as the information ratio; the
    * regression moments are single-pass aggregates.
    */
  private val jensenBody: String =
    """, mkt AS (
      |  SELECT hr_us, AVG(ret) AS mret FROM rr GROUP BY hr_us
      |), j AS (
      |  SELECT rr.event_type, rr.ret, mkt.mret
      |  FROM rr JOIN mkt ON rr.hr_us = mkt.hr_us
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  ROUND(covar_pop(ret, mret) / var_pop(mret), 6) AS beta,
      |  ROUND((AVG(ret) - covar_pop(ret, mret) / var_pop(mret) * AVG(mret))
      |    * 8760.0, 6) AS jensen_alpha
      |FROM j GROUP BY event_type""".stripMargin

  def jensenAlpha(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, retsQ(jensenBody))
  val jensenAlphaOracle: String = retsQ(jensenBody)(DuckDb)
}
