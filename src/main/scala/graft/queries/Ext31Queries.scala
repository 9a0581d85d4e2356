package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 extension: technical-analysis indicator tier 2. Completes the
  * candle toolbox begun in [[Ext19Queries]] (the reference pipeline's SMA /
  * RSI / Bollinger surface, `dags/spark_job_1.py:25-46`, the reference's
  * only Spark job) with
  * the next shelf of published indicators: Vortex, Ichimoku Cloud, Chaikin
  * Money Flow, Ulcer Index, Chande Momentum Oscillator, and Keltner
  * Channels.
  *
  * Same contract as Ext19: every window-expressible indicator is an
  * engine-neutral ANSI body over the shared hourly-bars CTE, run verbatim
  * on Spark and DuckDB (identical op order ⇒ identical IEEE doubles;
  * `ROUND(_, 6)` only on output columns; divisions guarded with NULLIF).
  * Keltner needs EMA smoothing — inherently recursive, so it follows the
  * [[Ext19Queries.macd]] per-symbol sorted-fold pattern with a
  * recursive-CTE oracle.
  *
  * SCALE SHAPE: identical to Ext19 — one map-side-combinable shuffle to
  * (symbol, hour) bars, then symbol-partitioned windows; per-symbol series
  * are bounded (≈88k hourly bars / decade), so the Keltner fold is
  * O(bars-per-symbol) memory, never O(total rows).
  */
object Ext31Queries {

  import OracleSql.{DuckDb, barsCte, barsQ, sparkQ}

  /** Vortex Indicator (14): VI+ = Σ|high − prev_low| / Σ TR,
    * VI− = Σ|low − prev_high| / Σ TR over the trailing 14 bars. The first
    * bar of each symbol has no prev bar — its VM terms are NULL and both
    * engines' SUM skips them identically; rows emit once every window term
    * is from a full 14-bar span (rn >= 15).
    */
  private val vortexBody: String =
    """SELECT event_type, hr_us,
      |  ROUND(vp / NULLIF(trs, 0), 6) AS vi_plus,
      |  ROUND(vm / NULLIF(trs, 0), 6) AS vi_minus
      |FROM (
      |  SELECT event_type, hr_us, rn,
      |    SUM(vm_plus) OVER w14 AS vp,
      |    SUM(vm_minus) OVER w14 AS vm,
      |    SUM(tr) OVER w14 AS trs
      |  FROM (
      |    SELECT event_type, hr_us, rn,
      |      ABS(high - prev_low) AS vm_plus,
      |      ABS(low - prev_high) AS vm_minus,
      |      GREATEST(high - low,
      |        ABS(high - COALESCE(prev_close, high)),
      |        ABS(low - COALESCE(prev_close, low))) AS tr
      |    FROM (
      |      SELECT event_type, hr_us, high, low,
      |        lag(high) OVER wt AS prev_high,
      |        lag(low) OVER wt AS prev_low,
      |        lag(close) OVER wt AS prev_close,
      |        CAST(row_number() OVER wt AS INT) AS rn
      |      FROM bars
      |      WINDOW wt AS (PARTITION BY event_type ORDER BY hr_us)
      |    )
      |  )
      |  WINDOW w14 AS (PARTITION BY event_type ORDER BY hr_us
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      |)
      |WHERE rn >= 15""".stripMargin

  def vortex(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, barsQ(vortexBody))
  val vortexOracle: String = barsQ(vortexBody)(DuckDb)

  /** Ichimoku Cloud: conversion (9-bar midpoint), base (26), leading span A
    * ((conv+base)/2 from 26 bars back — the value PLOTTED at this bar),
    * leading span B (52-bar midpoint from 26 back), lagging close (26
    * ahead, NULL near the series end — identically in both engines). Rows
    * emit once span B's full 52+26-bar history exists (rn >= 78). Midpoint
    * arithmetic is max/min plus divides by 2 — exact in binary, so no
    * rounding is needed for parity.
    */
  private val ichimokuBody: String =
    """SELECT event_type, hr_us, conversion, base, span_a, span_b, chikou
      |FROM (
      |  SELECT event_type, hr_us, rn,
      |    (h9 + l9) / 2 AS conversion,
      |    (h26 + l26) / 2 AS base,
      |    lag((h9 + l9) / 2 + (h26 + l26) / 2, 26) OVER wt / 2 AS span_a,
      |    lag((h52 + l52) / 2, 26) OVER wt AS span_b,
      |    lead(close, 26) OVER wt AS chikou
      |  FROM (
      |    SELECT event_type, hr_us, close,
      |      MAX(high) OVER w9 AS h9, MIN(low) OVER w9 AS l9,
      |      MAX(high) OVER w26 AS h26, MIN(low) OVER w26 AS l26,
      |      MAX(high) OVER w52 AS h52, MIN(low) OVER w52 AS l52,
      |      CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr_us)
      |        AS INT) AS rn
      |    FROM bars
      |    WINDOW
      |      w9 AS (PARTITION BY event_type ORDER BY hr_us
      |        ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
      |      w26 AS (PARTITION BY event_type ORDER BY hr_us
      |        ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
      |      w52 AS (PARTITION BY event_type ORDER BY hr_us
      |        ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
      |  )
      |  WINDOW wt AS (PARTITION BY event_type ORDER BY hr_us)
      |)
      |WHERE rn >= 78""".stripMargin

  def ichimoku(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, barsQ(ichimokuBody))
  val ichimokuOracle: String = barsQ(ichimokuBody)(DuckDb)

  /** Chaikin Money Flow (20): Σ(money-flow volume) / Σ(volume) over 20
    * bars, where MFV = close-location value × volume. Flat bars
    * (high == low) contribute no MFV but full volume — the published
    * definition; NULLIF guards the all-flat window.
    */
  private val cmfBody: String =
    """SELECT event_type, hr_us,
      |  ROUND(mfv_sum / NULLIF(vol_sum, 0), 6) AS cmf
      |FROM (
      |  SELECT event_type, hr_us, rn,
      |    SUM(mfv) OVER w20 AS mfv_sum,
      |    SUM(CAST(vol AS DOUBLE)) OVER w20 AS vol_sum
      |  FROM (
      |    SELECT event_type, hr_us, vol,
      |      ((close - low) - (high - close)) / NULLIF(high - low, 0)
      |        * vol AS mfv,
      |      CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr_us)
      |        AS INT) AS rn
      |    FROM bars
      |  )
      |  WINDOW w20 AS (PARTITION BY event_type ORDER BY hr_us
      |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
      |)
      |WHERE rn >= 20""".stripMargin

  def cmf(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, barsQ(cmfBody))
  val cmfOracle: String = barsQ(cmfBody)(DuckDb)

  /** Ulcer Index (14): RMS of the percentage drawdown from the trailing
    * 14-bar close high. Two stacked windows (drawdown, then its mean
    * square), so rows emit at rn >= 27 when both are full; NULLIF guards a
    * zero rolling high (synthetic closes can be ≤ 0).
    */
  private val ulcerBody: String =
    """SELECT event_type, hr_us,
      |  ROUND(SQRT(msq), 6) AS ulcer
      |FROM (
      |  SELECT event_type, hr_us, rn,
      |    AVG(dd * dd) OVER w14b AS msq
      |  FROM (
      |    SELECT event_type, hr_us, rn,
      |      100 * (close - hh) / NULLIF(hh, 0) AS dd
      |    FROM (
      |      SELECT event_type, hr_us, close,
      |        MAX(close) OVER w14 AS hh,
      |        CAST(row_number() OVER (PARTITION BY event_type
      |          ORDER BY hr_us) AS INT) AS rn
      |      FROM bars
      |      WINDOW w14 AS (PARTITION BY event_type ORDER BY hr_us
      |        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      |    )
      |  )
      |  WINDOW w14b AS (PARTITION BY event_type ORDER BY hr_us
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      |)
      |WHERE rn >= 27""".stripMargin

  def ulcer(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, barsQ(ulcerBody))
  val ulcerOracle: String = barsQ(ulcerBody)(DuckDb)

  /** Chande Momentum Oscillator (14): 100·(Σup − Σdown)/(Σup + Σdown) over
    * close-to-close moves — RSI's unsmoothed cousin, symmetric in
    * [−100, 100]. A 14-bar window with zero movement yields NULL via
    * NULLIF (the reference's RSI ÷0 contract). `+ 0` collapses IEEE −0.0
    * (all-down windows) to +0.0 identically on both engines.
    */
  private val cmoBody: String =
    """SELECT event_type, hr_us,
      |  ROUND(100 * (up_sum - dn_sum) / NULLIF(up_sum + dn_sum, 0), 6) + 0
      |    AS cmo
      |FROM (
      |  SELECT event_type, hr_us, rn,
      |    SUM(up) OVER w14 AS up_sum, SUM(dn) OVER w14 AS dn_sum
      |  FROM (
      |    SELECT event_type, hr_us, rn,
      |      GREATEST(diff, 0) AS up, GREATEST(-diff, 0) AS dn
      |    FROM (
      |      SELECT event_type, hr_us,
      |        close - lag(close) OVER wt AS diff,
      |        CAST(row_number() OVER wt AS INT) AS rn
      |      FROM bars
      |      WINDOW wt AS (PARTITION BY event_type ORDER BY hr_us)
      |    )
      |  )
      |  WINDOW w14 AS (PARTITION BY event_type ORDER BY hr_us
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      |)
      |WHERE rn >= 15""".stripMargin

  def cmo(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, barsQ(cmoBody))
  val cmoOracle: String = barsQ(cmoBody)(DuckDb)

  /** Aroon (14): 100·(14 − bars_since_extreme)/14 for the channel high and
    * low. "Bars since the most recent max" is an argmax — tie-ambiguous if
    * left to an engine's max_by (and DuckDB's arg_max can't rank by a
    * tuple), so the body pins it deterministically in two passes sharing
    * one ANSI text: a window MAX/MIN finds each bar's channel extremes,
    * then a bounded 14-row band self-join takes MAX(rn) over the bars
    * EQUAL to the extreme — ties resolve to the most recent bar, the
    * published convention, identically on both engines. The band join is
    * BUCKETED so the join work (not just the output) is linear: rows carry
    * a width-14 bucket key `bkt = floor((rn-1)/14)`, any 14-row band spans
    * at most the two adjacent buckets, and each b1 row probes exactly those
    * two via a 2-row offsets table — a true equi join on (symbol, bkt)
    * whose per-bucket work is ≤14·28 comparisons. The naive formulation
    * (equi on symbol only, band as a post-join residual) compares
    * bars-per-symbol² pairs inside each symbol group — quadratic join work
    * even though the OUTPUT is ≤14× the bar count.
    */
  private val aroonBody: String =
    """SELECT event_type, hr_us,
      |  ROUND(CAST(100.0 AS DOUBLE) * (14 - (rn - hi_rn)) / 14, 6)
      |    AS aroon_up,
      |  ROUND(CAST(100.0 AS DOUBLE) * (14 - (rn - lo_rn)) / 14, 6)
      |    AS aroon_down
      |FROM (
      |  SELECT b1.event_type, b1.hr_us, b1.rn,
      |    MAX(CASE WHEN b2.high = b1.hh THEN b2.rn END) AS hi_rn,
      |    MAX(CASE WHEN b2.low = b1.ll THEN b2.rn END) AS lo_rn
      |  FROM (
      |    SELECT bb.event_type, bb.hr_us, bb.rn, bb.hh, bb.ll,
      |      bb.bkt - offs.off AS probe_bkt
      |    FROM (
      |      SELECT event_type, hr_us, rn, bkt,
      |        MAX(high) OVER w14 AS hh, MIN(low) OVER w14 AS ll
      |      FROM nb
      |      WINDOW w14 AS (PARTITION BY event_type ORDER BY rn
      |        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      |    ) bb CROSS JOIN (SELECT 0 AS off UNION ALL SELECT 1) offs
      |  ) b1
      |  JOIN nb b2
      |    ON b1.event_type = b2.event_type
      |    AND b2.bkt = b1.probe_bkt
      |    AND b2.rn BETWEEN b1.rn - 13 AND b1.rn
      |  GROUP BY b1.event_type, b1.hr_us, b1.rn
      |)
      |WHERE rn >= 14""".stripMargin

  private val aroonNb: String =
    """SELECT event_type, hr_us, high, low,
      |  CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr_us)
      |    AS INT) AS rn,
      |  CAST(FLOOR((CAST(row_number() OVER (PARTITION BY event_type
      |    ORDER BY hr_us) AS INT) - 1) / 14.0) AS INT) AS bkt
      |FROM bars""".stripMargin

  private val aroonQ: OracleSql.Dialect => String =
    barsQ(s", nb AS (\n$aroonNb\n)\n$aroonBody")

  def aroon(s: SparkSession, dir: String): DataFrame = sparkQ(s, dir, aroonQ)
  val aroonOracle: String = aroonQ(DuckDb)

  /** TRIX (15): 1-bar rate of change of the triple-smoothed EMA — three
    * chained recursive smoothers, so a per-symbol fold like
    * [[Ext19Queries.macd]] with accumulator (e1, e2, e3, prev_e3). The
    * α = 2/16 = 0.125 is exact in binary. Emits the final state per symbol
    * (triple-EMA and the last TRIX reading).
    */
  def trix(s: SparkSession, dir: String): DataFrame = {
    val bars = sparkQ(s, dir, barsQ("SELECT event_type, hr_us, close FROM bars"))
    val a = lit(0.125)
    val vals = transform(array_sort(col("raw")), x => x.getField("close"))
    val c1 = element_at(vals, 1)
    val seed = struct(c1.as("e1"), c1.as("e2"), c1.as("e3"),
      lit(null).cast("double").as("pe3"))
    val folded = aggregate(
      slice(vals, lit(2), greatest(size(vals) - 1, lit(0))),
      seed,
      (acc, x) => {
        val e1 = a * x + (lit(1.0) - a) * acc.getField("e1")
        val e2 = a * e1 + (lit(1.0) - a) * acc.getField("e2")
        val e3 = a * e2 + (lit(1.0) - a) * acc.getField("e3")
        struct(e1.as("e1"), e2.as("e2"), e3.as("e3"),
          acc.getField("e3").as("pe3"))
      })
    bars.groupBy(col("event_type"))
      .agg(collect_list(struct(col("hr_us"), col("close"))).as("raw"))
      .select(
        col("event_type"),
        size(vals).as("n_bars"),
        round(folded.getField("e3"), 6).as("ema3"),
        round(lit(100.0) * (folded.getField("e3") - folded.getField("pe3"))
          / nullif(folded.getField("pe3"), lit(0.0)), 6).as("trix"))
  }

  val trixOracle: String =
    s"""WITH RECURSIVE ${barsCte(DuckDb, materialized = true)},
      |seq AS MATERIALIZED (
      |  SELECT event_type, close,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr_us)
      |      AS BIGINT) AS i
      |  FROM bars
      |), nn AS (
      |  SELECT event_type, MAX(i) AS n FROM seq GROUP BY event_type
      |), rec(event_type, i, e1, e2, e3, pe3) AS (
      |  SELECT event_type, i, close, close, close, CAST(NULL AS DOUBLE)
      |  FROM seq WHERE i = 1
      |  UNION ALL
      |  SELECT s.event_type, s.i,
      |    0.125 * s.close + 0.875 * r.e1,
      |    0.125 * (0.125 * s.close + 0.875 * r.e1) + 0.875 * r.e2,
      |    0.125 * (0.125 * (0.125 * s.close + 0.875 * r.e1)
      |      + 0.875 * r.e2) + 0.875 * r.e3,
      |    r.e3
      |  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.i = r.i + 1
      |)
      |SELECT r.event_type, CAST(nn.n AS INT) AS n_bars,
      |  ROUND(r.e3, 6) AS ema3,
      |  ROUND(100.0 * (r.e3 - r.pe3) / NULLIF(r.pe3, 0.0), 6) AS trix
      |FROM rec r JOIN nn ON nn.event_type = r.event_type AND r.i = nn.n""".stripMargin

  /** Keltner Channels (EMA-20 of typical price ± 2 × Wilder-ATR-10), folded
    * per symbol like [[Ext19Queries.macd]]: both smoothers are recursive,
    * so the per-symbol hr-sorted bar list folds a
    * (ema, atr, prev_close, above, below) accumulator seeded at the first
    * bar (ema = tp₁, atr = high₁ − low₁). Emits the final channel per
    * symbol plus how many closes broke above/below it along the way — the
    * summary a volatility screener keeps. Alphas written `2.0/21.0` in
    * Scala and `CAST(2.0 AS DOUBLE)/21` in SQL (IEEE-double division on
    * both engines); the fold arithmetic runs in the same op order on both
    * sides, so the doubles are bit-equal before the output ROUND.
    */
  def keltner(s: SparkSession, dir: String): DataFrame = {
    val bars = sparkQ(s, dir, barsQ("SELECT event_type, hr_us, high, low, close FROM bars"))
    val a = lit(2.0 / 21.0)
    val vals = array_sort(col("raw"))
    val b1 = element_at(vals, 1)
    def tp(b: org.apache.spark.sql.Column) =
      (b.getField("high") + b.getField("low") + b.getField("close")) / lit(3.0)
    val seed = struct(
      tp(b1).as("ema"),
      (b1.getField("high") - b1.getField("low")).as("atr"),
      b1.getField("close").as("pc"),
      lit(0L).as("above"), lit(0L).as("below"))
    val folded = aggregate(
      slice(vals, lit(2), greatest(size(vals) - 1, lit(0))),
      seed,
      (acc, b) => {
        val tr = greatest(
          b.getField("high") - b.getField("low"),
          abs(b.getField("high") - acc.getField("pc")),
          abs(b.getField("low") - acc.getField("pc")))
        val atr = (acc.getField("atr") * lit(9.0) + tr) / lit(10.0)
        val ema = a * tp(b) + (lit(1.0) - a) * acc.getField("ema")
        struct(ema.as("ema"), atr.as("atr"), b.getField("close").as("pc"),
          (acc.getField("above")
            + when(b.getField("close") > ema + lit(2.0) * atr, lit(1L))
              .otherwise(lit(0L))).as("above"),
          (acc.getField("below")
            + when(b.getField("close") < ema - lit(2.0) * atr, lit(1L))
              .otherwise(lit(0L))).as("below"))
      })
    bars.groupBy(col("event_type"))
      .agg(collect_list(struct(col("hr_us"), col("high"), col("low"),
        col("close"))).as("raw"))
      .select(
        col("event_type"),
        size(vals).as("n_bars"),
        round(folded.getField("ema"), 6).as("mid"),
        round(folded.getField("ema") + lit(2.0) * folded.getField("atr"), 6)
          .as("upper"),
        round(folded.getField("ema") - lit(2.0) * folded.getField("atr"), 6)
          .as("lower"),
        folded.getField("above").as("breaks_above"),
        folded.getField("below").as("breaks_below"))
  }

  val keltnerOracle: String =
    s"""WITH RECURSIVE ${barsCte(DuckDb, materialized = true)},
      |seq AS MATERIALIZED (
      |  SELECT event_type, high, low, close,
      |    (high + low + close) / 3 AS tp,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr_us)
      |      AS BIGINT) AS i
      |  FROM bars
      |), nn AS (
      |  SELECT event_type, MAX(i) AS n FROM seq GROUP BY event_type
      |), rec(event_type, i, ema, atr, pc, above, below) AS (
      |  SELECT event_type, i, tp, high - low, close,
      |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |  FROM seq WHERE i = 1
      |  UNION ALL
      |  SELECT s.event_type, s.i,
      |    (CAST(2.0 AS DOUBLE)/21) * s.tp
      |      + (1 - CAST(2.0 AS DOUBLE)/21) * r.ema,
      |    (r.atr * 9.0 + GREATEST(s.high - s.low,
      |      ABS(s.high - r.pc), ABS(s.low - r.pc))) / 10.0,
      |    s.close,
      |    r.above + CASE WHEN s.close >
      |      ((CAST(2.0 AS DOUBLE)/21) * s.tp
      |        + (1 - CAST(2.0 AS DOUBLE)/21) * r.ema)
      |      + 2.0 * ((r.atr * 9.0 + GREATEST(s.high - s.low,
      |          ABS(s.high - r.pc), ABS(s.low - r.pc))) / 10.0)
      |      THEN 1 ELSE 0 END,
      |    r.below + CASE WHEN s.close <
      |      ((CAST(2.0 AS DOUBLE)/21) * s.tp
      |        + (1 - CAST(2.0 AS DOUBLE)/21) * r.ema)
      |      - 2.0 * ((r.atr * 9.0 + GREATEST(s.high - s.low,
      |          ABS(s.high - r.pc), ABS(s.low - r.pc))) / 10.0)
      |      THEN 1 ELSE 0 END
      |  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.i = r.i + 1
      |)
      |SELECT r.event_type, CAST(nn.n AS INT) AS n_bars,
      |  ROUND(r.ema, 6) AS mid,
      |  ROUND(r.ema + 2.0 * r.atr, 6) AS upper,
      |  ROUND(r.ema - 2.0 * r.atr, 6) AS lower,
      |  r.above AS breaks_above, r.below AS breaks_below
      |FROM rec r JOIN nn ON nn.event_type = r.event_type AND r.i = nn.n""".stripMargin
}
