package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Market-intelligence extension batch: the recommendation / signal /
  * survival operators a trading-analytics product builds over the
  * warehouse — market-basket association rules (support, confidence,
  * lift), item-item collaborative filtering with exact integer cosine,
  * candlestick-pattern detection on the hourly OHLC series (the visual
  * layer the reference's Grafana dashboards imply, `README.md:50`),
  * time-weighted average price (the interval-weighted sibling of
  * q_vwap), the Gini coefficient (the scalar summary of
  * q_lorenz_share's curve), a Kaplan-Meier survival estimator with
  * right-censoring, and lag-1 autocorrelation of the hourly mean-value
  * series via exact moment sums. All DuckDB-oracled.
  */
object Ext16Queries {

  // --- recommendation ----------------------------------------------------------

  /** Market-basket association rules over order baskets with brand items:
    * for brand pairs co-occurring in >= 1% of baskets, both directed rules
    * with support, confidence = P(B|A), and lift = conf / P(B). The basket
    * matrix collapses to distinct (order, brand) first, so the pair
    * self-join runs on the deduplicated basket-item table joined on the
    * basket key — at 100 TB the shuffle key is the basket id and the pair
    * space is |items|^2, not |orders|^2. Counts divide only in the final
    * projection (scalar, exact-parity doubles).
    */
  def assocRules(s: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"))), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
      .distinct()
    val nBaskets = items.select(countDistinct("basket").as("n_baskets"))
    val supp = items.groupBy("item").agg(count(lit(1)).as("supp"))
    val a = items.select(col("basket"), col("item").as("item_a"))
    val b = items.select(col("basket"), col("item").as("item_b"))
    val pairs = a.join(b, Seq("basket"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("supp_ab"))
    val directed = pairs.unionByName(
      pairs.select(col("item_b").as("item_a"), col("item_a").as("item_b"),
        col("supp_ab")))
    directed
      .join(broadcast(supp.select(col("item").as("item_a"), col("supp").as("supp_a"))), Seq("item_a"))
      .join(broadcast(supp.select(col("item").as("item_b"), col("supp").as("supp_b"))), Seq("item_b"))
      .crossJoin(broadcast(nBaskets))
      .filter(col("supp_ab").cast("double") / col("n_baskets") >= 0.01)
      .select(
        col("item_a").as("antecedent"), col("item_b").as("consequent"),
        col("supp_ab"),
        round(col("supp_ab").cast("double") / col("n_baskets"), 6)
          .as("support"),
        round(col("supp_ab").cast("double") / col("supp_a"), 6)
          .as("confidence"),
        round((col("supp_ab").cast("double") / col("supp_a"))
          / (col("supp_b").cast("double") / col("n_baskets")), 6).as("lift"))
  }

  val assocRulesOracle: String =
    """WITH items AS (
      |  SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |), nb AS (
      |  SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM items
      |), supp AS (
      |  SELECT item, CAST(COUNT(*) AS BIGINT) AS supp FROM items GROUP BY item
      |), pairs AS (
      |  SELECT a.item AS item_a, b.item AS item_b,
      |    CAST(COUNT(*) AS BIGINT) AS supp_ab
      |  FROM items a JOIN items b
      |    ON a.basket = b.basket AND a.item < b.item
      |  GROUP BY a.item, b.item
      |), directed AS (
      |  SELECT item_a, item_b, supp_ab FROM pairs
      |  UNION ALL
      |  SELECT item_b AS item_a, item_a AS item_b, supp_ab FROM pairs
      |)
      |SELECT d.item_a AS antecedent, d.item_b AS consequent, d.supp_ab,
      |  ROUND(CAST(d.supp_ab AS DOUBLE) / nb.n_baskets, 6) AS support,
      |  ROUND(CAST(d.supp_ab AS DOUBLE) / sa.supp, 6) AS confidence,
      |  ROUND((CAST(d.supp_ab AS DOUBLE) / sa.supp)
      |    / (CAST(sb.supp AS DOUBLE) / nb.n_baskets), 6) AS lift
      |FROM directed d
      |JOIN supp sa ON sa.item = d.item_a
      |JOIN supp sb ON sb.item = d.item_b
      |CROSS JOIN nb
      |WHERE CAST(d.supp_ab AS DOUBLE) / nb.n_baskets >= 0.01""".stripMargin

  /** Item-item collaborative filtering: cosine similarity between brands
    * over customer purchase-count vectors, top-3 neighbors per brand. The
    * dot products and norms are exact BIGINT sums (counts times counts), so
    * the only floating-point op is the final cosine division — bit-equal on
    * both engines. The pair join is keyed on the customer (the sparse
    * nonzero coordinate), the classic scale shape: cost is sum over
    * customers of (items-per-customer)^2, never |items|^2 x |customers|.
    */
  def itemSimilarity(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"))), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"), col("p_brand").as("item"))
      .agg(count(lit(1)).as("cnt"))
    val norms = m.groupBy("item")
      .agg(sum(col("cnt") * col("cnt")).as("nrm2"))
    val a = m.select(col("cust"), col("item").as("item_a"), col("cnt").as("cnt_a"))
    val b = m.select(col("cust"), col("item").as("item_b"), col("cnt").as("cnt_b"))
    val dots = a.join(b, Seq("cust"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(sum(col("cnt_a") * col("cnt_b")).as("dot"))
    val sym = dots.unionByName(
      dots.select(col("item_b").as("item_a"), col("item_a").as("item_b"),
        col("dot")))
    val scored = sym
      .join(broadcast(norms.select(col("item").as("item_a"), col("nrm2").as("na"))), Seq("item_a"))
      .join(broadcast(norms.select(col("item").as("item_b"), col("nrm2").as("nb"))), Seq("item_b"))
      .withColumn("cos",
        col("dot") / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("item_a").orderBy(col("cos").desc, col("item_b"))))
      .filter(col("rank") <= 3)
      .select(col("item_a").as("item"), col("item_b").as("neighbor"),
        col("rank"), round(col("cos"), 6).as("cos"))
  }

  val itemSimilarityOracle: String =
    """WITH m AS (
      |  SELECT o.o_custkey AS cust, p.p_brand AS item,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem l
      |  JOIN part p ON l.l_partkey = p.p_partkey
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY o.o_custkey, p.p_brand
      |), norms AS (
      |  SELECT item, CAST(SUM(cnt * cnt) AS BIGINT) AS nrm2 FROM m
      |  GROUP BY item
      |), dots AS (
      |  SELECT a.item AS item_a, b.item AS item_b,
      |    CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS dot
      |  FROM m a JOIN m b ON a.cust = b.cust AND a.item < b.item
      |  GROUP BY a.item, b.item
      |), sym AS (
      |  SELECT item_a, item_b, dot FROM dots
      |  UNION ALL
      |  SELECT item_b, item_a, dot FROM dots
      |), scored AS (
      |  SELECT s.item_a, s.item_b,
      |    s.dot / (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE)))
      |      AS cos
      |  FROM sym s
      |  JOIN norms na ON na.item = s.item_a
      |  JOIN norms nb ON nb.item = s.item_b
      |)
      |SELECT item_a AS item, item_b AS neighbor,
      |  CAST(row_number() OVER (PARTITION BY item_a
      |    ORDER BY cos DESC, item_b) AS INT) AS rank,
      |  ROUND(cos, 6) AS cos
      |FROM scored
      |QUALIFY rank <= 3""".stripMargin

  // --- candlesticks ------------------------------------------------------------

  /** Candlestick-pattern detection over the hourly OHLC series (same
    * resample shape as q_ohlc_resample): bullish engulfing (red candle
    * followed by a green candle whose body covers it) and doji (body within
    * 10% of the range). Pure window/LAG comparisons on unmodified doubles —
    * zero arithmetic-parity surface. One shuffle to the (event_type, hour)
    * grain, then a per-series LAG pass over the tiny candle table.
    */
  /** The pattern scan rides the shared hourly-bars CTE
    * ([[OracleSql.barsQ]]); the body CONTINUES its WITH clause
    * (`, lagged AS ...`). */
  private val candleBody: String =
    """, lagged AS (
      |  SELECT event_type, hr_us, open, high, low, close,
      |    lag(open) OVER (PARTITION BY event_type ORDER BY hr_us)
      |      AS prev_open,
      |    lag(close) OVER (PARTITION BY event_type ORDER BY hr_us)
      |      AS prev_close
      |  FROM bars
      |)
      |SELECT event_type, hr_us, 'bullish_engulfing' AS pattern
      |FROM lagged
      |WHERE prev_close < prev_open AND close > open
      |  AND close >= prev_open AND open <= prev_close
      |UNION ALL
      |SELECT event_type, hr_us, 'doji' AS pattern
      |FROM lagged
      |WHERE abs(close - open) <= 0.1 * (high - low)""".stripMargin

  def candlePatterns(s: SparkSession, dir: String): DataFrame =
    OracleSql.sparkQ(s, dir, OracleSql.barsQ(candleBody))

  val candlePatternsOracle: String =
    OracleSql.barsQ(candleBody)(OracleSql.DuckDb)

  // --- prices ------------------------------------------------------------------

  /** Time-weighted average price per event-type stream: each observation is
    * weighted by its holding interval (micros until the next observation;
    * the final open-ended observation is dropped). Interval weights are
    * exact BIGINT micros; the value x weight products are staged through
    * DECIMAL(38,9) so the weighted sum is order-independent. One sort per
    * stream, one aggregate.
    */
  def twap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    Tables.events(s, dir)
      .withColumn("w_us", lead("ts_us", 1).over(w) - col("ts_us"))
      .filter(col("w_us").isNotNull)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_intervals"),
        round(
          sum((col("value") * col("w_us")).cast(DecimalType(38, 9)))
            .cast("double") / sum("w_us"),
          6).as("twap"))
  }

  val twapOracle: String =
    """WITH iv AS (
      |  SELECT event_type, value,
      |    lead(epoch_us(ts)) OVER (PARTITION BY event_type
      |      ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS w_us
      |  FROM events
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |  ROUND(CAST(SUM(CAST(value * w_us AS DECIMAL(38,9))) AS DOUBLE)
      |    / CAST(SUM(w_us) AS DOUBLE), 6) AS twap
      |FROM iv WHERE w_us IS NOT NULL
      |GROUP BY event_type""".stripMargin

  // --- inequality --------------------------------------------------------------

  /** Gini coefficient of customer revenue — the scalar summary of
    * q_lorenz_share's curve — via the exact rank form
    * G = (2 * sum(i * x_i) - (n + 1) * sum(x)) / (n * sum(x)) over
    * ascending-sorted exact DECIMAL revenues. Every sum is DECIMAL/BIGINT
    * (rank-weighted revenue stays decimal), so the one floating division is
    * the final G. The global rank is the two-phase bucketed pass
    * ([[graft.operators.PrefixSum.rankedPrefix]]) — customer-cardinality
    * sized, never a single-partition window — same posture as
    * q_lorenz_share.
    */
  def gini(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 6))).as("rev"))
      // read by PrefixSum's size probe, its ranking pass and the final agg —
      // checkpoint so the orders scan+groupBy runs once, not 3x
      .localCheckpoint(eager = false)
    // two-phase bucketed global rank — no single-partition window over the
    // customer-cardinality table
    graft.operators.PrefixSum.rankedPrefix(rev, "rev", descOrder = false,
        Seq("o_custkey"), Nil, "i")
      .agg(
        count(lit(1)).as("n_cust"),
        round(
          (lit(2) * sum(col("i") * col("rev")).cast("double")
            - (count(lit(1)) + 1).cast("double")
              * sum("rev").cast("double"))
            / (count(lit(1)).cast("double") * sum("rev").cast("double")),
          6).as("gini"))
  }

  val giniOracle: String =
    """WITH rev AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      |  FROM orders GROUP BY o_custkey
      |), ranked AS (
      |  SELECT rev,
      |    CAST(row_number() OVER (ORDER BY rev, o_custkey) AS BIGINT) AS i
      |  FROM rev
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_cust,
      |  ROUND(
      |    (2 * CAST(SUM(i * rev) AS DOUBLE)
      |      - CAST(COUNT(*) + 1 AS DOUBLE) * CAST(SUM(rev) AS DOUBLE))
      |    / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(rev) AS DOUBLE)), 6)
      |    AS gini
      |FROM ranked""".stripMargin

  // --- survival ----------------------------------------------------------------

  /** Kaplan-Meier survival estimator over customer purchasing lifetimes: a
    * customer's duration is whole days between first and last order;
    * customers whose last order falls within 90 days of the corpus end are
    * right-censored (still alive at observation close). S(t) is the
    * cumulative product of (1 - d_t/n_t) over death times, computed as exp
    * of a cumulative DECIMAL(28,12)-staged log sum — order-independent and
    * oracle-exact. The corpus collapses to one row per customer, then to
    * one row per distinct duration: every window after that runs on the
    * duration histogram, not the fact table.
    */
  def kmSurvival(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(min("o_orderdate").as("first_dt"), max("o_orderdate").as("last_dt"))
      .crossJoin(broadcast(
        Tables.orders(s, dir).agg(max("o_orderdate").as("corpus_max"))))
      .select(
        datediff(col("last_dt"), col("first_dt")).cast("long").as("dur_days"),
        (datediff(col("corpus_max"), col("last_dt")) < 90)
          .cast("int").as("censored"))
    val byDur = perUser.groupBy("dur_days")
      .agg(count(lit(1)).as("n_all"),
        sum(lit(1) - col("censored")).as("d"))
    val wAsc = Window.orderBy("dur_days")
    val risk = byDur
      .withColumn("n_at_risk",
        sum("n_all").over(Window.orderBy("dur_days")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .filter(col("d") > 0)
      // greatest(_, 1e-12) guards the terminal candle where every remaining
      // at-risk user dies at once (ln 0): S collapses below round-6 zero on
      // both engines instead of overflowing the DECIMAL staging
      .withColumn("lnf",
        log(greatest(lit(1e-12),
          lit(1.0) - col("d").cast("double") / col("n_at_risk")))
          .cast(DecimalType(28, 12)))
      .withColumn("surv",
        exp(sum("lnf").over(
            wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double")))
    risk.select(col("dur_days"), col("d"), col("n_at_risk"),
      round(col("surv"), 6).as("surv"))
  }

  val kmSurvivalOracle: String =
    """WITH pu AS (
      |  SELECT o_custkey, MIN(o_orderdate) AS first_dt,
      |    MAX(o_orderdate) AS last_dt
      |  FROM orders GROUP BY o_custkey
      |), cm AS (SELECT MAX(o_orderdate) AS corpus_max FROM orders),
      |durs AS (
      |  SELECT CAST(date_diff('day', first_dt, last_dt) AS BIGINT)
      |    AS dur_days,
      |    CASE WHEN date_diff('day', last_dt, corpus_max) < 90
      |      THEN 1 ELSE 0 END AS censored
      |  FROM pu CROSS JOIN cm
      |), bydur AS (
      |  SELECT dur_days, CAST(COUNT(*) AS BIGINT) AS n_all,
      |    CAST(SUM(1 - censored) AS BIGINT) AS d
      |  FROM durs GROUP BY dur_days
      |), risk AS (
      |  SELECT dur_days, d,
      |    SUM(n_all) OVER (ORDER BY dur_days
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_at_risk
      |  FROM bydur
      |), death AS (
      |  SELECT dur_days, d, CAST(n_at_risk AS BIGINT) AS n_at_risk,
      |    CAST(ln(GREATEST(1e-12, 1.0 - CAST(d AS DOUBLE) / n_at_risk))
      |      AS DECIMAL(28,12)) AS lnf
      |  FROM risk WHERE d > 0
      |)
      |SELECT dur_days, d, n_at_risk,
      |  ROUND(exp(CAST(SUM(lnf) OVER (ORDER BY dur_days
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6) AS surv
      |FROM death""".stripMargin

  // --- serial correlation ------------------------------------------------------

  /** Lag-1 autocorrelation of the hourly mean-value series per event type:
    * hourly means from DECIMAL-staged sums, then Pearson r over (x_t,
    * x_{t-1}) pairs with all five moment sums staged through
    * DECIMAL(38,12) — the whole statistic is exact until the final
    * normalized division. Everything after the hourly rollup runs on the
    * candle-count series, not the corpus.
    */
  def autocorr(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("ts_us div 3600000000").as("hr"))
      .agg((sum(col("value").cast(DecimalType(28, 12))).cast("double")
        / count(lit(1))).as("m"))
    val w = Window.partitionBy("event_type").orderBy("hr")
    val pairs = hourly
      .withColumn("y", lag("m", 1).over(w))
      .filter(col("y").isNotNull)
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 12))
    pairs.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(dec(col("m"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("m") * col("y"))).as("sxy"),
        sum(dec(col("m") * col("m"))).as("sxx"),
        sum(dec(col("y") * col("y"))).as("syy"))
      .select(col("event_type"), col("n_pairs"),
        round(
          (col("n_pairs") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
            / sqrt(
              (col("n_pairs") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
              * (col("n_pairs") * col("syy").cast("double")
                - col("sy").cast("double") * col("sy").cast("double"))),
          6).as("r1"))
  }

  val autocorrOracle: String =
    """WITH hourly AS (
      |  SELECT event_type,
      |    epoch_us(ts) // 3600000000 AS hr,
      |    CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
      |  FROM events GROUP BY event_type, epoch_us(ts) // 3600000000
      |), pairs AS (
      |  SELECT event_type, m,
      |    lag(m) OVER (PARTITION BY event_type ORDER BY hr) AS y
      |  FROM hourly
      |), moments AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    SUM(CAST(m AS DECIMAL(38,12))) AS sx,
      |    SUM(CAST(y AS DECIMAL(38,12))) AS sy,
      |    SUM(CAST(m * y AS DECIMAL(38,12))) AS sxy,
      |    SUM(CAST(m * m AS DECIMAL(38,12))) AS sxx,
      |    SUM(CAST(y * y AS DECIMAL(38,12))) AS syy
      |  FROM pairs WHERE y IS NOT NULL
      |  GROUP BY event_type
      |)
      |SELECT event_type, n_pairs,
      |  ROUND(
      |    (n_pairs * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / sqrt(
      |      (n_pairs * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (n_pairs * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r1
      |FROM moments""".stripMargin
}
