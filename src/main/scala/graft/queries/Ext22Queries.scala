package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-6 extension batch 4: distribution analytics — streak detection via
  * the gaps-and-islands idiom, calendar seasonality strength, simplified
  * silhouette for cluster quality, Jensen-Shannon drift between sources,
  * equal-weight portfolio variance from the return covariance, and the
  * Jarque-Bera normality statistic.
  *
  * Engine-parity notes: islands and all contingency tables are exact
  * integers; covariance/moment sums follow the `q_moments` convention
  * (bounded-magnitude doubles, round(6) on outputs only); the silhouette
  * avoids all-pairs by scoring against centroids (the O(n·k) simplified
  * silhouette — the exact one is quadratic and belongs next to the
  * `q_ngram_jaccard`-style verifiers, not in a per-round bench).
  */
object Ext22Queries {

  import OracleSql.{DuckDb, barsQ, retsQ, sparkQ}

  /** Longest up-streak per symbol via gaps-and-islands: direction flag per
    * hourly bar, island id = row_number − row_number-within-direction (all
    * integer), then max island length. The islands idiom runs entirely
    * inside the symbol partition — one bar shuffle + one window pass.
    */
  private val streaksBody: String =
    """, d AS (
      |  SELECT event_type, hr_us,
      |    CASE WHEN close > lag(close) OVER wb THEN 1 ELSE 0 END AS up,
      |    CAST(row_number() OVER wb AS BIGINT) AS rn
      |  FROM bars WINDOW wb AS (PARTITION BY event_type ORDER BY hr_us)
      |), isl AS (
      |  SELECT event_type, up,
      |    rn - CAST(row_number() OVER (PARTITION BY event_type, up
      |      ORDER BY rn) AS BIGINT) AS grp
      |  FROM d
      |), runs AS (
      |  SELECT event_type, up, grp, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM isl GROUP BY event_type, up, grp
      |)
      |SELECT event_type,
      |  MAX(CASE WHEN up = 1 THEN len ELSE 0 END) AS max_up_streak,
      |  MAX(CASE WHEN up = 0 THEN len ELSE 0 END) AS max_down_streak,
      |  CAST(SUM(CASE WHEN up = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up_runs
      |FROM runs GROUP BY event_type""".stripMargin

  def streaks(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, barsQ(streaksBody))
  val streaksOracle: String = barsQ(streaksBody)(DuckDb)

  /** Calendar seasonality: (day-of-week, hour-of-day) activity profile per
    * event type — each cell's share of its stream plus the seasonal index
    * (share × cell count; 1.0 = perfectly flat calendar). All ratios derive
    * from exact integer counts.
    */
  def seasonality(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events_se")
    s.sql(
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(date_format(timestamp_micros(ts_us), 'E') AS STRING) AS dow,
        |    CAST(hour(timestamp_micros(ts_us)) AS INT) AS hod
        |  FROM events_se
        |), cells AS (
        |  SELECT event_type, dow, hod, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM e GROUP BY event_type, dow, hod
        |), tot AS (
        |  SELECT event_type, SUM(n) AS nt,
        |    CAST(COUNT(*) AS BIGINT) AS n_cells
        |  FROM cells GROUP BY event_type
        |)
        |SELECT c.event_type, c.dow, c.hod, c.n,
        |  ROUND(CAST(c.n AS DOUBLE) / CAST(t.nt AS DOUBLE), 6) AS cell_share,
        |  ROUND(CAST(c.n AS DOUBLE) * CAST(t.n_cells AS DOUBLE)
        |    / CAST(t.nt AS DOUBLE), 6) AS seasonal_index
        |FROM cells c JOIN tot t ON c.event_type = t.event_type""".stripMargin)
  }

  val seasonalityOracle: String =
    """WITH e AS (
      |  SELECT event_type,
      |    strftime(ts, '%a') AS dow,
      |    CAST(hour(ts) AS INT) AS hod
      |  FROM events
      |), cells AS (
      |  SELECT event_type, dow, hod, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM e GROUP BY event_type, dow, hod
      |), tot AS (
      |  SELECT event_type, SUM(n) AS nt,
      |    CAST(COUNT(*) AS BIGINT) AS n_cells
      |  FROM cells GROUP BY event_type
      |)
      |SELECT c.event_type, c.dow, c.hod, c.n,
      |  ROUND(CAST(c.n AS DOUBLE) / CAST(t.nt AS DOUBLE), 6) AS cell_share,
      |  ROUND(CAST(c.n AS DOUBLE) * CAST(t.n_cells AS DOUBLE)
      |    / CAST(t.nt AS DOUBLE), 6) AS seasonal_index
      |FROM cells c JOIN tot t ON c.event_type = t.event_type""".stripMargin

  /** Simplified silhouette over the embedding corpus: per-vector cohesion =
    * distance to own label centroid, separation = min distance to any other
    * centroid, s = (b − a)/max(a, b). O(n·k) — centroids broadcast, corpus
    * scanned once (the exact silhouette is O(n²) and intentionally absent
    * from the bench surface). Emits per-label mean silhouette.
    */
  def silhouette(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("vec_id"), col("label"), col("i"),
        col("xf").cast("double").as("x"))
    val cent = t.groupBy(col("label").as("clabel"), col("i").as("ci"))
      .agg((sum(col("x")) / count(lit(1))).as("m"))
    // same explode-join-aggregate shape as the oracle: the per-(vec,
    // centroid) distance is an unordered 64-term double sum on BOTH engines
    // (identical error class, outputs rounded)
    val d = t.join(broadcast(cent), col("i") === col("ci"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum((col("x") - col("m")) * (col("x") - col("m"))).as("d2"))
    val ab = d.groupBy(col("vec_id"), col("label"))
      .agg(
        max(when(col("label") === col("clabel"), col("d2"))).as("a2"),
        min(when(col("label") =!= col("clabel"), col("d2"))).as("b2"))
      .select(col("vec_id"), col("label"),
        ((sqrt(col("b2")) - sqrt(col("a2")))
          / greatest(sqrt(col("a2")), sqrt(col("b2")))).as("sil"))
    ab.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("sil")) / count(lit(1)), 6).as("mean_silhouette"))
  }

  val silhouetteOracle: String =
    """WITH t AS (
      |  SELECT vec_id, label, CAST(r.i AS INT) AS i,
      |    CAST(embedding[CAST(r.i AS INT)] AS DOUBLE) AS x
      |  FROM embeddings CROSS JOIN range(1, 65) r(i)
      |), cent AS (
      |  SELECT label AS clabel, i, SUM(x) / COUNT(*) AS m
      |  FROM t GROUP BY label, i
      |), d AS (
      |  SELECT t.vec_id, t.label, c.clabel,
      |    SUM((t.x - c.m) * (t.x - c.m)) AS d2
      |  FROM t JOIN cent c ON t.i = c.i
      |  GROUP BY t.vec_id, t.label, c.clabel
      |), ab AS (
      |  SELECT vec_id, label,
      |    MAX(CASE WHEN label = clabel THEN d2 END) AS a2,
      |    MIN(CASE WHEN label <> clabel THEN d2 END) AS b2
      |  FROM d GROUP BY vec_id, label
      |), sil AS (
      |  SELECT vec_id, label,
      |    (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2)) AS sil
      |  FROM ab
      |)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
      |  ROUND(SUM(sil) / COUNT(*), 6) AS mean_silhouette
      |FROM sil GROUP BY label""".stripMargin

  /** Jensen-Shannon divergence between each source's token distribution and
    * the corpus distribution — the drift metric for text corpora (PSI's
    * information-theoretic cousin; `q_psi_drift` covers the binned-numeric
    * form). All probabilities from exact counts; ln-sums rounded at 6.
    */
  def jsDivergence(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("docs_js")
    s.sql(
      """WITH tk AS (
        |  SELECT source, explode(split(lower(text), ' ')) AS tok
        |  FROM docs_js
        |), sc AS (
        |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tk GROUP BY source, tok
        |), st AS (SELECT source, SUM(n) AS ns FROM sc GROUP BY source),
        |ct AS (SELECT tok, SUM(n) AS nc FROM sc GROUP BY tok),
        |gt AS (SELECT SUM(n) AS ng FROM sc),
        |terms AS (
        |  SELECT sc.source,
        |    CAST(sc.n AS DOUBLE) / CAST(st.ns AS DOUBLE) AS p,
        |    CAST(ct.nc AS DOUBLE) / CAST(gt.ng AS DOUBLE) AS q
        |  FROM sc JOIN st ON sc.source = st.source
        |    JOIN ct ON sc.tok = ct.tok CROSS JOIN gt
        |)
        |SELECT source,
        |  ROUND(SUM(p * ln(2 * p / (p + q)) / ln(2.0)) / 2
        |    + SUM(q * ln(2 * q / (p + q)) / ln(2.0)) / 2
        |    + (1 - SUM(q)) / 2, 6) AS js_vs_corpus
        |FROM terms GROUP BY source""".stripMargin)
  }

  val jsDivergenceOracle: String =
    """WITH tk AS (
      |  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents
      |), sc AS (
      |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM tk GROUP BY source, tok
      |), st AS (SELECT source, SUM(n) AS ns FROM sc GROUP BY source),
      |ct AS (SELECT tok, SUM(n) AS nc FROM sc GROUP BY tok),
      |gt AS (SELECT SUM(n) AS ng FROM sc),
      |terms AS (
      |  SELECT sc.source,
      |    CAST(sc.n AS DOUBLE) / CAST(st.ns AS DOUBLE) AS p,
      |    CAST(ct.nc AS DOUBLE) / CAST(gt.ng AS DOUBLE) AS q
      |  FROM sc JOIN st ON sc.source = st.source
      |    JOIN ct ON sc.tok = ct.tok CROSS JOIN gt
      |)
      |SELECT source,
      |  ROUND(SUM(p * ln(2 * p / (p + q)) / ln(2.0)) / 2
      |    + SUM(q * ln(2 * q / (p + q)) / ln(2.0)) / 2
      |    + (1 - SUM(q)) / 2, 6) AS js_vs_corpus
      |FROM terms GROUP BY source""".stripMargin

  /** Equal-weight portfolio variance over the five symbols' hourly log
    * returns: σ_p² = w'Σw expanded as mean of the |k|² covariance cells
    * (pairwise-complete over the inner-joined hour grid), plus the
    * diversification ratio Σwσ_i / σ_p. The |k|² cell aggregate is the same
    * Gram shape as `q_power_iteration` — corpus collapses before any wide
    * state.
    */
  private val portfolioVarBody: String =
    """, pair AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb,
      |    COUNT(*) AS n, SUM(a.ret) AS sa, SUM(b.ret) AS sb,
      |    SUM(a.ret * b.ret) AS sab
      |  FROM rr a JOIN rr b ON a.hr_us = b.hr_us
      |  GROUP BY a.event_type, b.event_type
      |), cov AS (
      |  SELECT ta, tb,
      |    sab / n - (sa / n) * (sb / n) AS c
      |  FROM pair
      |), k AS (SELECT CAST(COUNT(DISTINCT ta) AS BIGINT) AS nk FROM cov)
      |SELECT
      |  ROUND(SUM(c) / (nk * nk), 6) AS portfolio_var,
      |  ROUND(SUM(CASE WHEN ta = tb THEN sqrt(c) ELSE 0 END) / nk
      |    / sqrt(SUM(c) / (nk * nk)), 6) AS diversification_ratio,
      |  CAST(nk AS INT) AS n_assets
      |FROM cov CROSS JOIN k GROUP BY nk""".stripMargin

  def portfolioVar(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, retsQ(portfolioVarBody))
  val portfolioVarOracle: String = retsQ(portfolioVarBody)(DuckDb)

  /** Jarque-Bera normality statistic per symbol over hourly log returns:
    * JB = n/6·(S² + K²/4) from the same central-moment aggregates as
    * `q_moments` (round-6 double sums; n is exact).
    */
  private val jarqueBeraBody: String =
    """, m AS (
      |  SELECT event_type, AVG(ret) AS mu FROM rr GROUP BY event_type
      |)
      |SELECT rr.event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  ROUND(AVG(POW(ret - mu, 3)) / POW(AVG(POW(ret - mu, 2)), 1.5), 6)
      |    AS skew,
      |  ROUND(AVG(POW(ret - mu, 4)) / POW(AVG(POW(ret - mu, 2)), 2) - 3, 6)
      |    AS ex_kurt,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / 6 * (
      |    POW(AVG(POW(ret - mu, 3)) / POW(AVG(POW(ret - mu, 2)), 1.5), 2)
      |    + POW(AVG(POW(ret - mu, 4)) / POW(AVG(POW(ret - mu, 2)), 2) - 3, 2)
      |      / 4), 6) AS jarque_bera
      |FROM rr JOIN m ON rr.event_type = m.event_type
      |GROUP BY rr.event_type""".stripMargin

  def jarqueBera(s: SparkSession, dir: String): DataFrame =
    sparkQ(s, dir, retsQ(jarqueBeraBody))
  val jarqueBeraOracle: String = retsQ(jarqueBeraBody)(DuckDb)
}
