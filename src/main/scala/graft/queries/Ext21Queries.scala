package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-6 extension batch 3: the model-evaluation suite (AUC-ROC,
  * calibration/Brier, lift/gains) every ML pipeline runs after scoring, plus
  * a 1-D Kalman filter over the candle series, k-core graph peeling, and
  * blocked entity resolution — the fuzzy-join shape that precedes
  * get_or_create in real dimension pipelines.
  *
  * Evaluation metrics are computed from EXACT integer contingency/rank
  * algebra wherever the statistic allows (AUC via the tie-corrected
  * rank-sum over the score histogram — the Mann-Whitney identity, same
  * trick as `q_mann_whitney`; lift from exact cumulative positives), so the
  * only doubles are final ratios of exact integers — no rounding-order
  * hazards at any scale. The proxy "model score" is `l_discount` predicting
  * returns (`l_returnflag = 'R'`): a deliberately weak but deterministic
  * scorer — the metrics' algebra, not the model, is what's under test.
  */
object Ext21Queries {

  /** AUC-ROC via the rank-sum identity on the score histogram: the corpus
    * collapses to one row per distinct score (partial-aggregated — the same
    * scale shape as `q_mann_whitney`), then U2 = Σ_s n1_s·(2·cum0_<s + n0_s)
    * in exact BIGINT (ties contribute the half via the odd term), and
    * AUC = U2 / (2·P·N). cum0_below rides the two-phase bucketed prefix
    * sum — no single-task window even for a continuous score domain.
    */
  def aucRoc(s: SparkSession, dir: String): DataFrame = {
    // Two-phase prefix sum over the score histogram
    // ([[graft.operators.PrefixSum]]): a continuous score column makes
    // |histogram| ≈ |corpus|, so the old global ORDER BY window was a
    // single-task bottleneck. cum0_below is the same exact BIGINT, so the
    // oracle (which keeps the naive window — DuckDB has no such limit)
    // still hash-matches.
    val h = Tables.lineitem(s, dir)
      .groupBy(col("l_discount").as("score"))
      .agg(
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n1"),
        sum(when(col("l_returnflag") === "R", 0L).otherwise(1L)).as("n0"))
      // probe + prefix pass both read it — checkpoint the histogram
      .localCheckpoint(eager = false)
    graft.operators.PrefixSum.exclusive(h, "score", Seq("n0"))
      .agg(
        sum("n1").as("n_pos"),
        sum("n0").as("n_neg"),
        round(sum(col("n1") * (lit(2) * col("n0_excl") + col("n0"))).cast("double")
          / (lit(2) * sum("n1").cast("double") * sum("n0").cast("double")), 6)
          .as("auc"))
  }

  val aucRocOracle: String =
    """WITH h AS (
      |  SELECT l_discount AS score,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT) AS n0
      |  FROM lineitem GROUP BY l_discount
      |), c AS (
      |  SELECT score, n1, n0,
      |    CAST(SUM(n0) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n0 AS BIGINT)
      |      AS cum0_below
      |  FROM h
      |)
      |SELECT
      |  CAST(SUM(n1) AS BIGINT) AS n_pos,
      |  CAST(SUM(n0) AS BIGINT) AS n_neg,
      |  ROUND(CAST(SUM(n1 * (2 * cum0_below + n0)) AS DOUBLE)
      |    / (2 * CAST(SUM(n1) AS DOUBLE) * CAST(SUM(n0) AS DOUBLE)), 6) AS auc
      |FROM c""".stripMargin

  /** Calibration (reliability) table per score level + the global Brier
    * score. Observed rates are exact-integer ratios; the Brier sum is a
    * bounded-magnitude double aggregate rounded at 6 (`q_moments`
    * convention).
    */
  def calibrationBins(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_cal")
    s.sql(
      """WITH b AS (
        |  SELECT l_discount AS score,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM li_cal
        |), g AS (
        |  SELECT score, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS n_pos
        |  FROM b GROUP BY score
        |), brier AS (
        |  SELECT ROUND(SUM((score - y) * (score - y)) / COUNT(*), 6) AS bs
        |  FROM b
        |)
        |SELECT score, n, n_pos,
        |  ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_rate,
        |  bs AS brier_global
        |FROM g CROSS JOIN brier""".stripMargin)
  }

  val calibrationBinsOracle: String =
    """WITH b AS (
      |  SELECT l_discount AS score,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |  FROM lineitem
      |), g AS (
      |  SELECT score, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS n_pos
      |  FROM b GROUP BY score
      |), brier AS (
      |  SELECT ROUND(SUM((score - y) * (score - y)) / COUNT(*), 6) AS bs
      |  FROM b
      |)
      |SELECT score, n, n_pos,
      |  ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_rate,
      |  bs AS brier_global
      |FROM g CROSS JOIN brier""".stripMargin

  /** Cumulative-gains / lift by score decile: ntile(10) over the descending
    * score with a full deterministic tiebreak (both engines assign ANSI
    * ntile sizes ⌈n/k⌉/⌊n/k⌋ identically given the same total order), then
    * exact cumulative capture and lift per decile.
    */
  def liftCurve(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixSum
    import org.apache.spark.sql.expressions.Window
    // round-13 rewrite: the decile used to come from ntile(10) OVER a
    // GLOBAL ORDER BY on the raw fact table — the single-task sort this
    // repo built rankedPrefix + ntileFromRank to avoid (aucRoc in this
    // file already rides it). The bucketed rank + arithmetic ntile give
    // the identical decile assignment; only the 10-row decile summary
    // ever sees an unpartitioned window.
    val li = Tables.lineitem(s, dir)
      .select(col("l_discount"), col("l_orderkey"), col("l_linenumber"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val n = broadcast(li.agg(count(lit(1)).as("_n")))
    val ranked = PrefixSum.rankedPrefix(li, "l_discount", descOrder = true,
      Seq("l_orderkey", "l_linenumber"), Nil, "_rn")
    val deciled = PrefixSum.ntileFromRank(
      ranked.crossJoin(n), "_rn", "_n", 10, "decile")
    val g = deciled.groupBy("decile")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    val t = broadcast(g.agg(sum("n").as("nt"), sum("n_pos").as("pt")))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.crossJoin(t)
      .withColumn("cum_capture", round(
        sum(col("n_pos")).over(w).cast("double") / col("pt").cast("double"), 6))
      .withColumn("cum_lift", round(
        (sum(col("n_pos")).over(w).cast("double") / col("pt").cast("double"))
          / (sum(col("n")).over(w).cast("double") / col("nt").cast("double")),
        6))
      .select(col("decile"), col("n"), col("n_pos"),
        col("cum_capture"), col("cum_lift"))
  }

  val liftCurveOracle: String =
    """WITH b AS (
      |  SELECT ntile(10) OVER (ORDER BY l_discount DESC, l_orderkey,
      |    l_linenumber) AS decile,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |  FROM lineitem
      |), g AS (
      |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS n_pos
      |  FROM b GROUP BY decile
      |), t AS (SELECT SUM(n) AS nt, SUM(n_pos) AS pt FROM g)
      |SELECT decile, n, n_pos,
      |  ROUND(CAST(SUM(n_pos) OVER w AS DOUBLE) / CAST(pt AS DOUBLE), 6)
      |    AS cum_capture,
      |  ROUND((CAST(SUM(n_pos) OVER w AS DOUBLE) / CAST(pt AS DOUBLE))
      |    / (CAST(SUM(n) OVER w AS DOUBLE) / CAST(nt AS DOUBLE)), 6) AS cum_lift
      |FROM g CROSS JOIN t
      |WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
      |  AND CURRENT ROW)""".stripMargin

  /** 1-D Kalman filter (random-walk model, q = 0.1, r = 1.0) over each
    * symbol's hourly close series — the optimal-gain cousin of the EWMA/Holt
    * folds, with the gain adapting as covariance converges. Same per-symbol
    * struct-fold shape and recursive-CTE oracle as `q_macd`.
    */
  def kalman1d(s: SparkSession, dir: String): DataFrame = {
    val bars = OracleSql.sparkQ(s, dir,
      OracleSql.barsQ("SELECT event_type, hr_us, close FROM bars"))
    val vals = transform(array_sort(col("raw")), x => x.getField("close"))
    val seed = struct(element_at(vals, 1).as("x"), lit(1.0).as("p"))
    val folded = aggregate(
      slice(vals, lit(2), greatest(size(vals) - 1, lit(0))),
      seed,
      (acc, z) => {
        val pp = acc.getField("p") + lit(0.1)
        val k = pp / (pp + lit(1.0))
        val x = acc.getField("x") + k * (z - acc.getField("x"))
        struct(x.as("x"), ((lit(1.0) - k) * pp).as("p"))
      })
    bars.groupBy(col("event_type"))
      .agg(collect_list(struct(col("hr_us"), col("close"))).as("raw"))
      .select(
        col("event_type"),
        size(vals).as("n_bars"),
        round(folded.getField("x"), 6).as("x_est"),
        round(folded.getField("p"), 6).as("p_est"))
  }

  val kalman1dOracle: String =
    s"""WITH RECURSIVE ${OracleSql.barsCte(OracleSql.DuckDb, materialized = true)},
      |seq AS MATERIALIZED (
      |  SELECT event_type, close,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr_us)
      |      AS BIGINT) AS i
      |  FROM bars
      |), nn AS (
      |  SELECT event_type, MAX(i) AS n FROM seq GROUP BY event_type
      |), rec(event_type, i, x, p) AS (
      |  SELECT event_type, i, close, CAST(1.0 AS DOUBLE)
      |  FROM seq WHERE i = 1
      |  UNION ALL
      |  SELECT s.event_type, s.i,
      |    r.x + ((r.p + 0.1) / ((r.p + 0.1) + 1.0)) * (s.close - r.x),
      |    (1.0 - ((r.p + 0.1) / ((r.p + 0.1) + 1.0))) * (r.p + 0.1)
      |  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.i = r.i + 1
      |)
      |SELECT r.event_type, CAST(nn.n AS INT) AS n_bars,
      |  ROUND(r.x, 6) AS x_est, ROUND(r.p, 6) AS p_est
      |FROM rec r JOIN nn ON nn.event_type = r.event_type AND r.i = nn.n""".stripMargin

  /** 3-round 2-core peel over the trade graph: iteratively drop nodes of
    * degree < 2 and the edges touching them (three unrolled rounds — fixed
    * deterministic semantics; the oracle replays the identical rounds).
    * Integer-only. The unrolled filter-join round is the distributed k-core
    * shape (each round: degree aggregate + semi-join, one shuffle pair).
    */
  def twoCore(s: SparkSession, dir: String): DataFrame = {
    // each peel round reads its input ~3 times (degree pass + two
    // semi-joins): the edge list and every round are lazily checkpointed,
    // else the 4-table edge build is re-planned ~3^rounds times (measured
    // 23 s vs ~2 s at sf0.1)
    val e0 = OracleSql.tradeEdges(s, dir)
    def peel(e: DataFrame): DataFrame = {
      val deg = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
        .filter(col("d") >= 2)
        .select(col("node"))
      e.join(deg.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(deg.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint(eager = false)
    }
    val e3 = peel(peel(peel(e0)))
    val core = e3.select(col("u").as("node"))
      .unionAll(e3.select(col("v").as("node"))).distinct()
      .withColumn("in_2core", lit(1))
    val all = e0.select(col("u").as("node"))
      .unionAll(e0.select(col("v").as("node"))).distinct()
    all.join(core, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("in_2core"), lit(0)).as("in_2core"))
  }

  val twoCoreOracle: String =
    s"""WITH ${OracleSql.tradeEdgesSql},
      |d1 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      |  GROUP BY node HAVING COUNT(*) >= 2),
      |e1 AS MATERIALIZED (SELECT u, v FROM e WHERE u IN (SELECT node FROM d1)
      |  AND v IN (SELECT node FROM d1)),
      |d2 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1)
      |  GROUP BY node HAVING COUNT(*) >= 2),
      |e2 AS MATERIALIZED (SELECT u, v FROM e1 WHERE u IN (SELECT node FROM d2)
      |  AND v IN (SELECT node FROM d2)),
      |d3 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2)
      |  GROUP BY node HAVING COUNT(*) >= 2),
      |e3 AS MATERIALIZED (SELECT u, v FROM e2 WHERE u IN (SELECT node FROM d3)
      |  AND v IN (SELECT node FROM d3)),
      |core AS MATERIALIZED (SELECT DISTINCT node FROM
      |  (SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3)),
      |total AS (SELECT DISTINCT node FROM
      |  (SELECT u AS node FROM e UNION ALL SELECT v FROM e))
      |SELECT t.node,
      |  CAST(CASE WHEN c.node IS NULL THEN 0 ELSE 1 END AS INT) AS in_2core
      |FROM total t LEFT JOIN core c ON t.node = c.node""".stripMargin

  /** Blocked entity resolution over part names: block on (first TWO tokens,
    * length ÷ 4 bucket) — the blocking join is a plain equi-join, never
    * all-pairs — then exact Levenshtein ≤ 4 inside each block (identical DP
    * distance on both engines). Emits per-block candidate/match counts: the
    * audit table a dedup pipeline reviews before merging dimensions.
    *
    * BLOCKING-KEY SIZING is the scale lever: one token + len÷8 put 22M
    * pairs through the DP at sf0.1 (measured ~20 s); two tokens + len÷4 cut
    * that 7× with negligible recall cost for an edit-distance-4 threshold
    * (≥5 edits are needed to change both leading tokens AND stay in another
    * length bucket). At 100 TB the same dial (more prefix tokens, tighter
    * length buckets) bounds the per-block quadratic term.
    */
  def entityBlocking(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("p_name"), " ")
    val p = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_name"),
        // two-token blocking key. NULL (excluded by the equi-join) when
        // the name has fewer than two tokens — concat_ws would silently
        // SKIP the missing token and emit the bare first token, while the
        // oracle's `|| NULL ||` yields NULL and drops the row: a latent
        // engine divergence on any one-word name (round-13 parity fix)
        when(size(toks) >= 2,
          concat(toks.getItem(0), lit(" "), toks.getItem(1))).as("btok"),
        (length(col("p_name")).cast("long")).as("len"))
      .withColumn("blen", expr("len div 4"))
    val a = p.select(col("btok"), col("blen"),
      col("p_partkey").as("ka"), col("p_name").as("na"))
    val b = p.select(col("btok"), col("blen"),
      col("p_partkey").as("kb"), col("p_name").as("nb"))
    a.join(b, Seq("btok", "blen"))
      .filter(col("ka") < col("kb"))
      .groupBy(col("btok"), col("blen"))
      .agg(
        count(lit(1)).as("n_pairs"),
        // banded threshold test — decision-identical to
        // levenshtein(na, nb) <= 4 (see functions.LevenshteinWithin), so
        // the oracle keeps the plain form; ~3x less DP work per pair and
        // early exit on most non-matches
        sum(when(graft.functions.LevenshteinFunctions
            .lev_within(col("na"), col("nb"), 4), 1L).otherwise(0L))
          .as("n_matches"))
  }

  val entityBlockingOracle: String =
    """WITH p AS (
      |  SELECT p_partkey, p_name,
      |    string_split(p_name, ' ')[1] || ' ' || string_split(p_name, ' ')[2]
      |      AS btok,
      |    CAST(length(p_name) AS BIGINT) // 4 AS blen
      |  FROM part
      |)
      |SELECT a.btok, a.blen, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
      |FROM p a JOIN p b ON a.btok = b.btok AND a.blen = b.blen
      |  AND a.p_partkey < b.p_partkey
      |GROUP BY a.btok, a.blen""".stripMargin
}
