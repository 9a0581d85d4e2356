package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Graphs, TextAnalysis}
import graft.sources.Tables

/** Round-6 extension batch 2: graph analytics beyond components/PageRank
  * (link prediction, k-hop reachability, degree distributions) and the
  * feature-engineering steps an ML-training pipeline runs between raw tables
  * and a trainer (target encoding, mutual-information feature scoring,
  * perplexity-based corpus filtering, behavioral bot scoring, a PCA power
  * step over the embedding corpus).
  *
  * Graph queries reuse the nation-flow graph convention established by
  * `q_triangle_count`/`q_lpa_communities` (trade-flow edges above the mean
  * weight): node count is tiny at test SF, but every operator is written
  * edge-list-distributed — the shapes (wedge joins, frontier-expansion
  * semi-joins, histogram aggregates) are what run at 100 TB, with their
  * hub-node caveats documented on the operator.
  *
  * FP parity: all derived doubles flow through identical op-order arithmetic
  * on both engines; unordered SUMs of doubles are confined to small-magnitude
  * terms (log-weights, probability cells) where the partial-order error is
  * ~1e-13 and outputs are rounded to 6 — the repo's standard convention
  * (`q_moments` precedent). Money sums are DECIMAL-staged (exact).
  */
object Ext20Queries {

  /** Adamic–Adar link prediction over the trade graph
    * ([[Graphs.adamicAdar]]): which non-adjacent nation pairs share the most
    * (inverse-log-weighted) trading neighbors.
    */
  def adamicAdar(s: SparkSession, dir: String): DataFrame =
    Graphs.adamicAdar(OracleSql.tradeEdges(s, dir), "u", "v")
      .select(col("u"), col("v"), col("common"), col("aa_score"))

  val adamicAdarOracle: String =
    s"""WITH ${OracleSql.tradeEdgesSql},
      |adj AS MATERIALIZED (
      |  SELECT u AS z, v AS n FROM e UNION ALL SELECT v AS z, u AS n FROM e),
      |deg AS (SELECT z, COUNT(*) AS d FROM adj GROUP BY z),
      |wedge AS (
      |  SELECT l.n AS u, r.n AS v,
      |    CAST(1.0 AS DOUBLE) / ln(CAST(d.d AS DOUBLE)) AS w
      |  FROM adj l JOIN adj r ON l.z = r.z AND l.n < r.n
      |  JOIN deg d ON d.z = l.z
      |), sc AS (
      |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common,
      |    ROUND(SUM(w), 6) AS aa_score
      |  FROM wedge GROUP BY u, v
      |)
      |SELECT sc.u, sc.v, sc.common, sc.aa_score
      |FROM sc LEFT JOIN e ON e.u = sc.u AND e.v = sc.v
      |WHERE e.u IS NULL""".stripMargin

  /** K-hop reachability (k ≤ 3) from the region-0 nations over the trade
    * graph: per reachable node, the minimum hop count. The unrolled
    * frontier-expansion joins are the distributed BFS shape — each level is
    * one shuffled semi-join + distinct, all integer arithmetic (exact).
    */
  def khopReach(s: SparkSession, dir: String): DataFrame = {
    val e = OracleSql.tradeEdges(s, dir)
    val adj = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
      .distinct()
    val seeds = Tables.nation(s, dir).filter(col("n_regionkey") === 0)
      .select(col("n_nationkey").as("node"))
    def expand(frontier: DataFrame): DataFrame =
      adj.join(frontier, col("src") === col("node"))
        .select(col("dst").as("node")).distinct()
    val h1 = expand(seeds)
    val h2 = expand(h1)
    val h3 = expand(h2)
    seeds.withColumn("hop", lit(0))
      .unionAll(h1.withColumn("hop", lit(1)))
      .unionAll(h2.withColumn("hop", lit(2)))
      .unionAll(h3.withColumn("hop", lit(3)))
      .groupBy("node").agg(min("hop").as("hop"))
      .join(Tables.nation(s, dir), col("node") === col("n_nationkey"))
      .select(col("node"), col("n_name").as("name"), col("hop"))
  }

  val khopReachOracle: String =
    s"""WITH ${OracleSql.tradeEdgesSql},
      |adj AS MATERIALIZED (SELECT DISTINCT * FROM (
      |  SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e)),
      |h0 AS (SELECT n_nationkey AS node FROM nation WHERE n_regionkey = 0),
      |h1 AS (SELECT DISTINCT dst AS node FROM adj JOIN h0 ON src = node),
      |h2 AS (SELECT DISTINCT dst AS node FROM adj JOIN h1 ON src = node),
      |h3 AS (SELECT DISTINCT dst AS node FROM adj JOIN h2 ON src = node),
      |lv AS (
      |  SELECT node, 0 AS hop FROM h0
      |  UNION ALL SELECT node, 1 FROM h1
      |  UNION ALL SELECT node, 2 FROM h2
      |  UNION ALL SELECT node, 3 FROM h3
      |), mh AS (SELECT node, MIN(hop) AS hop FROM lv GROUP BY node)
      |SELECT node, n_name AS name, hop
      |FROM mh JOIN nation ON node = n_nationkey""".stripMargin

  /** Bipartite degree distribution + power-law slope: customers by how many
    * distinct parts they buy, histogrammed, with the log-log OLS slope (the
    * power-law exponent estimate) attached. Histogram is exact integers; the
    * slope regression runs over ~degree-count points (tiny) in doubles.
    */
  def degreeDist(s: SparkSession, dir: String): DataFrame = {
    val deg = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(countDistinct(col("l_partkey")).as("degree"))
    val hist = deg.groupBy("degree")
      .agg(count(lit(1)).as("n_customers"))
    val pts = hist.select(log(col("degree").cast("double")).as("lx"),
      log(col("n_customers").cast("double")).as("ly"))
    val fit = pts.agg(
      ((count(lit(1)) * sum(col("lx") * col("ly")) - sum(col("lx")) * sum(col("ly")))
        / (count(lit(1)) * sum(col("lx") * col("lx")) - sum(col("lx")) * sum(col("lx"))))
        .as("s"))
    hist.crossJoin(broadcast(fit))
      .select(col("degree"), col("n_customers"),
        round(col("s"), 6).as("loglog_slope"))
  }

  val degreeDistOracle: String =
    """WITH deg AS (
      |  SELECT o_custkey, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS degree
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY o_custkey
      |), hist AS (
      |  SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_customers
      |  FROM deg GROUP BY degree
      |), pts AS (
      |  SELECT ln(CAST(degree AS DOUBLE)) AS lx,
      |    ln(CAST(n_customers AS DOUBLE)) AS ly FROM hist
      |), fit AS (
      |  SELECT (COUNT(*) * SUM(lx * ly) - SUM(lx) * SUM(ly))
      |    / (COUNT(*) * SUM(lx * lx) - SUM(lx) * SUM(lx)) AS s
      |  FROM pts
      |)
      |SELECT degree, n_customers, ROUND(s, 6) AS loglog_slope
      |FROM hist CROSS JOIN fit""".stripMargin

  /** Perplexity-based corpus filter: per-doc perplexity under the corpus
    * unigram LM ([[TextAnalysis.unigramLmScores]]), percentile-ranked, with
    * the top-10%-perplexity tail flagged for drop — the classic LM-based
    * quality gate in LLM data curation (KenLM-style, with the corpus itself
    * as the reference model).
    */
  def perplexityFilter(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.unigramLmScores(
        Tables.documents(s, dir), "doc_id", "text")
      // rank over the UNROUNDED perplexity on both engines (rounding first
      // would create engine-dependent ties); avg_logp itself is already
      // 6-rounded inside unigramLmScores, matching the oracle's sc CTE
      .select(col("doc_id"), col("n_tokens"),
        exp(-col("avg_logp")).as("ppl_raw"))
      .localCheckpoint(eager = false) // histogram + rejoin read it
    // percent_rank without a single-partition window over the corpus:
    // SQL rank(v) = #rows with value strictly below + 1, so it is an
    // exclusive prefix count over the perplexity HISTOGRAM — the same
    // two-phase bucketed pass as the rank-stat family; percent_rank =
    // (rank-1)/(n-1) follows arithmetically (0 for a single-row corpus,
    // the built-in's convention)
    val hist = scored.groupBy("ppl_raw").agg(count(lit(1)).as("_cnt"))
      .localCheckpoint(eager = false) // read 3x: probe, prefix pass, totals
    val pre = graft.operators.PrefixSum.exclusive(hist, "ppl_raw", Seq("_cnt"))
    val tot = broadcast(hist.agg(sum(col("_cnt")).as("_n")))
    scored
      .join(pre.select(col("ppl_raw"), col("_cnt_excl")), Seq("ppl_raw"))
      .crossJoin(tot)
      .withColumn("pr", when(col("_n") === 1L, lit(0.0))
        .otherwise(col("_cnt_excl").cast("double") / (col("_n") - lit(1L))))
      .select(col("doc_id"), col("n_tokens"),
        round(col("ppl_raw"), 6).as("ppl"),
        round(col("pr"), 6).as("ppl_rank"),
        (col("pr") <= 0.9).cast("int").as("keep"))
  }

  val perplexityFilterOracle: String =
    """WITH dt AS (
      |  SELECT doc_id, tok, COUNT(*) AS m FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      |    FROM documents
      |  ) GROUP BY doc_id, tok
      |), cnt AS (
      |  SELECT tok, SUM(m) AS c FROM dt GROUP BY tok
      |), tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_total FROM cnt),
      |sc AS (
      |  SELECT dt.doc_id, CAST(SUM(m) AS BIGINT) AS n_tokens,
      |    ROUND(SUM(m * ln(CAST(c AS DOUBLE) / n_total)) / SUM(m), 6)
      |      AS avg_logp
      |  FROM dt JOIN cnt USING (tok) CROSS JOIN tot
      |  GROUP BY dt.doc_id
      |), pp AS (
      |  SELECT doc_id, n_tokens, ROUND(exp(-avg_logp), 6) AS ppl,
      |    percent_rank() OVER (ORDER BY exp(-avg_logp)) AS pr
      |  FROM sc
      |)
      |SELECT doc_id, n_tokens, ppl, ROUND(pr, 6) AS ppl_rank,
      |  CAST(CASE WHEN pr <= 0.9 THEN 1 ELSE 0 END AS INT) AS keep
      |FROM pp""".stripMargin

  /** Smoothed target encoding of part brand against line revenue — the
    * leakage-safe categorical encoder (te = (Σ_cat y + m·ȳ)/(n_cat + m),
    * m = 10). Revenue is DECIMAL-staged so both category and global sums are
    * exact; only the final blend runs in doubles (identical op order).
    */
  def targetEncode(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6)).as("y"))
    val g = li.agg(sum(col("y")).as("gsum"), count(lit(1)).as("gcnt"))
    li.groupBy(col("p_brand"))
      .agg(sum(col("y")).as("csum"), count(lit(1)).as("n"))
      .crossJoin(broadcast(g))
      .select(col("p_brand"), col("n"),
        round(col("csum").cast("double") / col("n"), 6).as("cat_mean"),
        round((col("csum").cast("double")
            + lit(10.0) * (col("gsum").cast("double") / col("gcnt")))
          / (col("n") + lit(10)), 6).as("te_smoothed"))
  }

  val targetEncodeOracle: String =
    """WITH li AS (
      |  SELECT p_brand,
      |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |), g AS (
      |  SELECT SUM(y) AS gsum, COUNT(*) AS gcnt FROM li
      |)
      |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
      |  ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS cat_mean,
      |  ROUND((CAST(SUM(y) AS DOUBLE)
      |      + 10.0 * (CAST(gsum AS DOUBLE) / gcnt))
      |    / (COUNT(*) + 10), 6) AS te_smoothed
      |FROM li CROSS JOIN g
      |GROUP BY p_brand, gsum, gcnt""".stripMargin

  /** Mutual information between the binned quantity feature and the return
    * flag: per-cell contributions from exact contingency counts, plus the
    * table total — the filter-method feature score. All probabilities derive
    * from exact integer counts; the ~15-cell total is rounded at 6.
    */
  def miFeatures(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_mi")
    s.sql(
      """WITH b AS (
        |  SELECT CAST(l_quantity AS BIGINT) div 10 AS qty_bin,
        |    l_returnflag AS rflag
        |  FROM li_mi
        |), xy AS (
        |  SELECT qty_bin, rflag, CAST(COUNT(*) AS BIGINT) AS n_xy
        |  FROM b GROUP BY qty_bin, rflag
        |), xm AS (SELECT qty_bin, SUM(n_xy) AS n_x FROM xy GROUP BY qty_bin),
        |ym AS (SELECT rflag, SUM(n_xy) AS n_y FROM xy GROUP BY rflag),
        |tot AS (SELECT SUM(n_xy) AS n FROM xy),
        |cell AS (
        |  SELECT qty_bin, rflag, n_xy,
        |    (CAST(n_xy AS DOUBLE) / n)
        |      * ln((CAST(n_xy AS DOUBLE) * n)
        |        / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))) AS term
        |  FROM xy JOIN xm USING (qty_bin) JOIN ym USING (rflag) CROSS JOIN tot
        |)
        |SELECT qty_bin, rflag, n_xy, ROUND(term, 6) AS mi_term,
        |  ROUND((SELECT SUM(term) FROM cell), 6) AS mi_total
        |FROM cell""".stripMargin)
  }

  val miFeaturesOracle: String =
    """WITH b AS (
      |  SELECT CAST(l_quantity AS BIGINT) // 10 AS qty_bin,
      |    l_returnflag AS rflag
      |  FROM lineitem
      |), xy AS (
      |  SELECT qty_bin, rflag, CAST(COUNT(*) AS BIGINT) AS n_xy
      |  FROM b GROUP BY qty_bin, rflag
      |), xm AS (SELECT qty_bin, SUM(n_xy) AS n_x FROM xy GROUP BY qty_bin),
      |ym AS (SELECT rflag, SUM(n_xy) AS n_y FROM xy GROUP BY rflag),
      |tot AS (SELECT SUM(n_xy) AS n FROM xy),
      |cell AS (
      |  SELECT qty_bin, rflag, n_xy,
      |    (CAST(n_xy AS DOUBLE) / n)
      |      * ln((CAST(n_xy AS DOUBLE) * n)
      |        / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))) AS term
      |  FROM xy JOIN xm USING (qty_bin) JOIN ym USING (rflag) CROSS JOIN tot
      |)
      |SELECT qty_bin, rflag, n_xy, ROUND(term, 6) AS mi_term,
      |  ROUND((SELECT SUM(term) FROM cell), 6) AS mi_total
      |FROM cell""".stripMargin

  /** Behavioral bot scoring over the event stream: per-user cadence stats —
    * inter-event gaps (seconds), exact median gap (explicit sorted-array
    * median — identical fp ops on both engines, unlike the built-in
    * interpolating percentiles), burstiness (σ/μ of gaps), peak
    * events-per-hour — and a deterministic rule flag (integer peak OR median
    * against fixed thresholds; the double-valued burstiness stays advisory
    * so the flag can't sit on an fp boundary).
    */
  def botDetection(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events_bot")
    s.sql(
      """WITH g AS (
        |  SELECT user_id,
        |    ts_us - lag(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS gap_us,
        |    -- FLOOR division, not `div` (truncate-toward-zero): a pre-1970
        |    -- (negative) timestamp must land in the same hour bucket as the
        |    -- oracle's `//`, which floors (round-13 parity fix)
        |    (ts_us - pmod(ts_us, 3600000000)) div 3600000000 AS hr
        |  FROM events_bot
        |), ph AS (
        |  SELECT user_id, hr, CAST(COUNT(*) AS BIGINT) AS n_in_hr
        |  FROM g GROUP BY user_id, hr
        |), peak AS (
        |  SELECT user_id, MAX(n_in_hr) AS max_per_hour,
        |    CAST(COUNT(*) AS BIGINT) AS active_hours
        |  FROM ph GROUP BY user_id
        |), arrs AS (
        |  SELECT user_id, CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
        |    sort_array(collect_list(gap_us)) AS a,
        |    ROUND(stddev_samp(CAST(gap_us AS DOUBLE))
        |      / avg(CAST(gap_us AS DOUBLE)), 6) AS burstiness
        |  FROM g GROUP BY user_id
        |), stats AS (
        |  -- explicit sorted-array median in EXACT arithmetic: gaps are
        |  -- integer micros, so a[k] and (a[k]+a[k+1])/2 are exact doubles
        |  -- (integers and half-integers) — no rounding, no engine-dependent
        |  -- percentile interpolation, no decimal-boundary flips
        |  SELECT user_id, n_gaps, burstiness,
        |    CASE
        |      -- a single-event user has NO gaps: element_at(a, 0) THROWS in
        |      -- Spark ("array indices start at 1") while the oracle's a[0]
        |      -- is NULL — return the NULL median explicitly (round-13 fix)
        |      WHEN n_gaps = 0 THEN CAST(NULL AS DOUBLE)
        |      WHEN n_gaps % 2 = 1
        |      THEN CAST(element_at(a, CAST((n_gaps + 1) div 2 AS INT)) AS DOUBLE)
        |      ELSE CAST(element_at(a, CAST(n_gaps div 2 AS INT))
        |          + element_at(a, CAST(n_gaps div 2 + 1 AS INT)) AS DOUBLE) / 2
        |    END AS med_gap_us
        |  FROM arrs
        |)
        |SELECT s.user_id, n_gaps, med_gap_us,
        |  burstiness, max_per_hour, active_hours,
        |  CAST(CASE WHEN max_per_hour >= 5 OR med_gap_us < 3600000000
        |    THEN 1 ELSE 0 END AS INT) AS bot_flag
        |FROM stats s JOIN peak p ON s.user_id = p.user_id""".stripMargin)
  }

  val botDetectionOracle: String =
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS gap_us,
      |    epoch_us(ts) // 3600000000 AS hr
      |  FROM events
      |), ph AS (
      |  SELECT user_id, hr, CAST(COUNT(*) AS BIGINT) AS n_in_hr
      |  FROM g GROUP BY user_id, hr
      |), peak AS (
      |  SELECT user_id, MAX(n_in_hr) AS max_per_hour,
      |    CAST(COUNT(*) AS BIGINT) AS active_hours
      |  FROM ph GROUP BY user_id
      |), arrs AS (
      |  SELECT user_id, CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
      |    list_sort(list(gap_us) FILTER (WHERE gap_us IS NOT NULL)) AS a,
      |    ROUND(stddev_samp(CAST(gap_us AS DOUBLE))
      |      / avg(CAST(gap_us AS DOUBLE)), 6) AS burstiness
      |  FROM g GROUP BY user_id
      |), stats AS (
      |  SELECT user_id, n_gaps, burstiness,
      |    CASE
      |      -- explicit NULL median for gap-less users (a[0] happens to be
      |      -- NULL in DuckDB; the Spark side makes the branch explicit)
      |      WHEN n_gaps = 0 THEN CAST(NULL AS DOUBLE)
      |      WHEN n_gaps % 2 = 1
      |      THEN CAST(a[CAST((n_gaps + 1) // 2 AS INT)] AS DOUBLE)
      |      ELSE CAST(a[CAST(n_gaps // 2 AS INT)]
      |          + a[CAST(n_gaps // 2 + 1 AS INT)] AS DOUBLE) / 2
      |    END AS med_gap_us
      |  FROM arrs
      |)
      |SELECT s.user_id, n_gaps, med_gap_us,
      |  burstiness, max_per_hour, active_hours,
      |  CAST(CASE WHEN max_per_hour >= 5 OR med_gap_us < 3600000000
      |    THEN 1 ELSE 0 END AS INT) AS bot_flag
      |FROM stats s JOIN peak p ON s.user_id = p.user_id""".stripMargin

  /** One PCA power-iteration step over the embedding corpus: the covariance
    * matrix as a distributed outer-product aggregate (explode to (vec, i, x),
    * self-join per vector, sum per (i, j) — one shuffle of |dim|² cells
    * regardless of corpus size), then C·1 normalized to the first Krylov
    * vector. At 100 TB the |dim|²-cell aggregate is the canonical
    * tall-skinny Gram-matrix shape (dim = 64 ⇒ 4096 cells — trivially small
    * state; the corpus never concentrates on fewer than |dim|² keys).
    */
  def powerIteration(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("vec_id"), col("i"), col("xf").cast("double").as("x"))
    val mu = t.groupBy("i")
      .agg((sum(col("x")) / count(lit(1))).as("mu"))
    val pairs = t.as("a").join(t.as("b"), Seq("vec_id"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(sum(col("a.x") * col("b.x")).as("sxy"),
        count(lit(1)).as("n"))
    val muI = mu.select(col("i").as("mi"), col("mu").as("mu_i"))
    val muJ = mu.select(col("i").as("mj"), col("mu").as("mu_j"))
    val cov = pairs
      .join(broadcast(muI), col("i") === col("mi"))
      .join(broadcast(muJ), col("j") === col("mj"))
      .select(col("i"), col("j"),
        (col("sxy") / col("n") - col("mu_i") * col("mu_j")).as("c"))
    val v = cov.groupBy("i").agg(sum(col("c")).as("v"))
    val norm = v.agg(sqrt(sum(col("v") * col("v"))).as("nrm"))
    v.crossJoin(broadcast(norm))
      .join(broadcast(mu.select(col("i").as("i2"), col("mu"))),
        col("i") === col("i2"))
      .select(col("i"), round(col("mu"), 6).as("mu"),
        round(col("v") / col("nrm"), 6).as("loading"))
  }

  val powerIterationOracle: String =
    """WITH t AS (
      |  -- dimension derived from the data (round-13: the hardcoded
      |  -- range(1, 65) silently pinned 64 dims while the Spark side's
      |  -- posexplode adapts to whatever width the fixture carries)
      |  SELECT vec_id,
      |    CAST(generate_subscripts(embedding, 1) AS INT) - 1 AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings
      |), mu AS (
      |  SELECT i, SUM(x) / COUNT(*) AS mu FROM t GROUP BY i
      |), pairs AS (
      |  SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS sxy, COUNT(*) AS n
      |  FROM t a JOIN t b USING (vec_id) GROUP BY a.i, b.i
      |), cov AS (
      |  SELECT p.i, p.j, p.sxy / p.n - mi.mu * mj.mu AS c
      |  FROM pairs p JOIN mu mi ON p.i = mi.i JOIN mu mj ON p.j = mj.i
      |), v AS (
      |  SELECT i, SUM(c) AS v FROM cov GROUP BY i
      |), nrm AS (SELECT sqrt(SUM(v * v)) AS nrm FROM v)
      |SELECT v.i, ROUND(mu.mu, 6) AS mu, ROUND(v.v / nrm.nrm, 6) AS loading
      |FROM v CROSS JOIN nrm JOIN mu ON v.i = mu.i""".stripMargin
}
