package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Similarity
import graft.sources.Tables

/** Quantitative-analysis extension batch: the time-series / inferential /
  * retrieval operators a crypto research desk layers on the warehouse —
  * exponential moving average (the Wilder-smoothing family the reference's
  * RSI approximates with Cutler's SMA variant, `spark_job_1.py:31-40`),
  * max drawdown, Markov event-transition matrices, chi-squared independence,
  * the Mann-Whitney U rank test (the non-parametric sibling of
  * q_abtest_welch), Benford first-digit screening, one Lloyd k-means step,
  * reciprocal-rank fusion of two retrieval rankings, add-one-smoothed
  * bigram LM scoring (the contextual upgrade of q_unigram_lm), and Lorenz
  * revenue-concentration curves. All exact-parity arithmetic (integer rank
  * algebra, DECIMAL partial sums) so every query is DuckDB-oracled.
  */
object Ext15Queries {

  // --- time series -------------------------------------------------------------

  /** Exponential moving average (alpha = 0.2) of each user's event-value
    * series, seeded with the first observation — the recursive indicator the
    * reference's SMA window cannot express. One shuffle (the groupBy);
    * the fold is a linear pass per key via the `aggregate` HOF over an
    * ordered `collect_list`, so cost is O(series) with no per-row window
    * state. Scale note: per-key series must fit an executor (same contract
    * as any per-key `collect_list`); for unbounded streams the incremental
    * path is `streaming/StatefulIndicators`. The fold is left-to-right on
    * both engines (`aggregate` here, `list_reduce` in DuckDB) over the same
    * (ts, event_id) order, so doubles match bit-for-bit.
    */
  def ewma(s: SparkSession, dir: String): DataFrame = {
    val vals = transform(array_sort(col("raw")), x => x.getField("value"))
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("ts_us"), col("event_id"), col("value")))
        .as("raw"))
      .select(
        col("user_id"),
        size(vals).as("n_events"),
        round(
          aggregate(
            slice(vals, lit(2), greatest(size(vals) - 1, lit(0))),
            element_at(vals, 1),
            (acc, v) => lit(0.2) * v + lit(0.8) * acc),
          6).as("ewma"))
  }

  val ewmaOracle: String =
    """SELECT user_id, CAST(COUNT(*) AS INT) AS n_events,
      |  ROUND(list_reduce(list(value ORDER BY epoch_us(ts), event_id),
      |                    (acc, v) -> 0.2 * v + 0.8 * acc), 6) AS ewma
      |FROM events GROUP BY user_id""".stripMargin

  /** Max drawdown per customer over the order-value series: running peak via
    * a ROWS-unbounded-preceding window, then the max of (peak - x) / peak.
    * One shuffle + one sort per key; max() over doubles is order-independent
    * so no decimal staging is needed.
    */
  def drawdown(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .withColumn("peak", max("o_totalprice").over(w))
      .withColumn("dd", (col("peak") - col("o_totalprice")) / col("peak"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        round(max("dd"), 6).as("max_drawdown"))
  }

  val drawdownOracle: String =
    """WITH dd AS (
      |  SELECT o_custkey,
      |    (MAX(o_totalprice) OVER w - o_totalprice)
      |      / MAX(o_totalprice) OVER w AS dd
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey
      |               ORDER BY o_orderdate, o_orderkey
      |               ROWS UNBOUNDED PRECEDING)
      |)
      |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  ROUND(MAX(dd), 6) AS max_drawdown
      |FROM dd GROUP BY o_custkey""".stripMargin

  /** First-order Markov transition matrix over per-user event-type
    * sequences: LAG the type, count (prev, next) pairs, and normalize each
    * row of the matrix. Two shuffles (the per-user sort, then the 25-cell
    * aggregate); the row-normalizing window runs on the tiny matrix, not
    * the corpus. The probability is a single n/rowsum division, so doubles
    * match without staging.
    */
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(s, dir)
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round(col("n") / sum("n").over(Window.partitionBy("prev_type")), 6))
  }

  val markovTransitionsOracle: String =
    """WITH seq AS (
      |  SELECT event_type AS next_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY epoch_us(ts), event_id) AS prev_type
      |  FROM events
      |), cells AS (
      |  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM seq WHERE prev_type IS NOT NULL
      |  GROUP BY prev_type, next_type
      |)
      |SELECT prev_type, next_type, n,
      |  ROUND(n / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
      |FROM cells""".stripMargin

  // --- inferential statistics --------------------------------------------------

  /** Chi-squared test of independence between document language and source:
    * contingency counts, expected cell values from row/column marginals, and
    * the summed (O-E)^2/E statistic. The corpus collapses to the cell grid
    * in one aggregate; everything after runs on |langs| x |sources| rows.
    * Cell contributions are staged through DECIMAL(28,12) so the final sum
    * is order-independent.
    */
  def chiSquare(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val wl = Window.partitionBy("lang")
    val ws = Window.partitionBy("source")
    val e = col("rowt").cast("double") * col("colt") / col("tot")
    cells
      .withColumn("rowt", sum("o").over(wl))
      .withColumn("colt", sum("o").over(ws))
      .withColumn("tot", sum("o").over(Window.partitionBy()))
      .withColumn("contrib", (col("o") - e) * (col("o") - e) / e)
      .agg(
        round(sum(col("contrib").cast(DecimalType(28, 12))).cast("double"), 6)
          .as("chi2"),
        ((countDistinct("lang") - 1) * (countDistinct("source") - 1))
          .cast("int").as("dof"),
        max("tot").as("n"))
  }

  val chiSquareOracle: String =
    """WITH cells AS (
      |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      |  FROM documents GROUP BY lang, source
      |), m AS (
      |  SELECT lang, source, o,
      |    SUM(o) OVER (PARTITION BY lang) AS rowt,
      |    SUM(o) OVER (PARTITION BY source) AS colt,
      |    SUM(o) OVER () AS tot
      |  FROM cells
      |), c AS (
      |  SELECT lang, source, o, tot,
      |    (o - CAST(rowt AS DOUBLE) * colt / tot)
      |      * (o - CAST(rowt AS DOUBLE) * colt / tot)
      |      / (CAST(rowt AS DOUBLE) * colt / tot) AS contrib
      |  FROM m
      |)
      |SELECT
      |  ROUND(CAST(SUM(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6)
      |    AS chi2,
      |  CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1)
      |    AS INT) AS dof,
      |  CAST(MAX(tot) AS BIGINT) AS n
      |FROM c""".stripMargin

  /** Mann-Whitney U (normal approximation, no tie correction in sigma)
    * between the 'click' and 'purchase' value populations. Midranks are
    * computed with exact integer algebra — 2*midrank(v) = 2*|{x &lt; v}| +
    * |{x = v}| + 1 — over the distinct-value histogram, so the rank sum
    * is an exact BIGINT on both engines and only the final z divides.
    * The corpus collapses to the distinct-value histogram in the first
    * aggregate, and the cumulative count runs as a two-phase bucketed
    * prefix sum ([[graft.operators.PrefixSum]]) — no single-task global
    * window even when the value domain is continuous and |histogram| ≈
    * |corpus|. That is the 100 TB posture.
    */
  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    val byVal = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("value")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("cnt1"))
      // probe + prefix pass both read it — checkpoint the histogram
      .localCheckpoint(eager = false)
    // Two-phase prefix sum ([[graft.operators.PrefixSum]]): for a
    // continuous value domain |histogram| ≈ |corpus| and the old global
    // ORDER BY window was a single-task bottleneck; bucketed phases keep
    // the exact integer algebra (identical BIGINT sums → identical hash).
    val agg = graft.operators.PrefixSum.exclusive(byVal, "value", Seq("cnt"))
      .withColumnRenamed("cnt_excl", "cumlt")
      .agg(
        sum(col("cnt1") * (lit(2) * col("cumlt") + col("cnt") + 1))
          .as("two_r1"),
        sum("cnt1").as("n1"),
        sum(col("cnt") - col("cnt1")).as("n2"))
    val u1 = (col("two_r1") - col("n1") * (col("n1") + 1)) / lit(2.0)
    val mu = col("n1").cast("double") * col("n2") / lit(2.0)
    val sigma = sqrt(
      col("n1").cast("double") * col("n2") * (col("n1") + col("n2") + 1)
        / lit(12.0))
    agg.select(
      col("n1"), col("n2"), u1.as("u1"),
      round((u1 - mu) / sigma, 6).as("z"))
  }

  val mannWhitneyOracle: String =
    """WITH byval AS (
      |  SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS cnt1
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY value
      |), ranked AS (
      |  SELECT cnt, cnt1,
      |    COALESCE(SUM(cnt) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumlt
      |  FROM byval
      |), a AS (
      |  SELECT CAST(SUM(cnt1 * (2 * cumlt + cnt + 1)) AS BIGINT) AS two_r1,
      |    CAST(SUM(cnt1) AS BIGINT) AS n1,
      |    CAST(SUM(cnt - cnt1) AS BIGINT) AS n2
      |  FROM ranked
      |)
      |SELECT n1, n2,
      |  (two_r1 - n1 * (n1 + 1)) / 2.0 AS u1,
      |  ROUND(((two_r1 - n1 * (n1 + 1)) / 2.0
      |          - CAST(n1 AS DOUBLE) * n2 / 2.0)
      |        / sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1) / 12.0), 6)
      |    AS z
      |FROM a""".stripMargin

  /** Benford first-significant-digit screening of order totals: observed
    * leading-digit shares against log10(1 + 1/d). The fraud/data-quality
    * smoke test — one aggregate over the corpus, nine output rows.
    */
  def benford(s: SparkSession, dir: String): DataFrame = {
    val digit = floor(col("o_totalprice")
      / pow(lit(10.0), floor(log10(col("o_totalprice"))))).cast("int")
    val expShare = log10(lit(1) + lit(1) / col("lead_digit").cast("double"))
    Tables.orders(s, dir)
      .groupBy(digit.as("lead_digit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("obs_share",
        col("n") / sum("n").over(Window.partitionBy()))
      .select(
        col("lead_digit"), col("n"),
        round(col("obs_share"), 6).as("obs_share"),
        round(expShare, 6).as("exp_share"),
        round(abs(col("obs_share") - expShare), 6).as("abs_dev"))
  }

  val benfordOracle: String =
    """WITH d AS (
      |  SELECT CAST(FLOOR(o_totalprice
      |    / pow(10.0, FLOOR(log10(o_totalprice)))) AS INT) AS lead_digit
      |  FROM orders
      |), g AS (
      |  SELECT lead_digit, CAST(COUNT(*) AS BIGINT) AS n FROM d
      |  GROUP BY lead_digit
      |), s AS (
      |  SELECT lead_digit, n, n / SUM(n) OVER () AS obs_share FROM g
      |)
      |SELECT lead_digit, n,
      |  ROUND(obs_share, 6) AS obs_share,
      |  ROUND(log10(1 + 1 / CAST(lead_digit AS DOUBLE)), 6) AS exp_share,
      |  ROUND(ABS(obs_share - log10(1 + 1 / CAST(lead_digit AS DOUBLE))), 6)
      |    AS abs_dev
      |FROM s""".stripMargin

  // --- clustering / retrieval --------------------------------------------------

  /** Squared-L2 distance between two float vectors: the codegen'd native
    * expression ([[graft.functions.SquaredL2Distance]]) — bit-identical to
    * the HOF `aggregate(zip_with(...))` left fold and to DuckDB's
    * list_sum(list_transform(...)), but it runs as a tight Java loop inside
    * whole-stage codegen instead of interpreted lambda dispatch.
    */
  private def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.sq_l2_distance(a, b)

  private def sqDistSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a) + 1),
       |      i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
       |         * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))""".stripMargin

  /** One Lloyd iteration of k-means (k = 8, seeds = vectors 0..7): assign
    * every vector to its nearest seed by squared L2, then emit the new
    * cluster sizes, the first four recomputed centroid coordinates, and the
    * mean assignment distance. Centroids broadcast (k rows); assignment is
    * one scan of the corpus with a k-way argmin — no shuffle until the
    * 8-group aggregate, which is the posture an iterative k-means keeps at
    * 100 TB (the corpus never re-partitions; only k x dims floats move).
    * Cluster means are staged through DECIMAL(28,12) for order-independent
    * sums.
    */
  def kmeansStep(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val cent = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    val assigned = emb.crossJoin(broadcast(cent))
      .withColumn("dist", sqDist(col("embedding"), col("cvec")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("dist"), col("centroid_id"))))
      .filter(col("rk") === 1)
    def meanDim(i: Int): Column =
      round(
        sum(element_at(col("embedding"), i).cast("double")
          .cast(DecimalType(28, 12))).cast("double") / count(lit(1)),
        6).as(s"c$i")
    assigned.groupBy("centroid_id")
      .agg(
        count(lit(1)).as("n"),
        meanDim(1), meanDim(2), meanDim(3), meanDim(4),
        round(
          sum(col("dist").cast(DecimalType(28, 12))).cast("double")
            / count(lit(1)), 6).as("mean_dist"))
  }

  val kmeansStepOracle: String = {
    def meanDim(i: Int): String =
      s"""ROUND(CAST(SUM(CAST(CAST(embedding[$i] AS DOUBLE)
         |    AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS c$i""".stripMargin
    s"""WITH cent AS (
       |  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
       |  WHERE vec_id < 8
       |), scored AS (
       |  SELECT e.vec_id, e.embedding, c.centroid_id,
       |    ${sqDistSql("e.embedding", "c.cvec")} AS dist
       |  FROM embeddings e CROSS JOIN cent c
       |), assigned AS (
       |  SELECT * FROM scored
       |  QUALIFY row_number() OVER (
       |    PARTITION BY vec_id ORDER BY dist, centroid_id) = 1
       |)
       |SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n,
       |  ${meanDim(1)}, ${meanDim(2)}, ${meanDim(3)}, ${meanDim(4)},
       |  ROUND(CAST(SUM(CAST(dist AS DECIMAL(28,12))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_dist
       |FROM assigned GROUP BY centroid_id""".stripMargin
  }

  /** Reciprocal-rank fusion of two retrieval rankings — cosine similarity
    * and L1 (Manhattan) distance — for the first ten query vectors:
    * rrf = 1/(60+rank_cos) + 1/(60+rank_l1), top 5 fused per query. The
    * standard hybrid-search combiner (Cormack et al., SIGIR'09); here both
    * rankers are exact full ranks, the verifier posture — the production
    * path fuses per-ranker top-k with rank-absent terms dropped, which is
    * what the IVF path (q_ann_ivf) feeds. Queries broadcast; candidate scan
    * is one pass.
    */
  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val c = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cvec"))
    // codegen'd native L1 — same sequential-sum parity contract as the
    // cosine expression (see functions.L1Distance)
    val l1 = graft.functions.VectorFunctions.l1_distance(col("qvec"), col("cvec"))
    val wq = Window.partitionBy("query_id")
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos", Similarity.cosine(col("qvec"), col("cvec")))
      .withColumn("l1", l1)
      .withColumn("rank_cos", row_number().over(
        wq.orderBy(col("cos").desc, col("neighbor_id"))))
      .withColumn("rank_l1", row_number().over(
        wq.orderBy(col("l1"), col("neighbor_id"))))
      .withColumn("rrf",
        lit(1.0) / (lit(60) + col("rank_cos"))
          + lit(1.0) / (lit(60) + col("rank_l1")))
    scored
      .withColumn("rk", row_number().over(
        wq.orderBy(col("rrf").desc, col("neighbor_id"))))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        col("rank_cos"), col("rank_l1"), round(col("rrf"), 6).as("rrf"))
  }

  val rrfFusionOracle: String = {
    val cos = OracleSql.cosSql("q.qvec", "c.cvec")
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
       |  WHERE vec_id < 10
       |), c AS (
       |  SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings
       |  WHERE vec_id >= 10
       |), scored AS (
       |  SELECT q.query_id, c.neighbor_id,
       |    $cos AS cos,
       |    list_sum(list_transform(range(1, len(q.qvec) + 1),
       |      i -> ABS(CAST(q.qvec[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))))
       |      AS l1
       |  FROM c CROSS JOIN q
       |), ranked AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS INT) AS rank_cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY l1, neighbor_id) AS INT) AS rank_l1
       |  FROM scored
       |), fused AS (
       |  SELECT query_id, neighbor_id, rank_cos, rank_l1,
       |    1.0 / (60 + rank_cos) + 1.0 / (60 + rank_l1) AS rrf
       |  FROM ranked
       |)
       |SELECT query_id, neighbor_id, rank_cos, rank_l1,
       |  ROUND(rrf, 6) AS rrf
       |FROM fused
       |QUALIFY row_number() OVER (
       |  PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) <= 5""".stripMargin
  }

  // --- language modelling ------------------------------------------------------

  /** Add-one-smoothed bigram language-model scoring: corpus bigram and
    * first-token counts, vocabulary size V, then per-document mean
    * log p(w2|w1) = ln((c(w1 w2)+1)/(c(w1)+V)) — the contextual upgrade of
    * q_unigram_lm and the classic KenLM-style quality filter. The corpus
    * collapses ONCE to (doc, w1, w2, cnt); both model tables re-aggregate
    * from that and broadcast back (they are bigram-vocabulary-sized —
    * Heaps'-law ≪ corpus; for adversarial vocabularies drop the broadcast
    * hints and the same plan sort-merges, per the q_unigram_lm note), so
    * the corpus-sized side shuffles exactly once. Each distinct triple's
    * log term is staged through DECIMAL(28,12) and weighted by cnt —
    * bit-identical to summing per occurrence, under any partitioning.
    * Documents with fewer than two tokens have no bigrams and drop out,
    * matching the oracle's inner joins.
    */
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
    val docPairs = toks.select(col("doc_id"),
      explode(zip_with(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("pr"))
      .select(col("doc_id"), col("pr.w1"), col("pr.w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("cnt"))
    val c2 = docPairs.groupBy("w1", "w2").agg(sum("cnt").as("c2"))
    val c1 = docPairs.groupBy("w1").agg(sum("cnt").as("c1"))
    val v = toks.select(explode(col("t")).as("tok"))
      .agg(countDistinct("tok").as("vsz"))
    docPairs
      .join(broadcast(c2), Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("logp",
        log((col("c2") + 1).cast("double") / (col("c1") + col("vsz"))))
      .groupBy("doc_id")
      .agg(
        sum("cnt").as("n_bigrams"),
        round(
          // cnt as DECIMAL(9,0): 28+9+1 = 38 keeps the product inside
          // exact decimal range (a raw long would widen past 38 and let
          // Spark round the product — observed 1e-6 drift vs the oracle)
          sum(col("logp").cast(DecimalType(28, 12))
              * col("cnt").cast(DecimalType(9, 0)))
            .cast("double") / sum("cnt"), 6).as("avg_logp"))
  }

  val bigramLmOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
      |), bgr AS (
      |  SELECT doc_id, pr[1] AS w1, pr[2] AS w2 FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(toks)),
      |        i -> [toks[i], toks[i + 1]])) AS pr
      |    FROM t
      |  )
      |), c2 AS (
      |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bgr GROUP BY 1, 2
      |), c1 AS (
      |  SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bgr GROUP BY 1
      |), v AS (
      |  SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vsz FROM (
      |    SELECT unnest(toks) AS tok FROM t
      |  )
      |), sc AS (
      |  SELECT b.doc_id,
      |    ln(CAST(c2.c2 + 1 AS DOUBLE) / (c1.c1 + v.vsz)) AS logp
      |  FROM bgr b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
      |)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  ROUND(CAST(SUM(CAST(logp AS DECIMAL(28,12))) AS DOUBLE)
      |    / COUNT(*), 6) AS avg_logp
      |FROM sc GROUP BY doc_id""".stripMargin

  // --- concentration -----------------------------------------------------------

  /** Lorenz revenue-concentration curve by customer decile: customers ranked
    * by exact DECIMAL revenue, split into ntile(10) deciles, each reporting
    * its share and the cumulative share of total revenue. The corpus
    * collapses to one row per customer in the first aggregate; the
    * customer-cardinality rank + running revenue then go through the
    * two-phase bucketed pass ([[graft.operators.PrefixSum.rankedPrefix]])
    * — no single-partition window over the customer table — with the exact
    * ntile(10) distribution recomputed arithmetically from (rank, n). All
    * sums are DECIMAL(18,6) partials — exact and order-independent — with
    * the share division deferred to the final projection.
    */
  def lorenzShare(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixSum
    val rev = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 6))).as("rev"))
      .localCheckpoint(eager = false)
    val tot = broadcast(rev.agg(sum("rev").as("tot"),
      count(lit(1)).as("_n")))
    val ranked = PrefixSum.rankedPrefix(rev, "rev", descOrder = true,
        Seq("o_custkey"), Seq("rev"), "_rn")
      .crossJoin(tot)
      // inclusive running revenue = strict prefix (NULL on the top row) + own
      .withColumn("cum", coalesce(col("rev_excl"), lit(0)) + col("rev"))
    PrefixSum.ntileFromRank(ranked, "_rn", "_n", 10, "decile")
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_cust"),
        round(sum("rev").cast("double") / max("tot").cast("double"), 6)
          .as("decile_share"),
        round(max("cum").cast("double") / max("tot").cast("double"), 6)
          .as("cum_share"))
  }

  val lorenzShareOracle: String =
    """WITH rev AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      |  FROM orders GROUP BY o_custkey
      |), ranked AS (
      |  SELECT o_custkey, rev,
      |    CAST(ntile(10) OVER w AS INT) AS decile,
      |    SUM(rev) OVER (w ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(rev) OVER () AS tot
      |  FROM rev
      |  WINDOW w AS (ORDER BY rev DESC, o_custkey)
      |)
      |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
      |  ROUND(CAST(SUM(rev) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE), 6)
      |    AS decile_share,
      |  ROUND(CAST(MAX(cum) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE), 6)
      |    AS cum_share
      |FROM ranked GROUP BY decile""".stripMargin
}
