package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** Round-6 extension batch 10: retrieval-quality evaluation and
  * training-label construction — precision@5 / MRR / NDCG@5 of the ANN
  * index against a ground-truth relevance signal, and churn-label feature
  * extraction (the "build the training set from the event log" step).
  */
object Ext29Queries {

  /** Retrieval-quality audit of the IVF index: for every query vector,
    * retrieve top-5 (same index as `q_ann_ivf`), mark a hit when the
    * neighbor shares the query's label, and aggregate per label:
    * precision@5, MRR (first-hit reciprocal rank), and NDCG@5 with the
    * ideal ranking computed over the SAME retrieved set (binary gains,
    * log2 position discount). All three metrics ride one retrieval pass —
    * the per-query window ranks 5 rows, never the corpus.
    */
  def retrievalEval(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val labels = emb.select(col("vec_id"), col("label"))
    val neigh = Similarity.ivfTopK(
        queries = emb, corpus = emb,
        centroids = emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 2)
      .join(broadcast(labels.withColumnRenamed("vec_id", "query_id")),
        Seq("query_id"))
      .join(broadcast(labels
          .withColumnRenamed("vec_id", "neighbor_id")
          .withColumnRenamed("label", "nlabel")),
        Seq("neighbor_id"))
      .withColumn("rel", when(col("nlabel") === col("label"), 1).otherwise(0))
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val wIdeal = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("cos").desc, col("neighbor_id"))
    val perQuery = neigh
      .withColumn("rk", row_number().over(wRank))
      .withColumn("irk", row_number().over(wIdeal))
      .groupBy("query_id", "label")
      .agg(
        (sum("rel") / count(lit(1))).as("p5"),
        coalesce(max(when(col("rel") === 1,
          lit(1.0) / col("rk"))), lit(0.0)).as("rr"),
        sum(col("rel") / log2(col("rk") + 1)).as("dcg"),
        sum(col("rel") / log2(col("irk") + 1)).as("idcg"))
      .withColumn("ndcg",
        when(col("idcg") > 0, col("dcg") / col("idcg")).otherwise(lit(0.0)))
    perQuery.groupBy("label")
      .agg(count(lit(1)).as("n_queries"),
        round(avg("p5"), 6).as("precision_at_5"),
        round(avg("rr"), 6).as("mrr"),
        round(avg("ndcg"), 6).as("ndcg_at_5"))
  }

  import OracleSql.dotCosSql

  val retrievalEvalOracle: String =
    s"""WITH cent AS (
       |  SELECT vec_id AS centroid_id, embedding AS centv FROM embeddings
       |  WHERE vec_id < 10
       |), assign AS (
       |  SELECT e.vec_id AS neighbor_id, e.embedding AS cv,
       |    e.label AS nlabel, c.centroid_id,
       |    ${dotCosSql("e.embedding", "c.centv")} AS aff
       |  FROM embeddings e, cent c
       |  QUALIFY row_number() OVER (
       |    PARTITION BY e.vec_id ORDER BY aff DESC, c.centroid_id) = 1
       |), probes AS (
       |  SELECT q.vec_id AS query_id, q.embedding AS qv, q.label,
       |    c.centroid_id, ${dotCosSql("q.embedding", "c.centv")} AS caff
       |  FROM embeddings q, cent c
       |  QUALIFY row_number() OVER (
       |    PARTITION BY q.vec_id ORDER BY caff DESC, c.centroid_id) <= 2
       |), neigh AS (
       |  SELECT p.query_id, p.label, a.neighbor_id,
       |    CASE WHEN a.nlabel = p.label THEN 1 ELSE 0 END AS rel,
       |    ${dotCosSql("p.qv", "a.cv")} AS cos
       |  FROM probes p JOIN assign a USING (centroid_id)
       |  WHERE a.neighbor_id <> p.query_id
       |  QUALIFY row_number() OVER (
       |    PARTITION BY p.query_id ORDER BY cos DESC, neighbor_id) <= 5
       |), ranked AS (
       |  SELECT query_id, label, rel,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rk,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, cos DESC, neighbor_id) AS irk
       |  FROM neigh
       |), per_query AS (
       |  SELECT query_id, label,
       |    CAST(SUM(rel) AS DOUBLE) / COUNT(*) AS p5,
       |    COALESCE(MAX(CASE WHEN rel = 1 THEN 1.0 / rk END), 0.0) AS rr,
       |    SUM(rel / log2(rk + 1)) AS dcg,
       |    SUM(rel / log2(irk + 1)) AS idcg
       |  FROM ranked GROUP BY 1, 2
       |)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_queries,
       |  ROUND(AVG(p5), 6) AS precision_at_5,
       |  ROUND(AVG(rr), 6) AS mrr,
       |  ROUND(AVG(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END), 6)
       |    AS ndcg_at_5
       |FROM per_query GROUP BY label""".stripMargin

  /** Churn-label training-set construction from the event log, at the
    * (user, event_type) subscription grain (the synthetic users are all
    * active end-to-end, so user-grain churn would be degenerate — the
    * subscription grain is also the realistic one: a user abandons one
    * product surface while keeping others): the corpus span splits 80/20
    * into observation and holdout windows (data-derived anchors — no wall
    * clock), a subscription churns when it has observation activity but
    * none in the holdout, and its features come from the observation
    * window only (no target leakage). Output audits the feature table per
    * class: support, event volume, mean active days, mean value. One pass
    * to per-subscription features, a broadcast 1-row span, and a
    * left-anti-shaped holdout flag — shuffles stay on the
    * (user, event_type) key.
    */
  def churnFeatures(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("ts_us div 86400000000").as("day_no"))
    val span = ev.agg(min("day_no").as("d0"), max("day_no").as("d1"))
      .withColumn("cut",
        (col("d0") + floor((col("d1") - col("d0") + 1) * 0.8)).cast("long"))
    val withCut = ev.crossJoin(broadcast(span))
    val feats = withCut.filter(col("day_no") < col("cut"))
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("day_no").as("active_days"),
        sum(col("value").cast("decimal(18,2)")).as("total_value"))
    val retained = withCut.filter(col("day_no") >= col("cut"))
      .select("user_id", "event_type").distinct()
      .withColumn("retained", lit(1))
    feats.join(broadcast(retained), Seq("user_id", "event_type"), "left")
      .withColumn("churned", when(col("retained").isNull, 1).otherwise(0))
      .groupBy("churned")
      .agg(count(lit(1)).as("n_subs"),
        sum("n_events").as("total_events"),
        round(avg("active_days"), 6).as("avg_active_days"),
        round(avg(col("total_value").cast("double")), 6).as("avg_value"))
  }

  /** Fuzzy name matching with the codegen'd [[graft.functions.JaroWinkler]]
    * expression (Spark has levenshtein but no Jaro-Winkler; the oracle uses
    * DuckDB's built-in `jaro_winkler_similarity`, which pins the exact
    * semantics — 0.7 boost gate, 4-char prefix cap, empty→0). Candidate
    * pairs come from p_type blocks over DISTINCT names (the entity-
    * resolution blocking discipline: Σ|block|² work, never corpus²), the
    * expression stays inside whole-stage codegen, and `name_a < name_b`
    * halves the symmetric pairs.
    */
  def jaroWinklerPairs(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir).select("p_type", "p_name").distinct()
    val a = names.select(col("p_type"), col("p_name").as("name_a"))
    val b = names.select(col("p_type"), col("p_name").as("name_b"))
    a.join(b, Seq("p_type"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("jw", graft.functions.JaroWinklerFunctions
        .jaro_winkler(col("name_a"), col("name_b")))
      .filter(col("jw") >= 0.8)
      .select(col("p_type"), col("name_a"), col("name_b"),
        round(col("jw"), 6).as("jw"))
  }

  val jaroWinklerPairsOracle: String =
    """WITH names AS (SELECT DISTINCT p_type, p_name FROM part)
      |SELECT a.p_type, a.p_name AS name_a, b.p_name AS name_b,
      |  ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
      |FROM names a JOIN names b
      |  ON a.p_type = b.p_type AND a.p_name < b.p_name
      |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.8""".stripMargin

  val churnFeaturesOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, value,
      |    epoch_us(ts) // 86400000000 AS day_no
      |  FROM events
      |), span AS (
      |  SELECT MIN(day_no) AS d0, MAX(day_no) AS d1,
      |    MIN(day_no) + CAST(floor((MAX(day_no) - MIN(day_no) + 1) * 0.8)
      |      AS BIGINT) AS cut
      |  FROM ev
      |), feats AS (
      |  SELECT user_id, event_type, COUNT(*) AS n_events,
      |    COUNT(DISTINCT day_no) AS active_days,
      |    SUM(CAST(value AS DECIMAL(18,2))) AS total_value
      |  FROM ev CROSS JOIN span WHERE day_no < cut GROUP BY 1, 2
      |), retained AS (
      |  SELECT DISTINCT user_id, event_type FROM ev CROSS JOIN span
      |  WHERE day_no >= cut
      |)
      |SELECT CASE WHEN r.user_id IS NULL THEN 1 ELSE 0 END AS churned,
      |  CAST(COUNT(*) AS BIGINT) AS n_subs,
      |  CAST(SUM(n_events) AS BIGINT) AS total_events,
      |  ROUND(AVG(active_days), 6) AS avg_active_days,
      |  ROUND(AVG(CAST(total_value AS DOUBLE)), 6) AS avg_value
      |FROM feats f LEFT JOIN retained r ON f.user_id = r.user_id
      |  AND f.event_type = r.event_type
      |GROUP BY 1""".stripMargin
}
