package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.types.DecimalType

import graft.operators.{Anonymize, Graphs, RobustStats, Similarity, TextAnalysis}
import graft.sources.Tables

/** Round-6 extension batch 2: the curation tier around a training corpus —
  * semantic dedup (SemDeDup), k-anonymity release suppression, curriculum
  * phase assignment, tokenizer-fertility accounting, deterministic shard
  * interleaving, class-balance weighting — plus robust statistics
  * (winsorize, MAD outliers), time-decay aggregation, graph triangle
  * counting, and two more TPC-H topologies (Q6 scan-agg, Q14 conditional
  * join-agg).
  */
object Ext12Queries {

  import OracleSql.cosSql

  // --- semantic dedup ---------------------------------------------------------

  /** SemDeDup ([[Similarity.semDedup]]): deterministic centroids (vec_id<8),
    * drop vectors with a lower-id cluster-mate at cosine >= 0.45; returns the
    * kept (vec_id, centroid_id) assignment.
    *
    * The gate pins 8 centroids via conf (what the static oracle SQL
    * replays — `graft.Session.gatePins` sets
    * `graft.semdedup.centroids=8`); per-centroid bucket size — and so the
    * pairwise verify — grows as N/k, so with NO conf anywhere the count
    * now DERIVES as ceil(sqrt(N)) clamped
    * ([[graft.operators.Scale.deriveCentroids]]) from the memoized corpus
    * count: an unconfigured production call gets the sqrt-N operating
    * point instead of a test-SF constant.
    */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val k = graft.operators.Scale.derivedIntKnob(
      s, "graft.semdedup.centroids", emb, graft.operators.Scale.deriveCentroids)
    Similarity.semDedup(emb, emb.filter(col("vec_id") < k),
      "vec_id", "embedding", 0.45)
  }

  val semDedupOracle: String =
    s"""WITH cand AS (
       |  SELECT v.vec_id, c.vec_id AS centroid_id,
       |    ${cosSql("v.embedding", "c.embedding")} AS aff
       |  FROM embeddings v JOIN embeddings c ON c.vec_id < 8
       |), assign AS (
       |  SELECT vec_id, centroid_id FROM cand
       |  QUALIFY row_number() OVER (
       |    PARTITION BY vec_id ORDER BY aff DESC, centroid_id) = 1
       |), dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM assign a JOIN assign b
       |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id
       |  WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.45
       |)
       |SELECT vec_id, centroid_id FROM assign
       |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin

  // --- k-anonymity ------------------------------------------------------------

  /** k-anonymity suppression ([[Anonymize.kAnonymize]]) over the customer
    * quasi-identifiers (nation, market segment), k=5.
    */
  def kAnonymity(s: SparkSession, dir: String): DataFrame =
    Anonymize.kAnonymize(Tables.customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"), k = 5)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))

  val kAnonymityOracle: String =
    """WITH q AS MATERIALIZED (
      |  SELECT c_custkey, c_nationkey, c_mktsegment,
      |    COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS _qn
      |  FROM customer
      |), s AS (
      |  -- the released '*' rows are themselves a quasi-identifier class:
      |  -- if fewer than k rows are suppressed in total, drop them
      |  SELECT COUNT(*) AS _nstar FROM q WHERE _qn < 5
      |)
      |SELECT c_custkey,
      |  CASE WHEN _qn < 5 THEN '*' ELSE CAST(c_nationkey AS VARCHAR) END
      |    AS c_nationkey,
      |  CASE WHEN _qn < 5 THEN '*' ELSE c_mktsegment END AS c_mktsegment
      |FROM q, s WHERE _qn >= 5 OR _nstar >= 5""".stripMargin

  // --- curriculum ordering ----------------------------------------------------

  /** Curriculum phase assignment: difficulty = mean word length, phases =
    * exact-quartile thresholds (1 + number of quartile boundaries below the
    * doc's difficulty). Threshold-based bucketing instead of a global
    * NTILE: the quartile boundaries are ONE tiny aggregate broadcast onto
    * every row, so no single-partition global sort exists anywhere in the
    * plan — the form that survives 100 TB.
    */
  def curriculum(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"),
        round(TextAnalysis.avgTokenLen(col("text")), 6).as("difficulty"))
    val qs = scored.agg(
      expr("percentile(difficulty, array(0.25D, 0.5D, 0.75D))").as("qs"))
      .select(element_at(col("qs"), 1).as("_q1"),
        element_at(col("qs"), 2).as("_q2"), element_at(col("qs"), 3).as("_q3"))
    scored.crossJoin(broadcast(qs))
      .select(col("doc_id"), col("difficulty"),
        (lit(1) + when(col("difficulty") > col("_q1"), 1).otherwise(0)
          + when(col("difficulty") > col("_q2"), 1).otherwise(0)
          + when(col("difficulty") > col("_q3"), 1).otherwise(0))
          .cast("int").as("phase"))
  }

  val curriculumOracle: String =
    """WITH scored AS (
      |  SELECT doc_id,
      |    ROUND(CAST(len(replace(text, ' ', '')) AS DOUBLE)
      |      / len(string_split(text, ' ')), 6) AS difficulty
      |  FROM documents
      |), qs AS (
      |  SELECT quantile_cont(difficulty, 0.25) AS q1,
      |    quantile_cont(difficulty, 0.5) AS q2,
      |    quantile_cont(difficulty, 0.75) AS q3
      |  FROM scored
      |)
      |SELECT doc_id, difficulty,
      |  CAST(1 + (difficulty > q1)::INT + (difficulty > q2)::INT
      |    + (difficulty > q3)::INT AS INT) AS phase
      |FROM scored CROSS JOIN qs""".stripMargin

  // --- robust statistics ------------------------------------------------------

  /** Winsorized mean ([[RobustStats.winsorizedMean]]): l_extendedprice
    * clipped to per-returnflag [p05, p95].
    */
  def winsorize(s: SparkSession, dir: String): DataFrame =
    RobustStats.winsorizedMean(Tables.lineitem(s, dir),
      "l_returnflag", "l_extendedprice", 0.05, 0.95)

  val winsorizeOracle: String =
    """WITH b AS (
      |  SELECT l_returnflag,
      |    quantile_cont(l_extendedprice, 0.05) AS lo,
      |    quantile_cont(l_extendedprice, 0.95) AS hi
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l.l_returnflag, COUNT(*) AS n,
      |  ROUND(AVG(l_extendedprice), 6) AS avg_raw,
      |  ROUND(AVG(least(greatest(l_extendedprice, lo), hi)), 6)
      |    AS avg_winsorized
      |FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
      |GROUP BY l.l_returnflag""".stripMargin

  /** MAD outlier flagging ([[RobustStats.madOutliers]]) on event values,
    * cutoff 3 MADs.
    */
  def madOutliers(s: SparkSession, dir: String): DataFrame =
    RobustStats.madOutliers(Tables.events(s, dir), "event_type", "value", 3.0)

  val madOutliersOracle: String =
    """WITH m AS (
      |  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
      |), d AS (
      |  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS dev
      |  FROM events e JOIN m ON e.event_type = m.event_type
      |), md AS (
      |  SELECT event_type, median(dev) AS mad FROM d GROUP BY event_type
      |)
      |SELECT d.event_type, COUNT(*) AS n,
      |  ROUND(ANY_VALUE(d.med), 6) AS med, ROUND(ANY_VALUE(md.mad), 6) AS mad,
      |  SUM(CASE WHEN d.dev > 3.0 * md.mad THEN 1 ELSE 0 END)::BIGINT
      |    AS n_outliers
      |FROM d JOIN md ON d.event_type = md.event_type
      |GROUP BY d.event_type""".stripMargin

  // --- TPC-H Q6 / Q14 ---------------------------------------------------------

  /** TPC-H Q6 (forecast revenue change): pure scan-side filter + aggregate —
    * every predicate pushes to the parquet scan, no shuffle beyond the
    * single-row final aggregation.
    */
  def tpchQ6(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice") * col("l_discount"))
        .cast(DecimalType(18, 6))).cast("double").as("revenue"))

  val tpchQ6Oracle: String =
    """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
      |    AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** TPC-H Q14 (promotion effect): one month of lineitem against a broadcast
    * part dim, conditional aggregate ratio.
    */
  def tpchQ14(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_type"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(round(
        lit(100.0) * sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double")
          / sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(18, 6))).cast("double"), 6)
        .as("promo_revenue"))
  }

  val tpchQ14Oracle: String =
    """SELECT ROUND(100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
      |    THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(18,6)))
      |    AS DOUBLE)
      |  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
      |    AS DOUBLE), 6) AS promo_revenue
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin

  // --- graph triangles --------------------------------------------------------

  /** Triangle count ([[Graphs.triangleCount]]) over the nation trade graph:
    * an edge joins two nations whose customer->supplier lineitem flow
    * exceeds the mean pair flow (data-adaptive threshold, so the graph is
    * meaningful at every scale factor).
    */
  def triangleCount(s: SparkSession, dir: String): DataFrame =
    Graphs.triangleCount(OracleSql.tradeEdges(s, dir), "u", "v")

  val triangleCountOracle: String =
    s"""WITH ${OracleSql.tradeEdgesSql}
      |SELECT
      |  (SELECT COUNT(DISTINCT n) FROM
      |    (SELECT u AS n FROM e UNION ALL SELECT v FROM e)) AS n_nodes,
      |  (SELECT COUNT(*) FROM e) AS n_edges,
      |  (SELECT COUNT(*) FROM e e1
      |     JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
      |     JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v) AS n_triangles""".stripMargin

  // --- class balance weights --------------------------------------------------

  /** Per-label training weights over the embedding corpus: inverse-frequency
    * (n_total / (n_classes * n_label)) and effective-number reweighting
    * ((1-beta) / (1-beta^n), Cui et al. 2019, beta=0.99). One tiny
    * aggregate; the totals row is broadcast.
    */
  def classWeights(s: SparkSession, dir: String): DataFrame = {
    val byLabel = Tables.embeddings(s, dir)
      .groupBy("label").agg(count(lit(1)).as("n"))
    val totals = byLabel.agg(sum(col("n")).cast("double").as("_n_total"),
      count(lit(1)).cast("double").as("_n_classes"))
    byLabel.crossJoin(broadcast(totals))
      .select(col("label"), col("n"),
        round(col("_n_total") / (col("_n_classes") * col("n")), 6).as("w_inv"),
        round(lit(0.01) / (lit(1.0) - pow(lit(0.99), col("n").cast("double"))), 6)
          .as("w_eff"))
  }

  val classWeightsOracle: String =
    """WITH byl AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
      |t AS (SELECT CAST(SUM(n) AS DOUBLE) AS n_total,
      |        CAST(COUNT(*) AS DOUBLE) AS n_classes FROM byl)
      |SELECT label, n, ROUND(n_total / (n_classes * n), 6) AS w_inv,
      |  ROUND(0.01 / (1.0 - POWER(0.99, CAST(n AS DOUBLE))), 6) AS w_eff
      |FROM byl CROSS JOIN t""".stripMargin

  // --- shard interleaving -----------------------------------------------------

  /** Deterministic round-robin shard assignment: rank within each source
    * (ordered by doc_id) mod 8 — every source spreads evenly over the 8
    * training shards with zero coordination between sources. The window
    * partitions by source, so the sort is per-source and parallel; returns
    * the per-(shard, source) manifest.
    */
  def interleaveShards(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    Tables.documents(s, dir)
      .withColumn("shard",
        ((row_number().over(w) - 1) % 8).cast("int"))
      .groupBy("shard", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
  }

  val interleaveShardsOracle: String =
    """SELECT CAST((rn - 1) % 8 AS INT) AS shard, source,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM (
      |  SELECT source, n_chars, row_number() OVER (
      |    PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents
      |)
      |GROUP BY 1, 2""".stripMargin

  // --- time-decayed aggregation -----------------------------------------------

  /** Exponential time-decay aggregation: per event type, the freshness-
    * weighted value sum with rate 0.05/day anchored at the corpus max
    * timestamp (deterministic — no wall clock anywhere). The anchor is one
    * scalar aggregate broadcast onto the scan.
    */
  def freshnessDecay(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val mx = ev.agg(max(col("ts_us")).as("_mx"))
    ev.crossJoin(broadcast(mx))
      .withColumn("_age_days",
        (col("_mx") - col("ts_us")).cast("double") / lit(86400000000.0))
      .groupBy("event_type")
      // DECIMAL-staged sums (round-13 fix): raw double SUMs depend on
      // partition/merge order, so a large group could drift onto a
      // ROUND(_, 4) knife edge and flip the last digit between engines or
      // even between Spark runs — the same invariance hazard twap/autocorr
      // already stage away. Each ADDEND is one double multiply (identical
      // per row in both engines); only the summation becomes exact.
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(38, 12))).cast("double"), 4)
          .as("sum_raw"),
        round(sum((col("value") * exp(col("_age_days") * lit(-0.05)))
          .cast(DecimalType(38, 12))).cast("double"), 4)
          .as("sum_decayed"))
  }

  val freshnessDecayOracle: String =
    """WITH e AS (
      |  SELECT event_type, value, epoch_us(ts) AS ts_us FROM events
      |), mx AS (SELECT MAX(ts_us) AS m FROM e)
      |SELECT event_type, COUNT(*) AS n,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE), 4)
      |    AS sum_raw,
      |  ROUND(CAST(SUM(CAST(value * exp(CAST(m - ts_us AS DOUBLE)
      |    / 86400000000.0 * -0.05) AS DECIMAL(38,12))) AS DOUBLE), 4)
      |    AS sum_decayed
      |FROM e CROSS JOIN mx
      |GROUP BY event_type""".stripMargin

  // --- tokenizer fertility ----------------------------------------------------

  /** Tokenizer fertility per language: BPE-ish subword tokens emitted per
    * whitespace word ([[TextAnalysis.bpeishCount]] / tokenCount) — the
    * compression-budget statistic a tokenizer report tracks per language.
    */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        TextAnalysis.bpeishCount(col("text")).as("_bpe"),
        TextAnalysis.tokenCount(col("text")).as("_ws"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_bpe")).cast("bigint").as("bpe_tokens"),
        sum(col("_ws")).cast("bigint").as("ws_words"),
        round(sum(col("_bpe")).cast("double") / sum(col("_ws")), 6)
          .as("fertility"))

  // --- vocabulary growth ------------------------------------------------------

  /** Heaps'-law vocabulary accounting per source: total tokens, distinct
    * vocabulary, and the growth exponent proxy ln(V)/ln(N) — the statistic
    * that says whether a source is repetitive boilerplate (low) or diverse
    * prose (high). One explode + one two-level aggregate; the distinct is
    * a (source, token) pre-aggregation so the wide shuffle carries each
    * distinct pair once, not each occurrence.
    */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("m"))
      .groupBy("source")
      .agg(sum("m").cast("bigint").as("n_tokens"),
        count(lit(1)).as("n_vocab"))
      .select(col("source"), col("n_tokens"), col("n_vocab"),
        round(log(col("n_vocab").cast("double"))
          / log(col("n_tokens").cast("double")), 6).as("heaps_ratio"))

  val vocabGrowthOracle: String =
    """WITH st AS (
      |  SELECT source, tok, COUNT(*) AS m FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
      |  ) GROUP BY source, tok
      |)
      |SELECT source, CAST(SUM(m) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_vocab,
      |  ROUND(ln(CAST(COUNT(*) AS DOUBLE)) / ln(CAST(SUM(m) AS DOUBLE)), 6)
      |    AS heaps_ratio
      |FROM st GROUP BY source""".stripMargin

  // --- matryoshka truncation recall ---------------------------------------------

  /** Matryoshka-truncation recall (Kusupati et al. 2022): top-3 neighbors by
    * full-dimension cosine vs top-3 by the first-16-dims prefix (cosine is
    * scale-invariant, so no renormalization is needed for ranking). Returns
    * per-query overlap and recall — the measurement that decides how far an
    * embedding column can be truncated before ANN quality collapses. Both
    * rankings are deterministic (cos desc, neighbor id); the truncated pass
    * reads 4x less vector payload, which at 100 TB of embeddings is the
    * entire point.
    */
  def matryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 20)
    val full = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
    val truncEmb = emb.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val trunc = Similarity.bruteForceTopK(
      truncEmb.filter(col("vec_id") < 20), truncEmb, "vec_id", "embedding", 3)
    // LEFT join so zero-recall queries still report (recall = 0.0)
    full.select(col("query_id"), col("neighbor_id"))
      .join(trunc.select(col("query_id"), col("neighbor_id"))
          .withColumn("_hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("_hit"), lit(0))).cast("bigint").as("n_overlap"))
      .select(col("query_id"), col("n_overlap"),
        round(col("n_overlap").cast("double") / 3.0, 6).as("recall"))
  }

  val matryoshkaRecallOracle: String = {
    def topk(vec: String): String =
      s"""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM emb q JOIN emb c ON q.vec_id < 20 AND c.vec_id <> q.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${cosSql(s"q.$vec", s"c.$vec")} DESC, c.vec_id) <= 3"""
        .stripMargin
    s"""WITH emb AS (
       |  SELECT vec_id, embedding, embedding[1:16] AS emb16 FROM embeddings
       |), full_k AS (${topk("embedding")}),
       |trunc_k AS (${topk("emb16")})
       |SELECT f.query_id, COUNT(t.neighbor_id) AS n_overlap,
       |  ROUND(COUNT(t.neighbor_id) / 3.0, 6) AS recall
       |FROM full_k f LEFT JOIN trunc_k t
       |  ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
       |GROUP BY f.query_id""".stripMargin
  }

  // --- compaction planning ------------------------------------------------------

  /** Small-file compaction planning: within each source partition, files
    * (docs as proxies, n_chars as size) are packed in doc_id order into
    * target-sized output bins — bin id = completed-target count of the
    * RUNNING size before the file. One per-partition window cumsum; no
    * global coordination, which is what makes the plan computable over a
    * 100 TB file listing. Returns the per-(source, bin) manifest.
    */
  def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .withColumn("_cum_before", coalesce(sum(col("n_chars")).over(w), lit(0L)))
      .withColumn("bin", floor(col("_cum_before") / lit(5000L)).cast("int"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_files"),
        sum(col("n_chars")).cast("bigint").as("bytes"))
  }

  val compactionPlanOracle: String =
    """SELECT source, CAST(FLOOR(cum_before / 5000) AS INT) AS bin,
      |  COUNT(*) AS n_files, CAST(SUM(n_chars) AS BIGINT) AS bytes
      |FROM (
      |  SELECT source, n_chars,
      |    COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM documents
      |)
      |GROUP BY 1, 2""".stripMargin

  val tokenizerFertilityOracle: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT)
      |    AS bpe_tokens,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_words,
      |  ROUND(CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS DOUBLE)
      |    / SUM(len(string_split(text, ' '))), 6) AS fertility
      |FROM documents GROUP BY lang""".stripMargin
}
