package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** Round-8 extension: training-data curation tier 2 — the steps a corpus
  * pipeline runs AFTER near-dup detection and BEFORE feature handoff:
  * canonical-representative selection per duplicate cluster, asymmetric
  * containment dedup (near-subset docs), corpus lexical-diversity health
  * metrics, categorical-feature WOE/IV screening, and graph clustering
  * coefficients.
  *
  * Scale posture is inherited from the operators each query composes: the
  * cluster walk is [[Dedup.clusterLabels]]' fused label propagation, the
  * containment pass runs the same fenced shared-shingle postings self-join
  * as [[Dedup.jaccardPairs]] ([[Dedup.containmentPrefixPairs]] is the
  * corpus-scale path, same output), and everything else is
  * partial-aggregated groupBy/window shapes with broadcast model sides.
  */
object Ext32Queries {

  /** Canonical representative per near-dup cluster: the member with the
    * most characters wins (quality proxy; ties break on min doc_id), the
    * rest are the drop set. Emits per cluster: winner, member count, and
    * how many chars survive vs are dropped — the dedup yield report.
    * Composes [[LlmQueries.dedupClusters]] (connected components over the
    * exact-Jaccard graph) with one window over the member set — clusters
    * are tiny relative to the corpus, so the expensive part stays the pair
    * graph, not this pick.
    */
  def clusterCanonical(s: SparkSession, dir: String): DataFrame =
    clusterCanonicalOn(Tables.documents(s, dir))

  /** [[clusterCanonical]] over a caller-supplied documents frame — the
    * DataFrame core Bench's codegen warm pass reuses (see
    * [[LlmQueries.dedupClustersOn]] for the one-code-path rationale).
    */
  def clusterCanonicalOn(docsFull: DataFrame): DataFrame =
    canonicalTail(LlmQueries.dedupClustersOn(docsFull), docsFull)

  /** The members→canonical tail (score join + window pick + yield agg) as a
    * shared builder: ClusterProbe's phase decomposition calls THIS instead
    * of a hand-copied tail, so the probe's phase plan cannot silently drift
    * from the real query's (round-17 advice — the same one-code-path
    * argument that made [[graft.queries.LlmQueries.JaccardThreshold]]
    * `private[graft]`).
    *
    * @param members (doc_id, cluster_id) rows — non-trivial-cluster members
    * @param docsFull the documents frame (only doc_id, n_chars are read)
    */
  private[graft] def canonicalTail(
      members: DataFrame, docsFull: DataFrame): DataFrame = {
    val docs = docsFull.select(col("doc_id"), col("n_chars"))
    val scored = members.join(docs, "doc_id")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(
        max(when(col("rk") === 1, col("doc_id"))).as("canonical_id"),
        count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("n_chars"))).as("kept_chars"),
        (sum(col("n_chars")) - max(when(col("rk") === 1, col("n_chars"))))
          .as("dropped_chars"))
  }

  val clusterCanonicalOracle: String =
    s"""WITH cl AS (SELECT * FROM (\n${LlmQueries.dedupClustersOracle}\n) q),
      |m AS (
      |  SELECT cl.cluster_id, cl.doc_id, d.n_chars,
      |    row_number() OVER (PARTITION BY cl.cluster_id
      |      ORDER BY d.n_chars DESC, cl.doc_id ASC) AS rk
      |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id
      |)
      |SELECT cluster_id,
      |  MAX(CASE WHEN rk = 1 THEN doc_id END) AS canonical_id,
      |  COUNT(*) AS n_members,
      |  MAX(CASE WHEN rk = 1 THEN n_chars END) AS kept_chars,
      |  CAST(SUM(n_chars) - MAX(CASE WHEN rk = 1 THEN n_chars END)
      |    AS BIGINT) AS dropped_chars
      |FROM m GROUP BY cluster_id""".stripMargin

  /** Directed containment pairs over the document corpus
    * ([[Dedup.containmentPairs]]): rows where >= 60% of the sub-doc's
    * 3-shingles appear in the super-doc — catches excerpts and embedded
    * copies whose symmetric Jaccard stays under the near-dup threshold.
    */
  def containment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.6)
      .select(col("sub_id"), col("super_id"),
        round(col("containment"), 6).as("containment"))

  val containmentOracle: String =
    s"""WITH ${OracleSql.overlapCtes}, both_dirs AS (
      |  SELECT id_1 AS sub_id, id_2 AS super_id,
      |    CAST(i AS DOUBLE) / s1.sz AS containment
      |  FROM inter JOIN sizes s1 ON id_1 = s1.doc_id
      |  UNION ALL
      |  SELECT id_2, id_1, CAST(i AS DOUBLE) / s2.sz
      |  FROM inter JOIN sizes s2 ON id_2 = s2.doc_id
      |)
      |SELECT sub_id, super_id, ROUND(containment, 6) AS containment
      |FROM both_dirs WHERE containment >= 0.6""".stripMargin

  /** Prefix-filtered containment ([[Dedup.containmentPrefixPairs]]) at the
    * same threshold as [[containment]] — registered against the IDENTICAL
    * oracle, proving the prefix filter lossless: the scale path and the
    * all-pairs verifier hash-match on the same corpus.
    */
  def containmentPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPrefixPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.6)
      .select(col("sub_id"), col("super_id"),
        round(col("containment"), 6).as("containment"))

  val containmentPrefixOracle: String = containmentOracle

  /** Boilerplate/template detection — the C4-style cleanup step: score each
    * doc by the share of its 3-shingles that are corpus-common
    * (document frequency >= 3); docs above 30% are template suspects.
    * One postings pass, one df aggregate, one join back — every stage
    * partial-aggregates and shuffles on the shingle/doc key, the
    * 100 TB-safe shape (no pair joins at all).
    */
  def boilerplate(s: SparkSession, dir: String): DataFrame =
    boilerplateOn(Tables.documents(s, dir))

  /** [[boilerplate]] over a caller-supplied documents frame (only doc_id
    * and text are read), so [[Ext33Queries.curationFunnel]] screens the
    * same read it dedups. */
  def boilerplateOn(docs: DataFrame): DataFrame = {
    val sh = Dedup.hashedPostings(docs, "doc_id", "text", n = 3)
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    sh.join(df, "shingle")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 3, 1L).otherwise(0L)).as("common_shingles"))
      .withColumn("boilerplate_share",
        round(col("common_shingles").cast("double") / col("n_shingles"), 6))
      .filter(col("common_shingles").cast("double") / col("n_shingles")
        >= 0.3)
  }

  val boilerplateOracle: String =
    s"""WITH ${OracleSql.shingleCtes(3)},
      |freq AS (SELECT s, COUNT(*) AS df FROM ds GROUP BY s),
      |per AS (
      |  SELECT ds.doc_id, COUNT(*) AS n_sh,
      |    SUM(CASE WHEN freq.df >= 3 THEN 1 ELSE 0 END) AS common
      |  FROM ds JOIN freq USING (s) GROUP BY ds.doc_id
      |)
      |SELECT doc_id, CAST(n_sh AS BIGINT) AS n_shingles,
      |  CAST(common AS BIGINT) AS common_shingles,
      |  ROUND(CAST(common AS DOUBLE) / n_sh, 6) AS boilerplate_share
      |FROM per WHERE CAST(common AS DOUBLE) / n_sh >= 0.3""".stripMargin

  /** Corpus lexical-diversity health per language: average type-token
    * ratio and average hapax share (words occurring once / vocabulary) —
    * the quick screen for template spam (low TTR) or OCR noise (hapax
    * inflation). One explode to (doc, word) counts, then two bounded
    * aggregates; everything partial-aggregates map-side.
    */
  def lexicalDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("lang"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt")).as("tokens"), count(lit(1)).as("types"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("types").cast("double") / col("tokens")), 6)
          .as("avg_ttr"),
        round(avg(col("hapax").cast("double") / col("types")), 6)
          .as("avg_hapax_share"))

  val lexicalDiversityOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      |  FROM documents
      |), wc AS (
      |  SELECT doc_id, lang, w, COUNT(*) AS cnt
      |  FROM tok GROUP BY doc_id, lang, w
      |), per_doc AS (
      |  SELECT doc_id, lang, SUM(cnt) AS tokens, COUNT(*) AS types,
      |    SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS hapax
      |  FROM wc GROUP BY doc_id, lang
      |)
      |SELECT lang, COUNT(*) AS n_docs,
      |  ROUND(AVG(CAST(types AS DOUBLE) / tokens), 6) AS avg_ttr,
      |  ROUND(AVG(CAST(hapax AS DOUBLE) / types), 6) AS avg_hapax_share
      |FROM per_doc GROUP BY lang""".stripMargin

  /** Weight-of-evidence / information-value screen for a categorical
    * feature against a binary label (credit-scoring's standard feature
    * ranking, equally standard for LLM data-mix ablations): WOE_i =
    * ln((good_i/G)/(bad_i/B)), IV = Σ (good_i/G − bad_i/B)·WOE_i. Label =
    * account balance above 5000 over the customer market segments. Two
    * tiny aggregates; the totals row broadcasts back. BOTH zero cells are
    * NULLIF-guarded: a bads==0 segment divides by NULL, and a goods==0
    * segment would otherwise hand log() a zero — where Spark returns NULL
    * but DuckDB THROWS (OutOfRangeException), so an unguarded numerator is
    * a data-dependent crash of the whole oracle run, not a one-row
    * divergence. Zero-cell segments yield NULL WOE symmetrically on both
    * engines.
    */
  def woeIv(s: SparkSession, dir: String): DataFrame = {
    val seg = Tables.customer(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(when(col("c_acctbal") > 5000, 1L).otherwise(0L)).as("goods"),
        sum(when(col("c_acctbal") > 5000, 0L).otherwise(1L)).as("bads"))
    val totals = seg.agg(sum(col("goods")).cast("double").as("_g"),
      sum(col("bads")).cast("double").as("_b"))
    val woe = log(
      nullif(col("goods").cast("double") / col("_g"), lit(0.0))
        / nullif(col("bads").cast("double") / col("_b"), lit(0.0)))
    seg.crossJoin(broadcast(totals))
      .select(col("c_mktsegment"), col("goods"), col("bads"),
        round(woe, 6).as("woe"),
        round((col("goods") / col("_g") - col("bads") / col("_b")) * woe, 6)
          .as("iv_term"))
  }

  val woeIvOracle: String =
    """WITH seg AS (
      |  SELECT c_mktsegment,
      |    CAST(SUM(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS goods,
      |    CAST(SUM(CASE WHEN c_acctbal > 5000 THEN 0 ELSE 1 END)
      |      AS BIGINT) AS bads
      |  FROM customer GROUP BY c_mktsegment
      |), t AS (
      |  SELECT CAST(SUM(goods) AS DOUBLE) AS g,
      |    CAST(SUM(bads) AS DOUBLE) AS b FROM seg
      |)
      |SELECT c_mktsegment, goods, bads,
      |  ROUND(LN(NULLIF(CAST(goods AS DOUBLE) / g, 0.0)
      |    / NULLIF(CAST(bads AS DOUBLE) / b, 0.0)), 6) AS woe,
      |  ROUND((goods / g - bads / b)
      |    * LN(NULLIF(CAST(goods AS DOUBLE) / g, 0.0)
      |      / NULLIF(CAST(bads AS DOUBLE) / b, 0.0)), 6) AS iv_term
      |FROM seg CROSS JOIN t""".stripMargin

  /** Local clustering coefficient per node of the nation trade graph (the
    * [[Ext12Queries.triangleCount]] edge set): closed neighbor pairs /
    * possible neighbor pairs. Wedge enumeration is the same
    * center-node equi-join as the triangle count — Σ deg(v)² work, no
    * cartesian — and the closure check is a semi-join against the
    * canonical edge list.
    */
  def clusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val edges = OracleSql.tradeEdges(s, dir)
    val sym = edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
    val deg = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("degree"))
    val wedges = sym.as("s1")
      .join(sym.as("s2"),
        col("s1.a") === col("s2.a") && col("s1.b") < col("s2.b"))
      .select(col("s1.a").as("center"), col("s1.b").as("x"),
        col("s2.b").as("y"))
    // the edge list has at most nations² rows: broadcast the closure check
    val closed = wedges.join(broadcast(edges),
        wedges("x") === edges("u") && wedges("y") === edges("v"),
        "left_semi")
      .groupBy(col("center")).agg(count(lit(1)).as("triangles"))
    deg.join(closed, deg("node") === closed("center"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(coalesce(col("triangles"), lit(0L)).cast("double")
          / nullif(col("degree") * (col("degree") - 1) / lit(2.0), lit(0.0)),
          6).as("coeff"))
  }

  // sym MATERIALIZED like pw/e (the OracleSql MATERIALIZED rule)
  val clusteringCoeffOracle: String =
    s"""WITH ${OracleSql.tradeEdgesSql},
      |sym AS MATERIALIZED (
      |  SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
      |deg AS (SELECT a AS node, COUNT(*) AS degree FROM sym GROUP BY a),
      |wedge AS (
      |  SELECT s1.a AS center, s1.b AS x, s2.b AS y
      |  FROM sym s1 JOIN sym s2 ON s1.a = s2.a AND s1.b < s2.b
      |), closed AS (
      |  SELECT center, COUNT(*) AS triangles
      |  FROM wedge WHERE EXISTS (
      |    SELECT 1 FROM e WHERE e.u = wedge.x AND e.v = wedge.y)
      |  GROUP BY center
      |)
      |SELECT deg.node, deg.degree,
      |  COALESCE(closed.triangles, 0) AS triangles,
      |  ROUND(CAST(COALESCE(closed.triangles, 0) AS DOUBLE)
      |    / NULLIF(deg.degree * (deg.degree - 1) / 2.0, 0.0), 6) AS coeff
      |FROM deg LEFT JOIN closed ON closed.center = deg.node""".stripMargin
}
