package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Round-8 extension batch 3: the language-model / graph / funnel closers.
  *
  *   - Interpolated Kneser-Ney bigram scoring — the smoothing actually used
  *     for n-gram LM quality filters (absolute discounting + continuation
  *     probability), upgrading [[Ext15Queries.bigramLm]]'s add-one model.
  *   - Neighbor-set Jaccard link prediction — completes the link-prediction
  *     pair with [[Ext20Queries.adamicAdar]] (same wedge shape, different
  *     score).
  *   - The corpus curation funnel — exact dedup, near-dup canonical keep,
  *     boilerplate drop composed into ONE oracle-gated yield report: the
  *     end-to-end answer a training-data pipeline actually ships.
  *
  * Scale shapes: KN model tables all derive from the (w1,w2) count table
  * and broadcast back (vocabulary-sized, not corpus-sized); the wedge join
  * is the bounded-degree equi-join proven in PlanSpec for adamic-adar; the
  * funnel flags each doc row against three drop rungs (each the output of
  * an already-scale-shaped operator) and counts them in one aggregate.
  */
object Ext33Queries {

  // --- interpolated Kneser-Ney bigram LM ------------------------------------

  /** Interpolated KN with discount d = 0.75 (exact in binary):
    * P(w2|w1) = max(c(w1,w2)−d, 0)/c(w1·) + (d·N₁₊(w1·)/c(w1·))·Pcont(w2),
    * Pcont(w2) = N₁₊(·w2)/‖bigram types‖. Scores every doc by its mean
    * bigram log-probability under the corpus model (a self-scored
    * perplexity screen — outlier docs surface as low avg_logp). The corpus
    * collapses ONCE to per-doc bigram counts; every model table (c1,
    * N₁₊(w1·), Pcont, type count) re-aggregates from that and broadcasts
    * back, so model size scales with vocabulary, not corpus. The DECIMAL
    * log-prob accumulation follows [[Ext15Queries.bigramLm]] (a raw double
    * sum drifts vs the oracle at 1e-6).
    */
  def knBigram(s: SparkSession, dir: String): DataFrame = {
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
    val c1 = c2.groupBy("w1")
      .agg(sum("c2").as("c1"), count(lit(1)).as("n1f"))
    val cont = c2.groupBy("w2").agg(count(lit(1)).as("n1p"))
    val types = c2.agg(count(lit(1)).as("n_types"))
    val d = lit(0.75)
    docPairs
      .join(broadcast(c2), Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .join(broadcast(cont), Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("logp", log(
        greatest(col("c2").cast("double") - d, lit(0.0))
          / col("c1")
          + d * col("n1f") / col("c1")
            * (col("n1p").cast("double") / col("n_types"))))
      .groupBy("doc_id")
      .agg(
        sum("cnt").as("n_bigrams"),
        round(
          sum(col("logp").cast(DecimalType(28, 12))
              * col("cnt").cast(DecimalType(9, 0)))
            .cast("double") / sum("cnt"), 6).as("avg_logp"))
  }

  val knBigramOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |), idx AS (
      |  SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tok
      |), pr AS (
      |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM idx
      |), dp AS (
      |  SELECT doc_id, w1, w2, COUNT(*) AS cnt
      |  FROM pr GROUP BY doc_id, w1, w2
      |), c2 AS (SELECT w1, w2, SUM(cnt) AS c2 FROM dp GROUP BY w1, w2),
      |c1 AS (SELECT w1, SUM(c2) AS c1, COUNT(*) AS n1f FROM c2 GROUP BY w1),
      |cont AS (SELECT w2, COUNT(*) AS n1p FROM c2 GROUP BY w2),
      |types AS (SELECT COUNT(*) AS n_types FROM c2),
      |scored AS (
      |  SELECT dp.doc_id, dp.cnt,
      |    LN(GREATEST(CAST(c2.c2 AS DOUBLE) - 0.75, 0.0) / c1.c1
      |      + 0.75 * c1.n1f / c1.c1
      |        * (CAST(cont.n1p AS DOUBLE) / types.n_types)) AS logp
      |  FROM dp
      |    JOIN c2 ON dp.w1 = c2.w1 AND dp.w2 = c2.w2
      |    JOIN c1 ON dp.w1 = c1.w1
      |    JOIN cont ON dp.w2 = cont.w2
      |    CROSS JOIN types
      |)
      |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
      |  ROUND(CAST(SUM(CAST(logp AS DECIMAL(28,12))
      |      * CAST(cnt AS DECIMAL(9,0))) AS DOUBLE) / SUM(cnt), 6)
      |    AS avg_logp
      |FROM scored GROUP BY doc_id""".stripMargin

  // --- neighbor-set Jaccard link prediction ---------------------------------

  /** Jaccard similarity of neighbor sets for every non-adjacent 2-hop pair
    * of the nation trade graph — [[Ext20Queries.adamicAdar]]'s wedge
    * enumeration (equi-join on the shared neighbor, Σ deg² bounded) with
    * the Jaccard score instead of the rarity-weighted sum.
    */
  def graphJaccard(s: SparkSession, dir: String): DataFrame = {
    val edges = OracleSql.tradeEdges(s, dir)
    val sym = edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
    val deg = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("degree"))
    val inter = sym.as("s1")
      .join(sym.as("s2"),
        col("s1.b") === col("s2.b") && col("s1.a") < col("s2.a"))
      .groupBy(col("s1.a").as("u"), col("s2.a").as("v"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(edges, Seq("u", "v"), "left_anti")
      .join(broadcast(deg.as("d1")), col("u") === col("d1.node"))
      .join(broadcast(deg.as("d2")), col("v") === col("d2.node"))
      .select(col("u"), col("v"),
        round(col("i").cast("double")
          / (col("d1.degree") + col("d2.degree") - col("i")), 6)
          .as("jaccard"))
  }

  // sym MATERIALIZED like pw/e (the OracleSql MATERIALIZED rule)
  val graphJaccardOracle: String =
    s"""WITH ${OracleSql.tradeEdgesSql},
      |sym AS MATERIALIZED (
      |  SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
      |deg AS (SELECT a AS node, COUNT(*) AS degree FROM sym GROUP BY a),
      |inter AS (
      |  SELECT s1.a AS u, s2.a AS v, COUNT(*) AS i
      |  FROM sym s1 JOIN sym s2 ON s1.b = s2.b AND s1.a < s2.a
      |  GROUP BY s1.a, s2.a
      |)
      |SELECT inter.u, inter.v,
      |  ROUND(CAST(i AS DOUBLE) / (d1.degree + d2.degree - i), 6) AS jaccard
      |FROM inter
      |  JOIN deg d1 ON inter.u = d1.node
      |  JOIN deg d2 ON inter.v = d2.node
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM e WHERE e.u = inter.u AND e.v = inter.v)""".stripMargin

  // --- the curation funnel ---------------------------------------------------

  /** The end-to-end corpus curation yield report, ONE row: how many docs
    * the exact-dup rung drops (non-minimal members of identical-text
    * groups), how many the near-dup rung drops (cluster members that lose
    * the canonical pick), how many the boilerplate screen drops, and what
    * survives the union of all three (count + chars). The three drop sets
    * are each the output of an independently oracle-gated operator; this
    * query pins their COMPOSITION, the thing a pipeline actually ships.
    *
    * One plan over one documents read: every doc row carries its exact-dup
    * flag (a window over the text hash), is left-joined to the near-dup and
    * boilerplate drop sets (each one row per doc_id, so the joins never
    * multiply rows) and all six columns come out of one aggregate. The
    * same read feeds [[LlmQueries.dedupClustersOn]], so its pinned
    * postings/prefix plans are the ones q_cluster_canonical and
    * q_dedup_clusters build next and hit in the cache.
    */
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val wCluster = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val nearDrop = LlmQueries.dedupClustersOn(docs)
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("rk", row_number().over(wCluster))
      .filter(col("rk") > 1).select(col("doc_id"), lit(true).as("near"))
    val boilerDrop = Ext32Queries.boilerplateOn(docs)
      .select(col("doc_id"), lit(true).as("boiler"))
    val wExact = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val flagged = docs
      .select(col("doc_id"), col("n_chars"),
        (row_number().over(wExact) > 1).as("exact"))
      .join(nearDrop, Seq("doc_id"), "left")
      .join(boilerDrop, Seq("doc_id"), "left")
    val kept = !col("exact") && col("near").isNull && col("boiler").isNull
    flagged.agg(
      count(lit(1)).as("n_docs"),
      count(when(col("exact"), 1)).as("exact_drop"),
      count(col("near")).as("neardup_drop"),
      count(col("boiler")).as("boilerplate_drop"),
      count(when(kept, 1)).as("n_kept"),
      sum(when(kept, col("n_chars"))).as("kept_chars"))
  }

  val curationFunnelOracle: String =
    s"""WITH exact_drop AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, row_number() OVER (PARTITION BY md5(text)
      |      ORDER BY doc_id) AS rn FROM documents)
      |  WHERE rn > 1
      |), cl AS (SELECT * FROM (\n${LlmQueries.dedupClustersOracle}\n) q),
      |near_drop AS (
      |  SELECT doc_id FROM (
      |    SELECT cl.doc_id, row_number() OVER (PARTITION BY cl.cluster_id
      |      ORDER BY d.n_chars DESC, cl.doc_id ASC) AS rk
      |    FROM cl JOIN documents d ON d.doc_id = cl.doc_id)
      |  WHERE rk > 1
      |), boiler_drop AS (
      |  SELECT doc_id FROM (\n${Ext32Queries.boilerplateOracle}\n) b
      |), drops AS (
      |  SELECT doc_id FROM exact_drop
      |  UNION SELECT doc_id FROM near_drop
      |  UNION SELECT doc_id FROM boiler_drop
      |), kept AS (
      |  SELECT d.doc_id, d.n_chars FROM documents d
      |  WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
      |)
      |SELECT
      |  (SELECT COUNT(*) FROM documents) AS n_docs,
      |  (SELECT COUNT(*) FROM exact_drop) AS exact_drop,
      |  (SELECT COUNT(*) FROM near_drop) AS neardup_drop,
      |  (SELECT COUNT(*) FROM boiler_drop) AS boilerplate_drop,
      |  (SELECT COUNT(*) FROM kept) AS n_kept,
      |  (SELECT CAST(SUM(n_chars) AS BIGINT) FROM kept) AS kept_chars""".stripMargin
}
