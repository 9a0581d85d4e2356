package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** Round-8 extension batch 6: the last two dedup-adjacent measures.
  *
  *   - Eval-set n-gram coverage: for each eval doc, the fraction of its
  *     distinct 3-shingles that occur ANYWHERE in the train split — the
  *     corpus-level memorization-exposure metric (q_split_leakage finds
  *     the culprit pairs; this scores every eval doc even when no single
  *     train doc crosses a pair threshold).
  *   - Weighted Jaccard: multiset similarity over token COUNTS
  *     (Σmin/Σmax) for the near-dup candidate pairs — distinguishes
  *     "same vocabulary" from "same vocabulary at the same frequencies",
  *     which set-based Jaccard cannot.
  *
  * Scale shapes: coverage is postings + one semi-join against the
  * distinct train-shingle set (a Bloom/broadcast candidate at corpus
  * scale) — linear, no pair joins; weighted Jaccard only ever scores the
  * PREFIX-FILTERED candidate pairs, so the quadratic stays fenced inside
  * the candidate generator that already proved itself lossless.
  */
object Ext36Queries {

  /** Fraction of each eval doc's distinct 3-shingles present in the train
    * split (same md5 hash split as [[Ext34Queries.splitLeakage]]).
    */
  def ngramCoverage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val split = docs.select(col("doc_id").as("id"),
      (expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, " +
        "10) AS BIGINT) % 10") < 8).as("is_train"))
    val postings = Dedup.hashedPostings(docs, "doc_id", "text", n = 3)
      .join(split, "id")
    val trainShingles = postings.filter(col("is_train"))
      .select(col("shingle")).distinct()
    val evalPostings = postings.filter(!col("is_train"))
    evalPostings
      .join(trainShingles.withColumn("hit", lit(1)),
        Seq("shingle"), "left")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("covered"))
      .withColumn("coverage",
        round(col("covered").cast("double") / col("n_shingles"), 6))
  }

  val ngramCoverageOracle: String =
    s"""WITH ${OracleSql.shingleCtes(3)},
      |split AS (
      |  SELECT doc_id,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      |      AS UBIGINT) % 10 < 8 AS is_train
      |  FROM documents
      |), train_sh AS (
      |  SELECT DISTINCT s FROM ds JOIN split USING (doc_id) WHERE is_train
      |)
      |SELECT ds.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(SUM(CASE WHEN train_sh.s IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS covered,
      |  ROUND(CAST(SUM(CASE WHEN train_sh.s IS NOT NULL THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*), 6) AS coverage
      |FROM ds
      |  JOIN split ON ds.doc_id = split.doc_id AND NOT split.is_train
      |  LEFT JOIN train_sh ON ds.s = train_sh.s
      |GROUP BY ds.doc_id""".stripMargin

  /** Weighted (multiset) Jaccard Σmin/Σmax over token counts for the
    * prefix-filtered near-dup candidate pairs: Σmax folds to
    * ΣA + ΣB − Σ_common min, so only common-token mins and per-doc totals
    * are ever joined — no token-union materialization.
    */
  def weightedJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // consumed twice below (candidate-id projection + the Σmin join) —
    // checkpoint so the prefix-filter candidate generator runs once
    val pairs = Dedup.jaccardPrefixPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      .select(col("id_1"), col("id_2"))
      .localCheckpoint(eager = false)
    // only docs that appear in a candidate pair ever contribute a token
    // count — semi-join the corpus down BEFORE tokenizing, so the
    // explode+groupBy runs over the candidate subset, not the corpus
    // (candidates ≪ corpus at scale; identical results, the downstream
    // inner joins on pair ids already discarded the rest)
    val candIds = pairs
      .select(explode(array(col("id_1"), col("id_2"))).as("doc_id"))
      .distinct()
    val counts = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      // read by both sides of the Σmin join and the totals agg
      .localCheckpoint(eager = false)
    val totals = counts.groupBy(col("doc_id")).agg(sum(col("c")).as("tot"))
    val commonMin = pairs
      .join(counts.as("ca"), col("id_1") === col("ca.doc_id"))
      .join(counts.as("cb"),
        col("id_2") === col("cb.doc_id") && col("ca.w") === col("cb.w"))
      .groupBy(col("id_1"), col("id_2"))
      .agg(sum(least(col("ca.c"), col("cb.c"))).as("s_min"))
    commonMin
      .join(totals.as("t1"), col("id_1") === col("t1.doc_id"))
      .join(totals.as("t2"), col("id_2") === col("t2.doc_id"))
      .select(col("id_1"), col("id_2"),
        round(col("s_min").cast("double")
          / (col("t1.tot") + col("t2.tot") - col("s_min")), 6)
          .as("wjaccard"))
  }

  val weightedJaccardOracle: String =
    s"""WITH ${OracleSql.jaccardCtes(0.5)}, cnt AS (
      |  SELECT doc_id, w, COUNT(*) AS c
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY doc_id, w
      |), tot AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tot FROM cnt
      |  GROUP BY doc_id
      |), cm AS (
      |  SELECT p.id_1, p.id_2,
      |    CAST(SUM(LEAST(ca.c, cb.c)) AS BIGINT) AS s_min
      |  FROM pairs p
      |    JOIN cnt ca ON p.id_1 = ca.doc_id
      |    JOIN cnt cb ON p.id_2 = cb.doc_id AND ca.w = cb.w
      |  GROUP BY p.id_1, p.id_2
      |)
      |SELECT cm.id_1, cm.id_2,
      |  ROUND(CAST(s_min AS DOUBLE) / (t1.tot + t2.tot - s_min), 6)
      |    AS wjaccard
      |FROM cm
      |  JOIN tot t1 ON cm.id_1 = t1.doc_id
      |  JOIN tot t2 ON cm.id_2 = t2.doc_id""".stripMargin
}
