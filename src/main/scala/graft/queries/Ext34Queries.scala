package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** Round-8 extension batch 4: the evaluation-integrity tier — the checks a
  * training-data platform runs on its SPLITS and its PUBLISHED numbers:
  *
  *   - near-dup leakage between train and eval splits (the contamination
  *     mode exact-match decontamination misses);
  *   - differentially-private release counts (Laplace mechanism, with the
  *     noise seam deterministic-seeded so the whole mechanism is
  *     oracle-replayable — production swaps the uniform source for real
  *     entropy, the query shape is unchanged);
  *   - Bayesian-bootstrap confidence intervals (Rubin 1981: per-replicate
  *     exponential weights) for per-segment means, again with hash-seeded
  *     uniforms so both engines replay identical replicates.
  *
  * The portable uniform is the repo's md5-prefix convention (see
  * [[Ext26Queries]] hash buckets, the SimHash portable gate): both engines
  * parse the same 8 hex chars of md5 to the same integer, so
  * u = (h + 0.5)/2³² is an identical IEEE double on both sides — the +0.5
  * keeps u strictly inside (0,1) so ln never sees 0.
  */
object Ext34Queries {

  /** Spark-side portable uniform in (0,1) from a seed string column. */
  private def uniform(seed: String): String =
    s"(CAST(conv(substring(md5($seed), 1, 8), 16, 10) AS DOUBLE) + 0.5) " +
      "/ 4294967296.0"

  /** DuckDB-side identical uniform. */
  private def uniformSql(seed: String): String =
    s"(CAST(CAST('0x' || substr(md5($seed), 1, 8) AS UBIGINT) AS DOUBLE) " +
      "+ 0.5) / 4294967296.0"

  /** Cross-split near-dup contamination audit: assign every doc to
    * train/eval by the group-split hash (8/2), then report exact-Jaccard
    * near-dup pairs (t = 0.5) that STRADDLE the boundary — eval docs whose
    * near-duplicate sits in train leak memorized content into the metric.
    * Exact-match decontamination ([[Ext13Queries]] q_decontaminate)
    * cannot see these; the near-dup pair graph can. The pair stream is the
    * prefix-filtered exact join, so the audit is corpus-scale safe.
    */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val split = Tables.documents(s, dir).select(col("doc_id"),
      (expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, " +
        "10) AS BIGINT) % 10") < 8).as("is_train"))
    val pairs = Dedup.jaccardPrefixPairs(
      Tables.documents(s, dir), "doc_id", "text", n = 3, threshold = 0.5)
    pairs
      .join(split.as("s1"), col("id_1") === col("s1.doc_id"))
      .join(split.as("s2"), col("id_2") === col("s2.doc_id"))
      .filter(col("s1.is_train") =!= col("s2.is_train"))
      .select(
        when(col("s1.is_train"), col("id_1")).otherwise(col("id_2"))
          .as("train_doc"),
        when(col("s1.is_train"), col("id_2")).otherwise(col("id_1"))
          .as("eval_doc"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  val splitLeakageOracle: String =
    s"""WITH ${OracleSql.jaccardCtes(0.5)}, split AS (
      |  SELECT doc_id,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      |      AS UBIGINT) % 10 < 8 AS is_train
      |  FROM documents
      |)
      |SELECT
      |  CASE WHEN t1.is_train THEN id_1 ELSE id_2 END AS train_doc,
      |  CASE WHEN t1.is_train THEN id_2 ELSE id_1 END AS eval_doc,
      |  ROUND(jaccard, 6) AS jaccard
      |FROM pairs
      |  JOIN split t1 ON id_1 = t1.doc_id
      |  JOIN split t2 ON id_2 = t2.doc_id
      |WHERE t1.is_train <> t2.is_train""".stripMargin

  /** Laplace-mechanism release counts per event type (ε = 1, sensitivity
    * 1 ⇒ scale b = 1): noisy_n = n − b·sign(u−½)·ln(1−2|u−½|) with the
    * uniform seeded from the group key. The SEEDED uniform is what makes
    * the whole mechanism testable end-to-end (both engines replay the
    * identical noise); a production release swaps [[uniform]] for real
    * entropy and nothing else changes. True counts are NOT emitted —
    * that's the point of the mechanism.
    */
  def dpCount(s: SparkSession, dir: String): DataFrame = {
    val u = uniform("concat('dp:', event_type)")
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("noisy_n", expr(
        s"ROUND(CAST(n AS DOUBLE) - CAST(SIGN($u - 0.5) AS DOUBLE) " +
          s"* LN(1 - 2 * ABS($u - 0.5)), 6)"))
      .select(col("event_type"), col("noisy_n"))
  }

  val dpCountOracle: String = {
    val u = uniformSql("'dp:' || event_type")
    s"""SELECT event_type,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) - CAST(SIGN($u - 0.5) AS DOUBLE)
      |    * LN(1 - 2 * ABS($u - 0.5)), 6) AS noisy_n
      |FROM events GROUP BY event_type""".stripMargin
  }

  /** Bayesian-bootstrap 90% CI for the per-type mean event value (Rubin
    * 1981): B = 32 replicates, row weights w = −ln(u) with u seeded per
    * (event_id, replicate) — i.i.d. Exp(1) weights make each replicate's
    * weighted mean a posterior draw of the mean. The weighted sums
    * accumulate as 1e-6-quantized BIGINTs (order-independent exactness
    * without the per-term BigDecimal cast — see the staging note below);
    * the CI takes exact order statistics
    * (2nd smallest / 2nd largest of 32) rather than an interpolated
    * percentile, so both engines pick identical elements. Scale shape:
    * the explode is a flat ×32 map, the replicate means partial-aggregate
    * on (type, b) — no shuffle grows beyond ×B.
    */
  def bootstrapCi(s: SparkSession, dir: String): DataFrame = {
    // One md5 yields FOUR 32-bit uniforms (8-hex-char slices of the
    // 128-bit digest), so the replicate explode runs in two stages —
    // 8 digest rows × 4 slices = 32 replicates — and the md5 count per
    // event drops 32 → 8. The digest is materialized as a column BELOW
    // the slice explode, so codegen evaluates it once per digest row,
    // not once per replicate (measured 9.7 s → ~2× cheaper at sf0.1,
    // this query being the whole board's heaviest). Seeds therefore
    // differ from the one-md5-per-replicate formulation; the oracle uses
    // the identical (event_id, digest-group, slice) stream, so the
    // engines still replay bit-identical weights.
    val reps = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("_g", explode(sequence(lit(0), lit(7))))
      .withColumn("_h", expr(
        "md5(concat(CAST(event_id AS STRING), ':', CAST(_g AS STRING)))"))
      .withColumn("_b4", explode(sequence(lit(0), lit(3))))
      .withColumn("b", col("_g") * 4 + col("_b4"))
      .withColumn("w", expr(
        "-LN((CAST(conv(substring(_h, 1 + 8 * _b4, 8), 16, 10) AS DOUBLE)" +
          " + 0.5) / 4294967296.0)"))
    // BIGINT staging at 1e-6 quantization, not DECIMAL(38,18): the sums
    // must be order-independent and engine-identical (the reason for the
    // decimal detour), but Spark's double→decimal cast allocates a
    // BigDecimal PER TERM — profiled as the dominant cost of the whole
    // query (~5 s of 9 at sf0.1, at ANY decimal precision). FLOOR(x·1e6 +
    // 0.5) is pure native IEEE arithmetic, bit-identical on both engines
    // wherever the old formulation was (its inputs already depend on LN
    // parity), the integral result casts exactly, and the scale factors
    // cancel in the mean ratio. Headroom: per-term ≤ 22·561·1e6 ≈ 1.2e10,
    // so a per-(type, replicate) group overflows BIGINT only past ~7·10⁸
    // events per type — re-scale the quantum alongside the oracle if a
    // deployment crosses that.
    val means = reps.groupBy(col("event_type"), col("b"))
      .agg(
        (sum(expr("CAST(FLOOR(w * value * 1000000.0 + 0.5) AS BIGINT)"))
          .cast("double")
          / sum(expr("CAST(FLOOR(w * 1000000.0 + 0.5) AS BIGINT)"))
            .cast("double"))
          .as("mean_b"))
    means.groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("mean_b"))).as("ms"))
      .select(col("event_type"),
        round(element_at(col("ms"), 2), 6).as("ci_lo"),
        round(element_at(col("ms"), 31), 6).as("ci_hi"))
  }

  val bootstrapCiOracle: String = {
    s"""WITH gs AS (
      |  SELECT event_type, event_id, value, g,
      |    md5(CAST(event_id AS VARCHAR) || ':' || CAST(g AS VARCHAR)) AS h
      |  FROM events, (SELECT unnest(range(0, 8)) AS g)
      |), reps AS (
      |  SELECT event_type, g * 4 + b4 AS b, value,
      |    -LN((CAST(CAST('0x' || substr(h, 1 + 8 * b4, 8) AS UBIGINT)
      |      AS DOUBLE) + 0.5) / 4294967296.0) AS w
      |  FROM gs, (SELECT unnest(range(0, 4)) AS b4)
      |), means AS (
      |  SELECT event_type, b,
      |    CAST(SUM(CAST(FLOOR(w * value * 1000000.0 + 0.5) AS BIGINT))
      |        AS DOUBLE)
      |      / CAST(SUM(CAST(FLOOR(w * 1000000.0 + 0.5) AS BIGINT))
      |        AS DOUBLE) AS mean_b
      |  FROM reps GROUP BY event_type, b
      |), sorted AS (
      |  SELECT event_type, list_sort(list(mean_b)) AS ms
      |  FROM means GROUP BY event_type
      |)
      |SELECT event_type,
      |  ROUND(ms[2], 6) AS ci_lo,
      |  ROUND(ms[31], 6) AS ci_hi
      |FROM sorted""".stripMargin
  }
}
