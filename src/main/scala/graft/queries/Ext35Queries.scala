package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-8 extension batch 5: series-mining + cross-group normalization.
  *
  *   - SAX symbolic aggregation (Lin et al. 2003): z-normalize each
  *     symbol's daily close series, discretize at the N(0,1) quartile
  *     breakpoints into a 4-letter alphabet, and emit the per-symbol SAX
  *     word — the representation motif/anomaly miners index. Deterministic
  *     end to end (population stddev, fixed breakpoints, ordered string
  *     aggregation).
  *   - Quantile normalization (the microarray/omics standard): replace
  *     each (type, rank) value by the cross-type mean at that rank so
  *     every group gets an identical distribution; emits per-type
  *     before/after summary stats.
  *
  * Scale shapes: SAX is one bar shuffle + per-symbol window stats + an
  * ordered in-row fold (bounded by bars-per-symbol); quantile
  * normalization is two window passes over one (type)-keyed sort and a
  * rank-keyed mean that re-joins — rank cardinality = rows/groups, no
  * pair explosion.
  */
object Ext35Queries {

  /** SAX word per symbol over DAILY closes: z = (close − μ)/σ_pop, letters
    * a|b|c|d split at the standard-normal quartiles ±0.6745 and 0 (the
    * canonical 4-symbol breakpoint table). The word is built by an ordered
    * array fold (sort by day, map to letters, join) — identical on both
    * engines; DuckDB mirrors with string_agg ORDER BY. Flat series
    * (σ = 0) emit all-'b' (z treated as 0), pinned by COALESCE on both
    * sides.
    */
  private def saxQ(word: String): OracleSql.Dialect => String = OracleSql.barsQ(
    s""", z AS (
       |  SELECT event_type, hr_us,
       |    COALESCE((close - AVG(close) OVER wt)
       |      / NULLIF(STDDEV_POP(close) OVER wt, 0), CAST(0.0 AS DOUBLE))
       |      AS z
       |  FROM bars
       |  WINDOW wt AS (PARTITION BY event_type)
       |)
       |SELECT event_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_days,
       |  $word AS sax_word
       |FROM z GROUP BY event_type""".stripMargin, OracleSql.DayUs)

  def saxWord(s: SparkSession, dir: String): DataFrame =
    OracleSql.sparkQ(s, dir, saxQ(
      """array_join(transform(array_sort(collect_list(struct(hr_us, z))),
        |    p -> CASE WHEN ROUND(p.z, 6) < -0.6745 THEN 'a'
        |              WHEN ROUND(p.z, 6) < 0 THEN 'b'
        |              WHEN ROUND(p.z, 6) < 0.6745 THEN 'c'
        |              ELSE 'd' END), '')""".stripMargin))

  val saxWordOracle: String = saxQ(
    """string_agg(CASE WHEN ROUND(z, 6) < -0.6745 THEN 'a'
      |                  WHEN ROUND(z, 6) < 0 THEN 'b'
      |                  WHEN ROUND(z, 6) < 0.6745 THEN 'c'
      |                  ELSE 'd' END, '' ORDER BY hr_us)""".stripMargin)(OracleSql.DuckDb)

  /** Quantile normalization across event types. Groups differ in size, so
    * raw shared-rank averaging is WRONG (high ranks exist only in the
    * largest group and the reference distribution silently degenerates to
    * that group's tail — caught by this tier's spread-collapse spec); the
    * standard unequal-size formulation maps every row to a common
    * percentile grid instead: ntile(100) within each type, the reference
    * value per bucket is the equal-weight mean of the per-type bucket
    * means, and each row is reassigned its bucket's reference. The audit
    * reports per-type means before/after — after-means collapse to
    * near-equality, the method's defining property.
    *
    * Every mean is SUM(DECIMAL)/COUNT, not a double AVG: decimal sums are
    * exact and summation-order-independent, so the result is bit-identical
    * regardless of partial-aggregation merge order (Spark) vs sequential
    * scan order (the DuckDB oracle). With double AVGs the two engines
    * disagree at ~1e-9 from float associativity alone, and a mean that
    * lands within 1e-9 of a ROUND(·,6) half-boundary flips the rounded
    * digit — observed once at sf0.1 (mean_before 50.373209 vs 50.37321).
    */
  def quantileNormalize(s: SparkSession, dir: String): DataFrame = {
    def decAvg(c: Column, n: Column): Column =
      sum(c.cast("decimal(28,12)")).cast("double") / n
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val bucketed = Tables.events(s, dir)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("b", ntile(100).over(w))
    val perTypeBucket = bucketed.groupBy(col("event_type"), col("b"))
      .agg(decAvg(col("value"), count(col("value"))).as("tb_mean"))
    val ref = perTypeBucket.groupBy(col("b"))
      .agg(decAvg(col("tb_mean"), count(lit(1))).as("ref_val"),
        count(lit(1)).as("n_types_at_bucket"))
    // After-stats aggregate at BUCKET level (each bucket once): with the
    // full grid present, every type's normalized distribution IS the
    // reference, so mean_after is identical across types — the defining
    // property, asserted by Ext35Spec. Row-weighted averaging would leak
    // ntile remainder skew (~±3 here) back in. max_shift reports how far
    // each type's quantile function moved — the per-type signal.
    perTypeBucket.join(broadcast(ref), "b")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_buckets"),
        round(decAvg(col("tb_mean"), count(lit(1))), 6).as("mean_before"),
        round(decAvg(col("ref_val"), count(lit(1))), 6).as("mean_after"),
        round(max(abs(col("tb_mean") - col("ref_val"))), 6).as("max_shift"),
        min(col("n_types_at_bucket")).as("min_types_at_bucket"))
  }

  val quantileNormalizeOracle: String =
    """WITH bucketed AS (
      |  SELECT event_type, value,
      |    ntile(100) OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS b
      |  FROM events
      |), ptb AS (
      |  SELECT event_type, b,
      |    CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE)
      |      / COUNT(value) AS tb_mean
      |  FROM bucketed GROUP BY event_type, b
      |), ref AS (
      |  SELECT b,
      |    CAST(SUM(CAST(tb_mean AS DECIMAL(28,12))) AS DOUBLE)
      |      / COUNT(*) AS ref_val,
      |    CAST(COUNT(*) AS BIGINT) AS n_types_at_bucket
      |  FROM ptb GROUP BY b
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |  ROUND(CAST(SUM(CAST(tb_mean AS DECIMAL(28,12))) AS DOUBLE)
      |    / COUNT(*), 6) AS mean_before,
      |  ROUND(CAST(SUM(CAST(ref_val AS DECIMAL(28,12))) AS DOUBLE)
      |    / COUNT(*), 6) AS mean_after,
      |  ROUND(MAX(ABS(tb_mean - ref_val)), 6) AS max_shift,
      |  MIN(n_types_at_bucket) AS min_types_at_bucket
      |FROM ptb JOIN ref USING (b)
      |GROUP BY event_type""".stripMargin
}
