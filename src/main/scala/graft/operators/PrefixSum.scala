package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-phase global prefix sums — the rank-statistics version of the
  * surrogate-key offset pattern ([[Joins]]' range-partitioned two-phase
  * ids): a cumulative sum over a GLOBAL ordering without ever running a
  * single-partition window over the data.
  *
  * The single-partition hazard: `Window.orderBy(value)` with no
  * PARTITION BY collapses the whole input onto one task. The rank-stat
  * queries (Mann-Whitney, AUC-ROC, KS) apply it to the distinct-value
  * HISTOGRAM, which is bounded for discrete domains — but for a continuous
  * score column |histogram| ≈ |corpus| and that one task becomes the
  * bottleneck (the round-8 verdict's watch item).
  *
  * ADAPTIVE: every entry point first runs a one-row size probe (count +
  * approx-percentile bucket bounds in a single aggregation, collected at
  * the driver). When the input is small — `count <=
  * graft.prefixsum.threshold` (default 100000; set -1 to force two-phase,
  * e.g. in plan pins) — a single global window over a known-small input is
  * both safe and cheaper than paying two extra shuffles, so that is
  * what runs. Measured crossover (PrefixSumBench, local[32], Spark 4.1.2):
  * the two-phase plan carries a ~0.5-1 s constant overhead, breaks even
  * around 1-3M rows, and wins 3x at 10M (8.4 s vs 2.8 s) — the default
  * threshold sits well below breakeven because the cost of guessing low is
  * a bounded constant while the cost of guessing high is an unbounded
  * single-task sort. Above the threshold the two-phase plan kicks in:
  *   1. bucket rows by `orderCol` into `numParts` ORDERED buckets using
  *      the probe's `percentile_approx` bounds, embedded as a LITERAL
  *      array (deterministic, codegen-friendly — no broadcast join);
  *      per-bucket exclusive running sums via a PARTITIONED window;
  *   2. per-bucket totals (≤ numParts rows) prefix-summed with a global
  *      window — single-partition, but over a row count bounded by CLUSTER
  *      CONFIG, not data — and broadcast back as per-bucket offsets.
  *
  * The probe makes construction EAGER (one lightweight job at call time);
  * callers whose input is an expensive sub-plan should
  * `.localCheckpoint(eager = false)` it first so the probe's pass is
  * reused by the main pass (the rank-stat callers do).
  *
  * `exclusive(df, c, cols)` appends `<col>_excl` = Σ of `col` over all rows
  * strictly before the current row in `orderCol` order. Exact integer
  * algebra: sums are never reordered across types, so LONG stays LONG and
  * downstream hashes match the naive-window formulation bit-for-bit (the
  * small and large paths are verified equivalent in PrefixSumSpec).
  *
  * REQUIREMENT: `orderCol` values must be unique per row (the histogram
  * shape every caller has) — with duplicate keys a row-frame "exclusive"
  * window is ambiguous in both formulations.
  */
object PrefixSum {

  /** Inputs at or below this row count take the single-window path; -1
    * forces two-phase regardless of size (used by the plan pins). Read from
    * the session conf; to force a whole Verify drive onto the two-phase
    * path, set it at builder level with
    * `SPARK_GRAFT_EXTRA_CONF=graft.prefixsum.threshold=-1`. */
  private def threshold(df: DataFrame): Long =
    graft.util.Knob.long(df.sparkSession, "graft.prefixsum.threshold",
      100000L, "-1 forces the two-phase path")

  /** One-pass size probe: (rowCount, ordered bucket bounds). The bounds are
    * the (1/parts .. (parts-1)/parts) approx percentiles of `ord` — a
    * deterministic function of the data (unlike `repartitionByRange`,
    * whose sampled boundaries could differ between plan branches). */
  private def countAndBounds(
      df: DataFrame, ord: Column, parts: Int): (Long, Seq[Double]) = {
    val probs = (1 until parts).map(_.toDouble / parts)
    val row: Row = df.agg(
      count(lit(1)).as("_n"),
      percentile_approx(ord, array(probs.map(lit): _*), lit(10000))
        .as("_bounds")).head()
    val n = row.getLong(0)
    val bounds =
      if (row.isNullAt(1)) Seq.empty[Double]
      else row.getSeq[Any](1).collect { case d: java.lang.Double => d.toDouble }
    (n, bounds)
  }

  /** Ordered bucket id from the literal bounds: number of bounds strictly
    * below this row's value. Equal values always share a bucket; bucket id
    * is monotone in `ord`, so bucket-local prefix + preceding-bucket totals
    * compose to the global prefix.
    *
    * Deliberately a flat when-sum over the ≤numParts-1 literal bounds, NOT
    * `size(filter(array(bounds), b => b < ord))`: the higher-order-function
    * form trips an AQE internal binding error
    * ([INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND]) when the `_pid` expression is
    * shared by the window and totals branches at AQE-engaging input sizes
    * (reproduced at 200k rows on Spark 4.1.2, PrefixSumSpec pins the
    * regression); the when-sum is also plain whole-stage codegen.
    */
  private def bucketId(bounds: Seq[Double], ord: Column): Column =
    if (bounds.isEmpty) lit(0)
    else bounds.map(b => when(lit(b) < ord, 1).otherwise(0)).reduce(_ + _)

  /** The shared probe-and-gate for every entry point: None -> take the
    * single-window small path (always when `parts <= 1`, where bucketing
    * degenerates to one bucket anyway — even under threshold -1);
    * Some(withPid) -> two-phase, the input tagged with its ordered bucket
    * id. Keeping the gate in ONE place is what makes the threshold
    * contract auditable. */
  private def probeAndBucket(df: DataFrame, ord: Column,
      parts: Int): Option[DataFrame] = {
    if (parts <= 1) return None
    val (n, bounds) = countAndBounds(df, ord, parts)
    // n == 0: an empty input always degenerates cleanly on the small path,
    // even under the forced (-1) threshold
    if (n == 0 || n <= threshold(df)) None
    else if (bounds.isEmpty)
      // round-13 guard: percentile probe found NO numeric order values
      // (the whole order column casts to NULL) — every row would land in
      // bucket 0 and the "two-phase" plan would silently run the full
      // above-threshold input through ONE single-task window, the exact
      // hazard this class exists to prevent. Fail loudly instead.
      throw new IllegalArgumentException(
        s"PrefixSum: $n rows exceed the two-phase threshold but the order " +
          "column has no numeric values to bucket on (casts to NULL " +
          "everywhere) — bucketing would degenerate to one single-task " +
          "window; fix the order column")
    else {
      val tagged = df.withColumn("_pid", bucketId(bounds, ord))
      // the two-phase plan evaluates this sub-plan in SEPARATE branches
      // (bucket-local window, per-bucket totals); a non-deterministic
      // lineage could offset rows against totals computed from a
      // DIFFERENT evaluation — silently wrong global sums. Pin one
      // evaluation with a lazy localCheckpoint when the plan carries any
      // non-deterministic expression (round-13 guard; deterministic
      // plans — every gated query — skip the checkpoint cost).
      val planDeterministic = tagged.queryExecution.analyzed.find(p =>
        p.expressions.exists(e => !e.deterministic)).isEmpty
      Some(if (planDeterministic) tagged else tagged.localCheckpoint(false))
    }
  }

  /** Round-13 guard shared by every entry point, checked on BOTH size
    * paths: the two-phase plan buckets rows by `try_cast(orderCol AS
    * DOUBLE)` while its windows order by the RAW column — the two orders
    * only agree for types whose double image is order-isomorphic. A STRING
    * column of numeric text ("9" < "10" lexically, 9.0 < 10.0 as doubles)
    * would therefore return DIFFERENT prefix sums once the row count
    * crosses the two-phase threshold: a silent, data-size-dependent result
    * flip. Reject non-numeric order columns loudly and uniformly on both
    * paths instead (timestamps cast to epoch seconds, also monotone). */
  private def requireOrderIsomorphicUnderDouble(
      df: DataFrame, orderCol: String): Unit = {
    import org.apache.spark.sql.types.{NumericType, TimestampType}
    val dt = df.schema(orderCol).dataType
    require(dt.isInstanceOf[NumericType] || dt == TimestampType,
      s"PrefixSum: order column '$orderCol' is ${dt.simpleString}; the " +
        "two-phase plan buckets on its DOUBLE image, which matches the " +
        "column's own ordering only for numeric/timestamp types — map the " +
        "column to a numeric order key first")
  }

  /** Round-13 guard shared by every entry point, checked on BOTH size
    * paths: the two-phase plan synthesizes internal working columns and
    * drops them at the end, so a caller column with a colliding name
    * would be silently overwritten and REMOVED — and only above the size
    * threshold, i.e. a data-dependent schema change. A loud, uniform
    * failure beats that. */
  private def requireNoInternalClash(
      df: DataFrame, internal: Seq[String]): Unit = {
    val clash = internal.filter(df.columns.contains)
    require(clash.isEmpty,
      s"PrefixSum: input already carries internal working column(s) " +
        s"${clash.mkString(", ")} — rename them (the two-phase plan " +
        "would overwrite and then drop them)")
  }

  /** Append `<c>_excl` exclusive-prefix-sum columns for each of `sumCols`,
    * ordered globally by `orderCol`. `numParts` defaults to the session's
    * shuffle partitions.
    */
  def exclusive(df: DataFrame, orderCol: String, sumCols: Seq[String],
      numParts: Int = 0): DataFrame = {
    require(sumCols.nonEmpty,
      "PrefixSum.exclusive: sumCols must be non-empty (the small path " +
        "would silently no-op while the two-phase path would throw)")
    requireNoInternalClash(df,
      "_pid" +: sumCols.flatMap(c => Seq(s"_local_$c", s"_off_$c")))
    requireOrderIsomorphicUnderDouble(df, orderCol)
    val parts =
      if (numParts > 0) numParts
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val ord = expr(s"try_cast(`$orderCol` AS DOUBLE)") // NULL, never ANSI-throw: the guard below owns the failure
    val withPid = probeAndBucket(df, ord, parts).getOrElse {
      // SMALL: probe says the whole input fits one task comfortably
      val w = Window.orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, -1)
      return sumCols.foldLeft(df) { (d, c) =>
        d.withColumn(s"${c}_excl", coalesce(sum(col(c)).over(w), lit(0L)))
      }
    }
    val wIn = Window.partitionBy(col("_pid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = sumCols.foldLeft(withPid) { (d, c) =>
      d.withColumn(s"_local_$c", coalesce(sum(col(c)).over(wIn), lit(0L)))
    }
    // Phase 2: ≤ numParts rows — the only global window, bounded by config.
    val totals = withPid.groupBy(col("_pid"))
      .agg(sumCols.head -> "sum", sumCols.tail.map(_ -> "sum"): _*)
      .toDF("_pid" +: sumCols.map(c => s"_tot_$c"): _*)
    val wOff = Window.orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(
      col("_pid") +: sumCols.map(c =>
        coalesce(sum(col(s"_tot_$c")).over(wOff), lit(0L)).as(s"_off_$c")): _*)
    val joined = local.join(broadcast(offsets), Seq("_pid"), "left")
    val withExcl = sumCols.foldLeft(joined) { (d, c) =>
      d.withColumn(s"${c}_excl",
        col(s"_local_$c") + coalesce(col(s"_off_$c"), lit(0L)))
    }
    withExcl.drop("_pid")
      .drop(sumCols.map(c => s"_local_$c"): _*)
      .drop(sumCols.map(c => s"_off_$c"): _*)
  }

  /** Two-phase GLOBAL row_number (and optional exclusive ROWS-frame prefix
    * sums) over the composite ordering (`valueCol` asc|desc, `tieCols`
    * asc...) — the per-ROW generalization of [[exclusive]] for the queries
    * that rank raw entities (customers, documents) rather than a value
    * histogram. `tieCols` must make the composite ordering unique per row.
    *
    * Appends `rnName` (LONG, 1-based) and, per sum column, `<c>_excl` — the
    * sum over all rows STRICTLY before the current row in the composite
    * order (NULL when that prefix is empty, matching the naive window's
    * empty-frame sum).
    *
    * Bucketing is on `valueCol` only (equal values always share a bucket,
    * so the tie-break never crosses a bucket boundary); the intra-bucket
    * pass is a PARTITIONED window and the only global window runs over the
    * ≤ numParts per-bucket totals.
    */
  def rankedPrefix(df: DataFrame, valueCol: String, descOrder: Boolean,
      tieCols: Seq[String], sumCols: Seq[String] = Nil,
      rnName: String = "rn", numParts: Int = 0): DataFrame = {
    requireNoInternalClash(df,
      Seq("_pid", "_local_rn", "_off_rn") ++
        sumCols.flatMap(c => Seq(s"_local_$c", s"_off_$c")))
    requireOrderIsomorphicUnderDouble(df, valueCol)
    val parts =
      if (numParts > 0) numParts
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val ord = expr(s"try_cast(`$valueCol` AS DOUBLE)") // NULL, never ANSI-throw
    val ordCols = (if (descOrder) col(valueCol).desc else col(valueCol).asc) +:
      tieCols.map(col(_).asc)
    val withPid = probeAndBucket(df, ord, parts).getOrElse {
      val w = Window.orderBy(ordCols: _*)
      val wRows = w.rowsBetween(Window.unboundedPreceding, -1)
      val d0 = df.withColumn(rnName, row_number().over(w).cast("long"))
      return sumCols.foldLeft(d0) { (d, c) =>
        d.withColumn(s"${c}_excl", sum(col(c)).over(wRows))
      }
    }
    val wIn = Window.partitionBy(col("_pid")).orderBy(ordCols: _*)
    val wInRows = wIn.rowsBetween(Window.unboundedPreceding, -1)
    val local0 = withPid.withColumn("_local_rn", row_number().over(wIn))
    val local = sumCols.foldLeft(local0) { (d, c) =>
      d.withColumn(s"_local_$c", sum(col(c)).over(wInRows))
    }
    val totals = withPid.groupBy(col("_pid"))
      .agg(count(lit(1)).as("_tot_rn"),
        sumCols.map(c => sum(col(c)).as(s"_tot_$c")): _*)
    // Phase 2: ≤ numParts rows — the only global window, bounded by config.
    val wOff = Window
      .orderBy(if (descOrder) col("_pid").desc else col("_pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(
      col("_pid") +:
        (coalesce(sum(col("_tot_rn")).over(wOff), lit(0L)).as("_off_rn") +:
          sumCols.map(c => sum(col(s"_tot_$c")).over(wOff).as(s"_off_$c"))): _*)
    val joined = local.join(broadcast(offsets), Seq("_pid"))
      .withColumn(rnName,
        (col("_off_rn") + col("_local_rn").cast("long")).as(rnName))
    val withExcl = sumCols.foldLeft(joined) { (d, c) =>
      // strict-prefix sum: bucket-local prefix + all preceding buckets'
      // totals; NULL iff both are empty (the global first row)
      d.withColumn(s"${c}_excl", coalesce(
        col(s"_local_$c") + col(s"_off_$c"),
        col(s"_local_$c"), col(s"_off_$c")))
    }
    withExcl.drop("_pid", "_local_rn", "_off_rn")
      .drop(sumCols.map(c => s"_local_$c"): _*)
      .drop(sumCols.map(c => s"_off_$c"): _*)
  }

  /** Append `<minCol>_minBefore` = MIN of `minCol` over all rows with
    * STRICTLY GREATER `orderCol` (i.e. the strict prefix in DESCENDING
    * order; NULL for the maximal row) — the dominance sweep the two-phase
    * way. Same uniqueness requirement as [[exclusive]].
    */
  def minBeforeDesc(df: DataFrame, orderCol: String, minCol: String,
      numParts: Int = 0): DataFrame = {
    requireNoInternalClash(df, Seq("_pid", "_local_min", "_off_min"))
    requireOrderIsomorphicUnderDouble(df, orderCol)
    val parts =
      if (numParts > 0) numParts
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val ord = expr(s"try_cast(`$orderCol` AS DOUBLE)") // NULL, never ANSI-throw: the guard below owns the failure
    val withPid = probeAndBucket(df, ord, parts).getOrElse {
      val w = Window.orderBy(col(orderCol).desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      return df.withColumn(s"${minCol}_minBefore",
        min(col(minCol)).over(w))
    }
    val wIn = Window.partitionBy(col("_pid")).orderBy(col(orderCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = withPid.withColumn("_local_min", min(col(minCol)).over(wIn))
    val totals = withPid.groupBy(col("_pid"))
      .agg(min(col(minCol)).as("_tot_min"))
    val wOff = Window.orderBy(col("_pid").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(col("_pid"),
      min(col("_tot_min")).over(wOff).as("_off_min"))
    local.join(broadcast(offsets), Seq("_pid"))
      // least() skips NULLs and is NULL only when BOTH sides are — exactly
      // the naive descending window's empty-frame semantics
      .withColumn(s"${minCol}_minBefore",
        least(col("_local_min"), col("_off_min")))
      .drop("_pid", "_local_min", "_off_min")
  }

  /** Exact `ntile(k)` from a global 1-based rank and the total row count —
    * Spark's NTile distribution (first `n % k` tiles get `n DIV k + 1`
    * rows), computed arithmetically so the rank can come from
    * [[rankedPrefix]] instead of a single-partition window. `rnCol` and
    * `nCol` must be LONG columns already on the frame; result is INT like
    * the built-in.
    */
  def ntileFromRank(df: DataFrame, rnCol: String, nCol: String, k: Int,
      outCol: String): DataFrame =
    df.withColumn(outCol, expr(
      s"""CAST(CASE
         |  WHEN $rnCol <= (($nCol DIV $k) + 1) * ($nCol % $k)
         |    THEN ($rnCol - 1) DIV (($nCol DIV $k) + 1) + 1
         |  ELSE ($nCol % $k)
         |    + ($rnCol - 1 - (($nCol DIV $k) + 1) * ($nCol % $k))
         |      DIV ($nCol DIV $k) + 1
         |END AS INT)""".stripMargin))
}
