package graft.operators

import org.apache.spark.sql.DataFrame

/** Hard enforcement for the all-pairs "exact verifier" operators.
  *
  * [[Dedup.jaccardPairs]], [[Similarity.cosineNearDup]],
  * [[Similarity.bruteForceTopK]] and [[Similarity.hardNegatives]] are
  * intentionally quadratic — they exist as exact baselines that the
  * scale-safe siblings ([[Dedup.jaccardPrefixPairs]], [[Dedup.minhashNearDup]],
  * [[Similarity.lshNearDup]], [[Similarity.ivfTopK]]) are verified against.
  * Documentation alone does not stop a caller from pointing one of them at a
  * 100 TB corpus, so each entry point is guarded: self-join operators cap the
  * input at `spark.graft.allPairs.maxInputRows` rows (default 100,000 →
  * ≤5·10⁹ unordered pairs); two-sided operators cap the CANDIDATE PRODUCT
  * |left|·|right| at `spark.graft.allPairs.maxPairs` (default 5·10⁹), so a
  * small query set against a large corpus — or vice versa — is judged by the
  * work it implies, not by either side alone. Oversized inputs throw with a
  * pointer to the scale-safe sibling instead of launching an O(n²) job that
  * can never finish.
  *
  * Cost of the guard: the size check takes Catalyst plan statistics only
  * when they are provably exact (a `LocalRelation`/`Range` leaf — CBO-
  * propagated `rowCount` on any other plan is a selectivity estimate that
  * must not arm or disarm a safety fence) and otherwise runs a
  * `limit(cutoff).count()` probe. The probe early-stops at
  * `cutoff` rows for scan-like inputs, but if the guarded DataFrame contains
  * a shuffle boundary (aggregate/join upstream) the limit cannot push below
  * it and the probe pays the full upstream computation — and that upstream
  * work runs AGAIN when the real job executes. Callers guarding an expensive
  * uncached pipeline should persist it first. Set either conf to `-1` to disable
  * the fence (e.g. a deliberate large verification run on a throwaway
  * cluster).
  *
  * The guarded operators are batch-only: the size probe (and the crossJoin
  * they all build) is undefined on a streaming DataFrame, so streaming
  * inputs are rejected up front with a clear message rather than failing
  * later inside Spark's unsupported-operation checker.
  */
object ScaleFence {

  /** Session conf key for the self-pairs input-row cap; `-1` disables. */
  val MaxInputRowsKey = "spark.graft.allPairs.maxInputRows"

  /** Default self-pairs cap: 100k rows → ≤5·10⁹ unordered candidate pairs,
    * the upper edge of what a single-site exact verification can justify.
    * Far above every test SF (sf0.1 ships 5k documents / 2k embeddings) and
    * far below any corpus the LSH/prefix-filter paths exist for.
    */
  val DefaultMaxInputRows = 100000L

  /** Session conf key for the two-sided |left|·|right| product cap; `-1`
    * disables. */
  val MaxPairsKey = "spark.graft.allPairs.maxPairs"

  /** Default two-sided cap: 5·10⁹ candidate pairs — the same work budget as
    * the self-pairs default, expressed directly as a product so 100 queries
    * against a 10M-row corpus passes (10⁹ pairs) while 100k × 100k (10¹⁰)
    * does not.
    */
  val DefaultMaxPairs = 5000000000L

  /** Throw `IllegalArgumentException` if `df` has more than the configured
    * cap of rows. `op` names the guarded operator, `alternative` the
    * scale-safe sibling(s) named in the error message. See the object doc
    * for the cost model (stats-first, bounded probe fallback) and the
    * batch-only restriction.
    */
  def guard(df: DataFrame, op: String, alternative: String): Unit = {
    rejectStreaming(df, op)
    val cap = confLong(df, MaxInputRowsKey, DefaultMaxInputRows)
    if (cap >= 0L) {
      val n = boundedCount(df, incSaturating(cap))
      require(n <= cap,
        s"$op is an all-pairs exact verifier fenced at $cap input rows " +
          s"(input has >= $n). For corpus-scale runs use $alternative. " +
          s"Raise or disable the fence via $MaxInputRowsKey (-1 disables) " +
          "only for deliberate exact verification at known cost.")
    }
  }

  /** Two-sided guard for query×corpus operators: throw if
    * |left|·|right| exceeds `spark.graft.allPairs.maxPairs`. Probes the
    * left (query) side first — callers pass the typically-small side as
    * `left` — then gives the right side the remaining budget, so the probe
    * on a huge corpus early-stops at `maxPairs / |left| + 1` rows rather
    * than scanning it.
    */
  def guardPair(left: DataFrame, right: DataFrame, op: String,
      alternative: String): Unit = {
    rejectStreaming(left, op)
    rejectStreaming(right, op)
    val maxPairs = confLong(left, MaxPairsKey, DefaultMaxPairs)
    if (maxPairs >= 0L) {
      val nLeft = boundedCount(left, incSaturating(maxPairs))
      // nLeft == 0 → zero pairs, nothing to fence. Otherwise the right side
      // may have at most maxPairs / nLeft rows. A left probe that maxes the
      // Int.MaxValue limit() ceiling under a larger cutoff is reported AS
      // the cutoff by boundedCount (round-13 fix), so a >2^31-row left side
      // drives rightBudget to 0 and the fence fails closed — the truncated
      // raw count would instead have INFLATED the right budget.
      if (nLeft > 0L) {
        val rightBudget = maxPairs / nLeft
        val nRight = boundedCount(right, incSaturating(rightBudget))
        // nRight <= rightBudget ⟹ nLeft·nRight <= maxPairs by construction
        require(nRight <= rightBudget,
          s"$op is an all-pairs exact verifier fenced at $maxPairs " +
            s"candidate pairs (input implies >= ${nLeft}x$nRight). For " +
            s"corpus-scale runs use $alternative. Raise or disable the " +
            s"fence via $MaxPairsKey (-1 disables) only for deliberate " +
            "exact verification at known cost.")
      }
    }
  }

  /** Row count capped at `cutoff`: Catalyst stats when PROVABLY EXACT
    * (no job), else a `limit`-bounded `count()` probe (early-stops at
    * `cutoff` for scan-like inputs; see object doc for the shuffle caveat).
    *
    * "Provably exact" means the optimized plan is a leaf that computes its
    * own row count (`LocalRelation` / `Range`). Any other `rowCount` —
    * ANALYZE-sourced catalog stats propagated by CBO through filters and
    * joins — is a selectivity ESTIMATE: an underestimate would let an
    * oversized input bypass the fence (launching the O(n²) job the fence
    * exists to prevent) and an overestimate would falsely reject a valid
    * input, so estimates never substitute for the probe.
    */
  private def boundedCount(df: DataFrame, cutoff: Long): Long = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Range}
    val plan = df.queryExecution.optimizedPlan
    val exactStats = plan match {
      case _: LocalRelation | _: Range => plan.stats.rowCount
      case _ => None
    }
    exactStats match {
      case Some(exact) => exact.min(BigInt(Long.MaxValue)).toLong
      case None =>
        val probeLimit = cutoff.min(Int.MaxValue.toLong).toInt
        val n = df.limit(probeLimit).count()
        // limit() cannot see past Int.MaxValue rows. When the cutoff is
        // larger, a maxed-out probe means "at least this many, possibly
        // far more" — report the CUTOFF so the fence fails closed
        // (round-13 fix: the truncated count was fed into guardPair's
        // rightBudget division, UNDERESTIMATING a >2^31-row side and
        // inflating the other side's budget — the fence could wave an
        // over-cap pair product through, the opposite of conservative).
        if (n == probeLimit.toLong && cutoff > probeLimit.toLong) cutoff
        else n
    }
  }

  /** `x + 1` saturating at `Long.MaxValue`: a user raising a fence conf to
    * Long.MaxValue (the natural "effectively unlimited" short of -1) must
    * not overflow the probe cutoff to Long.MinValue and hand `limit()` a
    * negative number.
    */
  private def incSaturating(x: Long): Long =
    if (x == Long.MaxValue) x else x + 1L

  private def rejectStreaming(df: DataFrame, op: String): Unit =
    if (df.isStreaming)
      throw new UnsupportedOperationException(
        s"$op is batch-only: all-pairs exact verification (and its size " +
          "fence) is undefined on a streaming DataFrame. Collect the " +
          "stream to a table first, or use the streaming-safe dedup path " +
          "(dropDuplicatesWithinWatermark / IdempotentWriter).")

  private def confLong(df: DataFrame, key: String, default: Long): Long =
    graft.util.Knob.long(df.sparkSession, key, default, "-1 disables the fence")
}
