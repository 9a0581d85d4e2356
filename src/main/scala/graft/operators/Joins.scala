package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join-shaped operators from the reference's warehouse layer:
  * dimension resolution, idempotent anti-joins, and surrogate-key
  * get-or-create (SURVEY.md §2.4 J1-J5).
  */
object Joins {

  /** Inner equi-join fact -> small dimension, explicitly broadcast
    * (reference: dags/spark_job_1.py:64-67 joins a 4-row dim). Catalyst would
    * auto-broadcast under the 10 MB threshold, but at 100 TB fact scale the
    * explicit hint keeps the plan stable when stats are missing or stale.
    */
  def dimJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    fact.join(broadcast(dim), keys, "inner")

  /** Idempotence filter: keep only rows whose composite key is NOT already in
    * `existing` (reference: dags/spark_job_1.py:74-85 anti-join on
    * (symbol_id, interval_id, type_id, timestamp); dags/consumer_news.py:47-49
    * per-row URL existence check — both are this one operator).
    *
    * Keys are NOT NULL in the reference DDL so a plain (non null-safe) anti-join
    * is correct. `existing` should be pre-projected to the key columns so the
    * shuffle carries no payload; when the sink's key set is small (or pruned by
    * partition filters) Catalyst/AQE will broadcast it. Duplicate keys in
    * `existing` do not change a left-anti result, so it is not deduplicated
    * (that would cost an aggregate and a shuffle over the whole sink).
    */
  def antiJoinNew(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** get-or-create surrogate keys for a dimension (reference:
    * dags/consumer_prices.py:31-39 and dags/consumer_news.py:52-57 do this
    * per-row against MySQL AUTO_INCREMENT; Spark has no auto-increment, see
    * SURVEY.md §7.4 hard part 1).
    *
    * Returns the updated dimension: existing rows unchanged, new natural keys
    * assigned ids `max(existing) + dense 1..N in natural-key order`.
    * Deterministic (ordered by the natural key, not by partition layout) and
    * dense. Safe under the single-writer assumption that also holds for the
    * reference (one consumer process per topic).
    *
    * Id assignment is the distributed zip-with-index pattern, NOT a global
    * `row_number() OVER (ORDER BY ...)`: the fresh keys are range-partitioned
    * on the natural key, numbered per partition, and re-based by the
    * cumulative partition counts (a <=numPartitions-row side table, broadcast
    * back). Range partitions are ordered by construction, so the composed id
    * equals the global rank — but no stage ever funnels all new keys through
    * one partition, which matters when a "dimension" turns out to be
    * high-cardinality (url dims at 100 TB).
    *
    * @param dim      existing dimension with columns (idCol, naturalCol)
    * @param incoming any DataFrame containing naturalCol (need not be distinct)
    */
  def getOrCreate(dim: DataFrame, incoming: DataFrame, idCol: String, naturalCol: String): DataFrame = {
    // same reserved-name contract as asOfJoin/topKPerGroup: the numbering
    // rewrite owns these bookkeeping columns, and a same-named natural/id
    // column would be silently overwritten mid-plan
    Seq("_pid", "_cnt", "_off", "_max_id").foreach { n =>
      require(idCol != n && naturalCol != n,
        s"getOrCreate: column name '$n' is reserved by the id-assignment rewrite")
    }
    val maxId = coalesce(max(col(idCol)), lit(0L))
    val base = dim.agg(maxId.as("_max_id"))
    val spark = dim.sparkSession
    val nBuckets = math.max(1, spark.sparkContext.defaultParallelism)
    // localCheckpoint pins the range bucketing: `ranged` feeds two plan
    // branches (offsets + numbering), and range-partition sample seeds
    // derive from the exchange RDD's id — two independent materializations
    // could draw different bounds, splitting keys across inconsistent _pid
    // maps. Materializing once makes _pid a fact, not a plan artifact (the
    // same trick dedupClusters uses for its iteration frontier).
    // round-13 fix: NULL natural keys never get ids minted. The anti-join
    // below is null-UNSAFE (NULL = NULL is not true), so an incoming NULL
    // key would survive it on EVERY run and append a fresh (maxId+1, NULL)
    // dim row each time — one duplicate per run, breaking idempotence —
    // while resolveDim's inner join drops NULL-key facts regardless.
    val ranged = incoming.select(col(naturalCol)).distinct()
      .filter(col(naturalCol).isNotNull)
      .join(dim.select(col(naturalCol)), Seq(naturalCol), "left_anti")
      .repartitionByRange(nBuckets, col(naturalCol))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    // cumulative key count of the preceding partitions: <= nBuckets rows, so
    // the unpartitioned running-sum window is over a bounded side table
    val offsets = ranged.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
      .withColumn("_off", coalesce(
        sum(col("_cnt")).over(Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_off"))
    val fresh = ranged
      .join(broadcast(offsets), Seq("_pid"))
      // single-row cross join: broadcast nested loop, no shuffle of `fresh`
      .crossJoin(broadcast(base))
      .withColumn(idCol,
        // LONG ids: an int cast would silently wrap past 2^31 fresh keys —
        // exactly the high-cardinality regime the bucketed numbering above
        // exists for. Existing int-typed dims widen through unionByName's
        // int/long coercion (output column is long either way).
        col("_max_id") + col("_off") +
          row_number().over(Window.partitionBy(col("_pid"))
            .orderBy(col(naturalCol))).cast("long"))
      .select(col(idCol), col(naturalCol))
    dim.select(col(idCol), col(naturalCol)).unionByName(fresh)
  }

  /** Resolve natural keys to surrogate ids in one shot: grow the dimension with
    * any unseen keys, then broadcast-join facts to it. Returns (facts with
    * idCol attached, updated dimension).
    */
  def resolveDim(
      facts: DataFrame,
      dim: DataFrame,
      idCol: String,
      naturalCol: String): (DataFrame, DataFrame) = {
    val grown = getOrCreate(dim, facts, idCol, naturalCol)
    (facts.join(broadcast(grown), Seq(naturalCol), "inner"), grown)
  }

  /** AS-OF join (SURVEY.md §2.4: the extension the price x news correlation
    * needs): for every left row, attach the LATEST right row with
    * right.timeCol <= left.timeCol within the same key group.
    *
    * Implemented Spark-first as the union-and-carry-forward technique: tag
    * both sides, union, and let `last(_, ignoreNulls)` over a running window
    * carry the most recent right-side values onto each left row. ONE shuffle
    * on the key, one sort on (time, side, tiebreak) — strictly better than a
    * range self-join (no quadratic candidate explosion), and the sort order
    * (right before left on time ties) pins the inclusive <= semantics.
    *
    * @param rightVals right-side columns to carry; exposed as `asof_<name>`
    * @param tiebreak  unique right-side column ordering same-time right rows
    *                  (the last one wins, deterministically)
    */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[String],
      tiebreak: String): DataFrame =
    asOfCarry(left, right, keys, leftTime, rightTime, rightVals, tiebreak,
      forward = false, prefix = "asof_")

  /** Shared union-and-carry implementation for both AS-OF directions.
    *
    * The carried right-side columns travel as ONE struct, not per-column
    * windows: per-column `last(ignoreNulls)` would tear rows apart whenever
    * the matched right row holds a NULL in one carried column (the window
    * would skip past it to an OLDER row for that column only), producing a
    * combination that never existed. A right row's struct is never null
    * (even if every field is), so ignoreNulls skips exactly the left rows.
    *
    * Both directions run O(n) running frames: backward carries
    * last(ignoreNulls) over an ASCENDING (time, side, tiebreak) sort;
    * forward uses the same running frame over the DESCENDING sort — a
    * (currentRow, unboundedFollowing) frame would be recomputed from
    * scratch per row (quadratic in the hot key's partition).
    */
  private def asOfCarry(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[String],
      tiebreak: String,
      forward: Boolean,
      prefix: String): DataFrame = {
    val leftCols = left.columns
    // the union rewrite owns these bookkeeping names: a same-named user
    // column would be silently overwritten by withColumn and re-emitted
    // corrupted in the pass-through output (round-13 guard)
    Seq("_t", "_side", "_tb", "_rv", "_carried").foreach { n =>
      require(!leftCols.contains(n) && !right.columns.contains(n),
        s"asOfJoin: input may not contain reserved working column '$n'")
    }
    val rvStructType = org.apache.spark.sql.types.StructType(
      rightVals.map(v => org.apache.spark.sql.types.StructField(
        v, right.schema(v).dataType, nullable = true)))
    val l = left
      .withColumn("_t", col(leftTime))
      .withColumn("_side", lit(if (forward) 0 else 1))
      // round-13 fix: the null sentinel adopts the tiebreak's own type —
      // the old cast("long") nulled STRING tiebreaks on the right side,
      // turning same-time resolution into a partition-layout coin flip
      .withColumn("_tb", lit(null).cast(right.schema(tiebreak).dataType))
      .withColumn("_rv", lit(null).cast(rvStructType))
      .select((keys ++ Seq("_t", "_side", "_tb", "_rv")).map(col) ++
        leftCols.filterNot(keys.contains).map(col): _*)
    val r = right
      // a NULL-time right row can never be a valid as-of match, but ASC =
      // NULLS FIRST would sort it before every real row and carry its
      // values onto every left row with no true predecessor (round-13 fix)
      .filter(col(rightTime).isNotNull)
      .withColumn("_t", col(rightTime))
      .withColumn("_side", lit(if (forward) 1 else 0))
      .withColumn("_tb", col(tiebreak))
      .withColumn("_rv", struct(rightVals.map(col): _*))
      .select((keys ++ Seq("_t", "_side", "_tb", "_rv")).map(col): _*)
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val order =
      if (forward) Seq(col("_t").desc, col("_side").desc, col("_tb").desc)
      else Seq(col("_t").asc, col("_side").asc, col("_tb").asc)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("_carried", last(col("_rv"), ignoreNulls = true).over(w))
      .filter(col("_side") === (if (forward) 0 else 1))
      // a NULL-time LEFT row has no as-of position: backward mode already
      // yields NULL (NULLS FIRST = nothing precedes it), but forward mode
      // (DESC = NULLS LAST) would hand it the carry of the WHOLE partition
      // — a phantom match to the earliest right row (round-13 fix)
      .select((keys ++ leftCols.filterNot(keys.contains)).map(col) ++
        rightVals.map(v => when(col("_t").isNotNull, col(s"_carried.$v"))
          .as(prefix + v)): _*)
  }

  /** Forward AS-OF join: every left row gets the EARLIEST right row with
    * `rightTime >= leftTime` per key (the mirror of [[asOfJoin]]; at equal
    * right times the LOWEST tiebreak wins). Same single-shuffle union
    * rewrite, run over the descending sort so the carry stays a running
    * frame (see [[asOfCarry]]).
    */
  def asOfJoinForward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[String],
      tiebreak: String): DataFrame =
    asOfCarry(left, right, keys, leftTime, rightTime, rightVals, tiebreak,
      forward = true, prefix = "next_")

  /** Top-k rows per group, ordered by orderCols descending — the window
    * `row_number` pattern used throughout the engine (e.g. similarity top-k).
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String], k: Int): DataFrame = {
    require(!df.columns.contains("_rn"),
      "topKPerGroup: input may not contain reserved working column '_rn'")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k).drop("_rn")
  }
}
