package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ZOrderFunctions
import graft.operators.Multimodal
import graft.sources.Tables

/** Round-3 breadth batch 2: z-order layout clustering (codegen Morton keys),
  * the binned equi-join scale path for range joins, two-level HLL sketch
  * merge (the map-side-partial pattern for distributed distinct counts),
  * binary chunking plumbing for audio payloads, real JSON struct decode,
  * character-entropy quality scoring, and the Spark 4 transformWithState
  * streaming tier. All DuckDB-oracled.
  */
object Ext5Queries {

  /** Z-order layout clustering: codegen Morton key over (user_id, value)
    * dims, rows range-partitioned by z-value — the write-side clustering
    * that gives min/max file-skipping on BOTH dimensions at 100 TB. The
    * oracle recomputes the interleave with unrolled shift/mask SQL.
    */
  def zorderCluster(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        pmod(col("user_id"), lit(256)).as("zx"),
        pmod(expr("CAST(floor(value) AS BIGINT)"), lit(256)).as("zy"))
      .withColumn("zval", ZOrderFunctions.zorder2(col("zx"), col("zy")))
      .withColumn("file_bucket", expr("zval div 4096"))
      .repartitionByRange(col("zval"))
      .select("event_id", "zval", "file_bucket")

  val zorderClusterOracle: String =
    """WITH d AS (
      |  SELECT event_id, user_id % 256 AS x,
      |    CAST(floor(value) AS BIGINT) % 256 AS y
      |  FROM events
      |), sx AS (
      |  SELECT event_id, y, (x | (x << 4)) & 3855 AS v FROM d
      |), sx2 AS (
      |  SELECT event_id, y, (v | (v << 2)) & 13107 AS v FROM sx
      |), sx3 AS (
      |  SELECT event_id, y, (v | (v << 1)) & 21845 AS v FROM sx2
      |), sy AS (
      |  SELECT event_id, v AS xv, (y | (y << 4)) & 3855 AS w FROM sx3
      |), sy2 AS (
      |  SELECT event_id, xv, (w | (w << 2)) & 13107 AS w FROM sy
      |), sy3 AS (
      |  SELECT event_id, xv, (w | (w << 1)) & 21845 AS w FROM sy2
      |)
      |SELECT event_id, xv | (w << 1) AS zval,
      |  (xv | (w << 1)) // 4096 AS file_bucket
      |FROM sy3""".stripMargin

  /** Range join via bin expansion — the scale path q_range_join's theta join
    * cannot take: intervals explode to the fixed-width bins they cover,
    * events hash to their single bin, and the join becomes a broadcast
    * equi-join on bin + residual predicate. Each (interval, event) pair
    * meets exactly once (an event has one bin), so no dedup is needed.
    * O(n) instead of O(n*m), and the bin key partitions cleanly at 100 TB.
    */
  def binnedRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val bin = 3600000000L // 1 h in micros
    val width = 10800000000L // 3 h windows
    val ev = Tables.events(s, dir)
    val iv = ev.filter(col("user_id") < 20)
      .groupBy(col("user_id").as("window_user"))
      .agg(min("ts_us").as("start_us"))
    val ivBins = iv.withColumn("bin",
      explode(sequence(expr(s"start_us div $bin"),
        expr(s"(start_us + ${width - 1}) div $bin"))))
    ev.withColumn("ebin", expr(s"ts_us div $bin"))
      .join(broadcast(ivBins),
        col("ebin") === ivBins("bin") &&
          col("ts_us") >= col("start_us") &&
          col("ts_us") < col("start_us") + lit(width))
      .groupBy("window_user")
      .agg(count(lit(1)).as("n_events"))
  }

  val binnedRangeJoinOracle: String =
    """WITH iv AS (
      |  SELECT user_id AS window_user, MIN(epoch_us(ts)) AS start_us
      |  FROM events WHERE user_id < 20 GROUP BY 1
      |)
      |SELECT window_user, COUNT(*) AS n_events
      |FROM events e JOIN iv
      |  ON epoch_us(e.ts) >= iv.start_us
      | AND epoch_us(e.ts) < iv.start_us + 10800000000
      |GROUP BY window_user""".stripMargin

  /** Two-level HLL sketch merge: per-(event_type, shard) DataSketches HLL
    * partials unioned per event_type — the mergeable-sketch pattern that
    * makes distributed distinct counting one narrow shuffle of fixed-size
    * binaries at 100 TB. Gated like q_approx_distinct: the estimate must
    * land within 5% of exact (flag pinned TRUE on both sides), with exact
    * counts alongside.
    */
  def sketchMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val partials = ev
      .groupBy(col("event_type"), pmod(col("user_id"), lit(16)).as("shard"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = partials.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"))
    merged.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <=
          col("n_exact") * lit(0.05)).cast("int").as("within_5pct"))
  }

  val sketchMergeOracle: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, 1 AS within_5pct
      |FROM events GROUP BY event_type""".stripMargin

  /** Audio-payload chunking: fixed 32-byte frames sliced out of the opaque
    * binary column with pure expressions (no decode, no shuffle) — the
    * spectrogram-windowing precursor a media pipeline schedules. Chunk
    * digests are md5 over the raw bytes, so the oracle reproduces them from
    * the (ASCII) source text exactly.
    */
  def audioChunks(s: SparkSession, dir: String): DataFrame =
    Multimodal.packPayload(Tables.documents(s, dir), "doc_id", "text")
      .filter(col("kind") === "audio")
      .select(col("media_id"), col("payload"),
        explode(sequence(lit(0L), expr("(n_bytes + 31) div 32 - 1"))).as("chunk_idx"))
      .select(
        col("media_id"), col("chunk_idx"),
        octet_length(col("payload").substr(
          (col("chunk_idx") * 32 + 1).cast("int"), lit(32))).as("chunk_bytes"),
        md5(col("payload").substr(
          (col("chunk_idx") * 32 + 1).cast("int"), lit(32))).as("chunk_md5"))

  val audioChunksOracle: String =
    """SELECT doc_id AS media_id, i AS chunk_idx,
      |  length(substr(text, CAST(i * 32 + 1 AS INT), 32)) AS chunk_bytes,
      |  md5(substr(text, CAST(i * 32 + 1 AS INT), 32)) AS chunk_md5
      |FROM documents, UNNEST(range(0, (length(text) + 31) // 32)) AS t(i)
      |WHERE doc_id % 3 = 1""".stripMargin

  /** Real JSON decode (vs q_json_extract's regexp formulation): from_json
    * with a declared schema — the schema-on-read contract the wire layer
    * owns (SURVEY §1.2); missing/malformed fields come back NULL, not as
    * errors.
    */
  def jsonStruct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k_int"))
      .withColumn("has_k", col("k_int").isNotNull.cast("int"))

  val jsonStructOracle: String =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
      |  CAST(json_extract_string(props, '$.k') IS NOT NULL AS INT) AS has_k
      |FROM events""".stripMargin

  /** Character-level Shannon entropy per document — the compressibility
    * signal quality filters cut on (gibberish and boilerplate both sit at
    * entropy extremes). One codegen'd O(len) histogram pass per row
    * ([[graft.functions.CharEntropy]]), zero shuffle; the oracle derives the
    * same log2(N) - sum(c*log2(c))/N from exact integer counts via
    * substr+UNNEST grouping.
    */
  def charEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      graft.functions.TextFunctions.char_distinct(col("text"))
        .cast("long").as("n_distinct_chars"),
      round(graft.functions.TextFunctions.char_entropy(col("text")), 6)
        .as("entropy"))

  val charEntropyOracle: String =
    """WITH ch AS (
      |  SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
      |  FROM documents, UNNEST(range(1, length(text) + 1)) AS t(i)
      |), c AS (
      |  SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2
      |)
      |SELECT doc_id, COUNT(*) AS n_distinct_chars,
      |  ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6) AS entropy
      |FROM c GROUP BY doc_id""".stripMargin

  /** Forward-fill imputation: non-purchase rows carry the user's most recent
    * purchase value (last_value IGNORE NULLS over the event-time frame) —
    * the gap-filling pass a feature pipeline runs before training joins.
    * Single shuffle on user_id, same window partitioning every other
    * per-user pass shares.
    */
  def forwardFill(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.events(s, dir)
      .withColumn("purchase_v",
        when(col("event_type") === "purchase", col("value")))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        last(col("purchase_v"), ignoreNulls = true).over(w).as("last_purchase"))
  }

  val forwardFillOracle: String =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
      |FROM events""".stripMargin

  /** Calendar-spine gap fill: a generated day spine LEFT JOINs the per-day
    * order counts so quiet days surface as explicit zeros — the dense
    * time-series contract downstream models need. The spine is a pure
    * sequence (no scan); the fact aggregation is one shuffle.
    */
  def calendarSpine(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val bounds = orders.agg(
      to_date(min("o_orderdate")).as("d0"), to_date(max("o_orderdate")).as("d1"))
    val spine = bounds
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val perDay = orders.groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"))
    spine.join(perDay, Seq("day"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
  }

  val calendarSpineOracle: String =
    """WITH b AS (
      |  SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
      |         CAST(MAX(o_orderdate) AS DATE) AS d1 FROM orders
      |), spine AS (
      |  SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM b
      |), per_day AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1
      |)
      |SELECT strftime(s.day, '%Y-%m-%d') AS day,
      |  COALESCE(p.n_orders, 0) AS n_orders
      |FROM spine s LEFT JOIN per_day p ON s.day = p.day""".stripMargin

  /** Event-time SESSION windows in streaming mode (45-minute gap, complete
    * drain): the dynamic-gap state merging Structured Streaming does for
    * session_window, held to the same gaps-and-islands SQL oracle as the
    * batch q_session_window (which uses a 30-minute gap — both formulations
    * stay gated independently).
    */
  def streamSession(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Drain.toMemory(s, "stream_session",
        graft.streaming.DrainWidth.forPath(s, s"$dir/events.parquet"), "complete") { ss =>
      StreamQueries.eventsStream(ss, dir)
        .withWatermark("ts_t", "1 hour")
        .groupBy(session_window(col("ts_t"), "45 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          // window.end = last event + gap; expose the last-event time instead
          (unix_micros(col("session_window.end")) - lit(2700000000L)).as("session_last_us"),
          col("n"))
    }

  val streamSessionOracle: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us FROM events
      |), brk AS (
      |  SELECT user_id, ts_us,
      |    CASE WHEN lag(ts_us) OVER w IS NULL
      |           OR ts_us - lag(ts_us) OVER w >= 2700000000 THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
      |), sess AS (
      |  SELECT user_id, ts_us,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
      |                      ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM brk
      |)
      |SELECT user_id, MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_last_us,
      |  COUNT(*) AS n
      |FROM sess GROUP BY user_id, sess_id""".stripMargin

  /** Global top-k through ORDER BY + LIMIT: Spark plans
    * TakeOrderedAndProject — per-partition heaps + a k-row driver merge, no
    * global sort, no single-partition shuffle of the full table (the only
    * formulation that survives 100 TB).
    */
  def orderLimit(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  val orderLimitOracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** Multiset set operations (INTERSECT ALL / EXCEPT ALL) — bag semantics
    * with per-row multiplicity, the variant q_set_ops' DISTINCT forms don't
    * cover.
    */
  def setOpsAll(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_soa")
    s.sql(
      """SELECT nk FROM (
        |  SELECT c_nationkey AS nk FROM customer_soa WHERE c_acctbal > 3000
        |  INTERSECT ALL
        |  SELECT c_nationkey FROM customer_soa WHERE c_acctbal < 8000
        |)
        |EXCEPT ALL
        |SELECT c_nationkey FROM customer_soa WHERE c_mktsegment = 'BUILDING'""".stripMargin)
  }

  val setOpsAllOracle: String =
    """SELECT nk FROM (
      |  SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 3000
      |  INTERSECT ALL
      |  SELECT c_nationkey FROM customer WHERE c_acctbal < 8000
      |)
      |EXCEPT ALL
      |SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin

  /** transformWithState running totals drained over the events landing zone:
    * the single-batch drain of the incremental per-key state equals the
    * batch groupBy aggregate (the same drain==batch contract every other
    * streaming query in this engine gates on).
    */
  def twsTotals(s: SparkSession, dir: String): DataFrame =
    graft.streaming.RunningTotals.drain(s,
      StreamQueries.eventsStream(s, dir))

  val twsTotalsOracle: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(floor(value)) AS BIGINT) AS sum_floor
      |FROM events GROUP BY user_id""".stripMargin
}
