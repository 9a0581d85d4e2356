package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Graphs
import graft.sources.Tables
import graft.streaming.SessionTimers

/** Round-9 extension batch: the three genuinely-unrepresented public shapes
  * flagged by the round-8 verdict.
  *
  *   - Multi-hop graph reachability (depth 4): the `WITH RECURSIVE` CTE
  *     Spark SQL cannot parse, as level-synchronous distributed BFS
  *     ([[Graphs.reachability]]); the DuckDB oracle IS the recursive CTE.
  *   - Inverse-distribution functions: `percentile_disc` / `percentile_cont`
  *     WITHIN GROUP — SQL-standard discrete vs interpolated quantiles,
  *     pinned against each other (disc must be an attained value, cont the
  *     linear interpolation).
  *   - Timer-emitted streaming sessions ([[SessionTimers]]): a REAL
  *     `transformWithState` event-time-timer drain whose emitted sessions
  *     must equal the batch gaps-and-islands rewrite — the strongest
  *     batch/stream parity statement in the suite (state + timers, not
  *     just windowed aggregation).
  */
object Ext37Queries {

  /** Nation-to-nation trade reachability within 4 hops over the directed
    * above-average-flow edge graph (customer nation -> supplier nation).
    * Distributed BFS labels each reachable (src, dst) with its minimum hop
    * count — exactly the recursive CTE's MIN(hops) closure.
    */
  def graphReachability(s: SparkSession, dir: String): DataFrame = {
    val flows = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    val avgW = flows.agg(avg(col("w")).as("_avg_w"))
    val edges = flows.crossJoin(broadcast(avgW))
      .filter(col("w") > col("_avg_w"))
      .select(col("src"), col("dst"))
    Graphs.reachability(edges, "src", "dst", maxDepth = 4)
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("hops"))
  }

  val graphReachabilityOracle: String =
    """WITH RECURSIVE flows AS (
      |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
      |  FROM lineitem l
      |    JOIN orders o ON l.l_orderkey = o.o_orderkey
      |    JOIN customer c ON o.o_custkey = c.c_custkey
      |    JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey
      |  GROUP BY 1, 2
      |), e AS (
      |  SELECT src, dst FROM flows WHERE w > (SELECT AVG(w) FROM flows)
      |), r AS (
      |  SELECT src, dst, 1 AS hops FROM e
      |  UNION
      |  SELECT r.src, e.dst, r.hops + 1 FROM r JOIN e ON r.dst = e.src
      |  WHERE r.hops < 4
      |)
      |SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
      |  CAST(MIN(hops) AS BIGINT) AS hops
      |FROM r GROUP BY 1, 2""".stripMargin

  /** SQL-standard inverse-distribution quantiles per event type:
    * percentile_disc (smallest attained value whose cume_dist >= p) next to
    * percentile_cont (linear interpolation at rank 1 + p(n-1)).
    */
  def percentileDisc(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)")
          .as("p25_disc"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
          .as("p50_disc"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)")
          .as("p90_disc"),
        round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY value)"), 6)
          .as("p50_cont"),
        round(expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY value)"), 6)
          .as("p90_cont"))

  val percentileDiscOracle: String =
    """SELECT event_type,
      |  percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS p25_disc,
      |  percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50_disc,
      |  percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90_disc,
      |  ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6)
      |    AS p50_cont,
      |  ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY value), 6)
      |    AS p90_cont
      |FROM events GROUP BY event_type""".stripMargin

  /** 30-minute-gap sessions emitted by event-time TIMERS from a drained
    * `transformWithState` stream — must equal the batch gaps-and-islands
    * sessionization row-for-row (q_session_window's oracle shape).
    */
  def twsSessions(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir).select(col("user_id"), col("ts_us"))
    SessionTimers.drain(s, events, gapUs = 1800000000L, cacheKey = dir)
      .select(col("user_id"), col("session_start_us"),
        col("session_last_us"), col("n"))
  }

  /** The UN-STARTED left-outer stream-stream join over a staged landing
    * zone — exposed so the plan pin (PlanSpec/PLANS.md) can inspect the
    * streaming logical plan: ONE EventTimeWatermark(ts_t, 0s) directly over
    * the shared file source (so sentinel rows advance the clock for BOTH
    * sides before the per-side type filters drop them), then a LeftOuter
    * join whose condition carries the user_id equi-key plus the 1-hour
    * event-time range that bounds per-side state.
    */
  def outerJoinStream(s: SparkSession, staged: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts_us", LongType), StructField("event_type", StringType)))
    // watermark BEFORE the per-side type filters: sentinel rows advance the
    // clock for both sides, then drop out of the join inputs
    val stream = s.readStream.schema(schema)
      // one batch per staged STEP (k files, round-15 parallel drain)
      .option("maxFilesPerTrigger",
        graft.streaming.LandingZone.DrainFilesPerStep.toString)
      .parquet(staged)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", "0 seconds")
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts_t").as("click_t"), col("ts_us").as("click_us"))
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"),
        col("ts_t").as("purchase_t"), col("ts_us").as("purchase_us"))
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_t") >= col("click_t") &&
        col("purchase_t") <= col("click_t") + expr("INTERVAL 1 HOUR"),
      "leftOuter")
  }

  /** LEFT OUTER stream-stream join — the capability beyond q_stream_join's
    * inner form: an unmatched click emits with NULL purchase columns only
    * once the watermark proves no in-window purchase can still arrive
    * (state eviction + null padding, not a recompute). The drain uses the
    * [[graft.streaming.LandingZone]] sentinel contract so the tail's
    * null-padded rows provably flush; the oracle is the batch LEFT JOIN.
    *
    * Scale posture: per-side state is bounded by the 1-hour join window
    * under the watermark — eviction is exactly what the outer join's
    * null-padding rides on.
    *
    * Note on plan shapes: the ANALYZED plan (what PlanSpec pins) has the
    * single watermark node directly over the source with the type filters
    * above it; the OPTIMIZER then pushes those filters below the watermark
    * (they don't reference the event-time column), which is why the
    * sentinels below must carry the join types themselves.
    */
  def streamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.LandingZone
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
    // Option-based max: an empty events table yields 0L instead of an NPE
    // (same posture as SessionTimers.drain)
    val maxUs = {
      import s.implicits._
      ev.agg(max(col("ts_us"))).as[Option[Long]].head().getOrElse(0L)
    }
    // The per-side type filters are deterministic, so Catalyst pushes them
    // BELOW the EventTimeWatermark operator — a row only advances a side's
    // clock if it would reach that side's join input. Sentinels therefore
    // carry the JOIN types themselves (one click + one purchase per step,
    // out-of-domain negative keys, excluded from the final result); a
    // neutral type would be filtered out pre-watermark and the tail's
    // null-padded rows would never flush.
    def sentinel(ts: Long): org.apache.spark.sql.DataFrame = {
      import s.implicits._
      Seq((-1L, -1L, ts, "click"), (-2L, -1L, ts, "purchase"))
        .toDF("event_id", "user_id", "ts_us", "event_type")
    }
    // Sentinels sit 2h+ past the data so the watermark ends up beyond every
    // click's 1-hour purchase window. Sentinel A rides the DATA step (r22):
    // the watermark published at the end of batch 1 is then already past
    // every click's join window (maxUs+2h > click_t+1h for every data
    // click), so batch 2 — sentinel B's step — evicts and null-pads every
    // unmatched click. Batch 1's own processing is unchanged (the watermark
    // DURING a batch is the previous batch's, the initial 0 here); the
    // former data/sentA/sentB layout paid a third file batch plus the
    // engine's trailing no-data batch for the same flush — measured 4
    // micro-batches where this layout pays 2, identical rows
    // (DrainCensusSpec pins the 2).
    val staged = LandingZone.stage(
      ev.unionByName(sentinel(maxUs + 7200000000L)),
      Seq(sentinel(maxUs + 10800000000L)),
      filesPerStep = LandingZone.DrainFilesPerStep)
    // 4 join state stores spin up per partition per batch: the width
    // follows the staged replay input, see [[graft.streaming.DrainWidth]]
    graft.streaming.Drain.toMemory(s, "stream_outer_join",
        graft.streaming.DrainWidth.forPath(s, staged), "append") { ss =>
      outerJoinStream(ss, staged).select(col("click_id"), col("click_us"),
        col("purchase_id"), col("purchase_us"))
    }.filter(col("click_id") >= 0) // drop the sentinel clicks' own rows
  }

  val streamOuterJoinOracle: String =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
      |  FROM events
      |)
      |SELECT c.event_id AS click_id, c.ts_us AS click_us,
      |  p.event_id AS purchase_id, p.ts_us AS purchase_us
      |FROM e c LEFT JOIN e p
      |  ON c.user_id = p.user_id AND p.event_type = 'purchase'
      | AND p.ts_us >= c.ts_us AND p.ts_us <= c.ts_us + 3600000000
      |WHERE c.event_type = 'click'""".stripMargin

  val twsSessionsOracle: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us FROM events
      |), brk AS (
      |  SELECT user_id, ts_us,
      |    CASE WHEN lag(ts_us) OVER w IS NULL
      |           OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
      |), sess AS (
      |  SELECT user_id, ts_us,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
      |                      ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM brk
      |)
      |SELECT user_id, MIN(ts_us) AS session_start_us,
      |  MAX(ts_us) AS session_last_us, COUNT(*) AS n
      |FROM sess GROUP BY user_id, sess_id""".stripMargin
}
