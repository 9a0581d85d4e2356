package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Indicators, Joins}
import graft.sources.Tables

/** Reference-parity queries (SURVEY.md §2). Each query function `x` sits
  * beside its DuckDB oracle `xOracle`, and [[graft.SparkEntry.registry]]
  * pairs the two under the query's name. Conventions for oracle parity:
  *   - event timestamps as epoch MICROSECONDS (`ts_us`) — see [[Tables.events]];
  *   - floating-point aggregates rounded to 6 dp on both sides;
  *   - money sums cast to exact decimals before summing (order-independent),
  *     cast back to double for a stable output schema;
  *   - every window order includes a unique tiebreaker column.
  */
object CoreQueries {

  /** The events table viewed as a kline-ish series: one series per user_id,
    * ordered by (ts_us, event_id), `value` as the price. 150 distinct users at
    * any SF — at 100 TB the same shape holds if the series key has reasonable
    * cardinality; the window shuffle is one Exchange on the series key.
    */
  private def series(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select("event_id", "user_id", "ts_us", "value")

  private val spec = Indicators.SeriesSpec(
    partitionCols = Seq("user_id"),
    orderCols = Seq("ts_us", "event_id"),
    priceCol = "value",
    n = 14)

  // --- aggregation flagship (hash agg + exact decimal sums) ------------------

  def q1Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))

  val q1AggOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // --- indicator windows (A1-A3, W1-W3, E1-E7; reference spark_job_1.py) -----

  def windowSma(s: SparkSession, dir: String): DataFrame =
    series(s, dir)
      .withColumn("sma", round(Indicators.smaCol(spec), 6))
      .select("user_id", "event_id", "ts_us", "sma")

  val windowSmaOracle: String =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |  ROUND(AVG(value) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), 6) AS sma
      |FROM events""".stripMargin

  def windowRsi(s: SparkSession, dir: String): DataFrame =
    series(s, dir)
      .withColumn("rsi", round(Indicators.rsiCol(spec), 6))
      .select("user_id", "event_id", "ts_us", "rsi")

  val windowRsiOracle: String =
    """WITH diffs AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    value - lag(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS diff
      |  FROM events
      |), gl AS (
      |  SELECT user_id, event_id, ts_us,
      |    CASE WHEN diff > 0 THEN diff ELSE 0.0 END AS gain,
      |    CASE WHEN diff < 0 THEN -diff ELSE 0.0 END AS loss
      |  FROM diffs
      |), a AS (
      |  SELECT user_id, event_id, ts_us,
      |    AVG(gain) OVER w AS avg_gain,
      |    AVG(loss) OVER w AS avg_loss
      |  FROM gl
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      |)
      |SELECT user_id, event_id, ts_us,
      |  ROUND(100.0 - 100.0 / (1.0 + avg_gain / NULLIF(avg_loss, 0.0)), 6) AS rsi
      |FROM a""".stripMargin

  def windowBollinger(s: SparkSession, dir: String): DataFrame =
    series(s, dir)
      .withColumn("bb_up", round(Indicators.bollingerUpCol(spec), 6))
      .withColumn("bb_down", round(Indicators.bollingerDownCol(spec), 6))
      .select("user_id", "event_id", "ts_us", "bb_up", "bb_down")

  val windowBollingerOracle: String =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |  ROUND(AVG(value) OVER w + 2 * STDDEV_SAMP(value) OVER w, 6) AS bb_up,
      |  ROUND(AVG(value) OVER w - 2 * STDDEV_SAMP(value) OVER w, 6) AS bb_down
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Full reference pipeline parity: 4 indicator branches -> long shape ->
    * null filter -> broadcast dim join (spark_job_1.py:48-71), in one window
    * pass. The 4-row dim is built inline, mirroring the seeded
    * dim_indicator_type_1 (indicator_dim_fact.sql:7-8).
    */
  def indicatorUnion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = graft.model.Schemas.indicatorTypeSeed.toDF("type_id", "type_name")
    val long = Indicators.allLong(series(s, dir), spec)
    Joins.dimJoin(long, dim, Seq("type_name"))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("type_id"),
        round(col("value"), 6).as("value"))
  }

  val indicatorUnionOracle: String =
    """WITH diffs AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
      |    value - lag(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS diff
      |  FROM events
      |), gl AS (
      |  SELECT *,
      |    CASE WHEN diff > 0 THEN diff ELSE 0.0 END AS gain,
      |    CASE WHEN diff < 0 THEN -diff ELSE 0.0 END AS loss
      |  FROM diffs
      |), wide AS (
      |  SELECT user_id, event_id, ts_us,
      |    AVG(value) OVER w AS sma,
      |    100.0 - 100.0 / (1.0 + (AVG(gain) OVER w) / NULLIF(AVG(loss) OVER w, 0.0)) AS rsi,
      |    AVG(value) OVER w + 2 * STDDEV_SAMP(value) OVER w AS bb_up,
      |    AVG(value) OVER w - 2 * STDDEV_SAMP(value) OVER w AS bb_down
      |  FROM gl
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      |), long AS (
      |  SELECT user_id, event_id, ts_us, 'SMA' AS type_name, sma AS value FROM wide
      |  UNION ALL
      |  SELECT user_id, event_id, ts_us, 'RSI', rsi FROM wide
      |  UNION ALL
      |  SELECT user_id, event_id, ts_us, 'BB_UP', bb_up FROM wide
      |  UNION ALL
      |  SELECT user_id, event_id, ts_us, 'BB_DOWN', bb_down FROM wide
      |), dim AS (
      |  SELECT * FROM (VALUES (1,'SMA'),(2,'RSI'),(3,'BB_UP'),(4,'BB_DOWN')) AS t(type_id, type_name)
      |)
      |SELECT l.user_id, l.event_id, l.ts_us, d.type_id, ROUND(l.value, 6) AS value
      |FROM long l JOIN dim d ON l.type_name = d.type_name
      |WHERE l.value IS NOT NULL""".stripMargin

  // --- joins (J1-J5) ---------------------------------------------------------

  /** Left-anti idempotence join (J2/J3): customers with no order above 300k —
    * the filter keeps the result non-trivially non-empty at every SF.
    */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val seen = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("c_custkey"))
    Joins.antiJoinNew(cust, seen, Seq("c_custkey")).select("c_custkey", "c_name")
  }

  val antiJoinOracle: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin

  /** Broadcast dim join chain + aggregation (J1): region <- nation <- customer. */
  def dimJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val nat = Tables.nation(s, dir)
    val reg = Tables.region(s, dir)
    cust
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy("r_name")
      .agg(
        count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("sum_bal"))
  }

  val dimJoinAggOracle: String =
    """SELECT r_name, COUNT(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  /** Surrogate-key get-or-create (J4/J5): grow a seeded source dimension with
    * the unseen sources in `documents`. Mirrors consumer_prices.py:31-39 /
    * consumer_news.py:52-57 without AUTO_INCREMENT (SURVEY.md §7.4).
    */
  def getOrCreateDim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim0 = Seq((1L, "src0"), (2L, "src1"), (3L, "src2")).toDF("source_id", "source")
    Joins.getOrCreate(dim0, Tables.documents(s, dir), "source_id", "source")
  }

  val getOrCreateDimOracle: String =
    """WITH dim0(source_id, source) AS
      |  (VALUES (CAST(1 AS BIGINT),'src0'),(2,'src1'),(3,'src2')),
      |fresh AS (
      |  SELECT DISTINCT source FROM documents
      |  WHERE source NOT IN (SELECT source FROM dim0)
      |)
      |SELECT source_id, source FROM dim0
      |UNION ALL
      |SELECT CAST(3 + row_number() OVER (ORDER BY source) AS BIGINT) AS source_id, source
      |FROM fresh""".stripMargin

  /** Top-k per group via row_number window (used internally for surrogate keys
    * and similarity top-k): top-3 orders per customer by price.
    */
  def topNPerGroup(s: SparkSession, dir: String): DataFrame =
    Joins.topKPerGroup(Tables.orders(s, dir),
        Seq("o_custkey"), Seq("o_totalprice", "o_orderkey"), 3)
      .select("o_custkey", "o_orderkey", "o_totalprice")

  val topNPerGroupOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
      |QUALIFY row_number() OVER (
      |  PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey DESC) <= 3""".stripMargin

  // --- set ops / scalar expressions (U1, E8-E15) -----------------------------

  /** unionByName of two differently-derived projections (U1,
    * reference spark_job_1.py:50-53), then a stable aggregate.
    */
  def unionByNameAgg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val hi = o.filter(col("o_totalprice") > 100000)
      .select(col("o_orderkey"), col("o_orderstatus"), lit("hi").as("bucket"))
    val lo = o.filter(col("o_totalprice") <= 100000)
      .select(lit("lo").as("bucket"), col("o_orderkey"), col("o_orderstatus"))
    hi.unionByName(lo)
      .groupBy("o_orderstatus", "bucket")
      .agg(count(lit(1)).as("n"))
  }

  val unionByNameAggOracle: String =
    """WITH u AS (
      |  SELECT o_orderkey, o_orderstatus, 'hi' AS bucket FROM orders WHERE o_totalprice > 100000
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, 'lo' AS bucket FROM orders WHERE o_totalprice <= 100000
      |)
      |SELECT o_orderstatus, bucket, COUNT(*) AS n FROM u GROUP BY o_orderstatus, bucket""".stripMargin

  /** Epoch-grain normalization (E8 + SURVEY §7.4 hard part 2): micro + second
    * grain long timestamps, as used for idempotence anti-join keys.
    */
  def epochRoundtrip(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), col("ts_us"),
        expr("ts_us div 1000000").as("ts_sec"))

  val epochRoundtripOracle: String =
    """SELECT event_id, epoch_us(ts) AS ts_us, epoch_us(ts) // 1000000 AS ts_sec
      |FROM events""".stripMargin

  /** JSON field extraction from the wire-ish `props` column (E9). Regex-based
    * so the oracle needs no DuckDB JSON extension.
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long").as("k"))

  val jsonExtractOracle: String =
    """SELECT event_id,
      |  CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
      |FROM events""".stripMargin

  /** Regex predicate (P6/E13): documents matching a pattern, counted per lang. */
  def regexFilter(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("text").rlike("window\\s+table"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))

  val regexFilterOracle: String =
    """SELECT lang, COUNT(*) AS n_docs FROM documents
      |WHERE regexp_matches(text, 'window\s+table')
      |GROUP BY lang""".stripMargin

  /** Coalesce-with-default (E15, consumer_prices.py:63's missing-interval
    * default) expressed over events.
    */
  def coalesceDefault(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        coalesce(nullif(col("event_type"), lit("error")), lit("unknown")).as("etype"))

  val coalesceDefaultOracle: String =
    """SELECT event_id,
      |  COALESCE(NULLIF(event_type, 'error'), 'unknown') AS etype
      |FROM events""".stripMargin

  /** AS-OF join (SURVEY §2.4 extension): every click gets the latest
    * preceding purchase of the same user. One shuffle via the union-and-
    * carry-forward rewrite; the oracle ([[asofOracle]]) is a LATERAL
    * top-1 lookup — two independent formulations of the same semantics.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("user_id", "event_id", "ts_us", "value", "event_type")
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
    Joins.asOfJoin(clicks, purchases, Seq("user_id"), "ts_us", "ts_us",
        rightVals = Seq("value", "event_id"), tiebreak = "event_id")
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("asof_value"), col("asof_event_id"))
  }

  /** The shared oracle for both the union-rewrite (q_asof_join) and the
    * native-exec (q_asof_native) formulations. LATERAL with an explicit
    * (ts_us DESC, event_id DESC) tiebreak — the same shape the forward
    * oracle always had — instead of DuckDB's built-in ASOF JOIN, which
    * picks an ARBITRARY row among same-(key, ts) ties (round-13 fix): the
    * engine pins ties to the greatest event_id, so the built-in form could
    * flake the gate on any fixture with duplicate per-user timestamps.
    */
  val asofOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value, event_type FROM events
      |), l AS (SELECT * FROM e WHERE event_type = 'click'),
      |   r AS (SELECT * FROM e WHERE event_type = 'purchase')
      |SELECT l.user_id, l.event_id, l.ts_us,
      |  prv.value AS asof_value, prv.event_id AS asof_event_id
      |FROM l LEFT JOIN LATERAL (
      |  SELECT r.value, r.event_id FROM r
      |  WHERE r.user_id = l.user_id AND r.ts_us <= l.ts_us
      |  ORDER BY r.ts_us DESC, r.event_id DESC LIMIT 1
      |) prv ON TRUE""".stripMargin

  /** Distinct aggregates (absent from the reference; table stakes for an
    * analytics engine).
    */
  def distinctAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  val distinctAggOracle: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      |FROM events GROUP BY event_type""".stripMargin

  /** ROLLUP grouping sets with exact decimal sums. */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))

  val rollupAggOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** Exact interpolated percentiles (Spark `percentile` and DuckDB
    * `quantile_cont` share the linear-interpolation definition).
    */
  def percentileAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      // one percentile buffer for all three quantiles (three separate
      // aggregates would each collect the full column - measured 3.5s -> ~1s)
      .agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("ps"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 6).as("p50"),
        round(element_at(col("ps"), 2), 6).as("p90"),
        round(element_at(col("ps"), 3), 6).as("p99"))

  val percentileAggOracle: String =
    """SELECT l_returnflag,
      |  ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
      |  ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
      |  ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Range (interval containment) join: events falling inside each of the
    * first 20 users' opening 2-hour windows ([min ts_us, min ts_us + 2h)),
    * counted per window owner. (Round-13 doc fix: an earlier draft of this
    * query ranged over order weeks; the gated semantics are the event
    * windows below.) The join is a BroadcastNestedLoopJoin at this dim
    * size; at scale, bucketing by coarse time bands turns it into an
    * equi-join prefilter (documented in Scale, exercised by
    * q_binned_range_join).
    */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("ts_us"), col("user_id"))
    val intervals = ev.filter(col("user_id") < 20)
      .groupBy(col("user_id").as("window_user"))
      .agg(min(col("ts_us")).as("start_us"))
      .withColumn("end_us", col("start_us") + lit(2L * 3600000000L))
    ev.join(broadcast(intervals),
        col("ts_us") >= col("start_us") && col("ts_us") < col("end_us"))
      .groupBy("window_user")
      .agg(count(lit(1)).as("n_events"))
  }

  val rangeJoinOracle: String =
    """WITH iv AS (
      |  SELECT user_id AS window_user, MIN(epoch_us(ts)) AS start_us
      |  FROM events WHERE user_id < 20 GROUP BY 1
      |)
      |SELECT window_user, COUNT(*) AS n_events
      |FROM events e JOIN iv
      |  ON epoch_us(e.ts) >= iv.start_us
      | AND epoch_us(e.ts) < iv.start_us + 7200000000
      |GROUP BY window_user""".stripMargin

  /** INTERSECT / EXCEPT set semantics (absent from the reference): customer
    * nations present among top-balance customers but absent among
    * negative-balance ones.
    */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val rich = cust.filter(col("c_acctbal") > 9900).select("c_nationkey")
    val poor = cust.filter(col("c_acctbal") < -900).select("c_nationkey")
    val all = cust.select("c_nationkey")
    rich.intersect(all) // distinct intersect (no-op set, exercises the op)
      .except(poor) // distinct except
      .withColumnRenamed("c_nationkey", "nationkey")
  }

  val setOpsOracle: String =
    """SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9900
      |INTERSECT
      |SELECT c_nationkey FROM customer
      |EXCEPT
      |SELECT c_nationkey FROM customer WHERE c_acctbal < -900""".stripMargin

  /** Higher-order array functions over embeddings: per-vector stats via
    * transform/filter/aggregate (the HOF surface as such — the hot paths use
    * the codegen'd expressions instead).
    */
  def vectorStats(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(
      col("vec_id"),
      round(aggregate(transform(col("embedding"), x => x.cast("double")),
        lit(0.0), (a, x) => a + x), 6).as("sum"),
      round(array_max(col("embedding")).cast("double"), 6).as("mx"),
      size(filter(col("embedding"), x => x > 0)).as("n_pos"))

  val vectorStatsOracle: String =
    """SELECT vec_id,
      |  ROUND(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS sum,
      |  ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS mx,
      |  len(list_filter(embedding, x -> x > 0)) AS n_pos
      |FROM embeddings""".stripMargin

  /** Pivot (wide conditional aggregation), null-filled to match COUNT(CASE). */
  def pivotAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .count()
      .na.fill(0L)

  val pivotAggOracle: String =
    """SELECT user_id,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
      |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
      |FROM events GROUP BY user_id""".stripMargin
}
