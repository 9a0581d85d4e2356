package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Round-4 extension batch: multi-way analytical joins (TPC-H shapes Q3/Q5/
  * Q10 — the join-reorder/broadcast-planning showcase the reference's single
  * star join never exercises), product-analytics operators (funnel, event
  * sequences, cohort retention, rolling distinct), time-series gap filling,
  * null-safe joins, a correlation matrix, a repetition-based text-quality
  * filter (the Gopher-style rule for training-data hygiene), and a two-stage
  * reduced-dimension ANN rerank.
  *
  * Reference tie-in: the reference computes indicators over a star schema
  * (`dags/spark_job_1.py:18-96`) but has no multi-fact analytics; these are
  * the queries its MySQL/Grafana tier would need the engine to answer at
  * 100 TB.
  */
object Ext9Queries {

  private def revenue =
    sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast(DecimalType(18, 4))).cast("double")

  /** TPC-H Q3 shape (shipping priority): selective dim filter broadcast into
    * a fact-fact shuffle join on the order key, exact decimal revenue, global
    * top-10. Scale: customer-filter is broadcast (segment cut ~1/5 of a dim
    * table); orders⋈lineitem shuffles on l_orderkey only — one wide exchange;
    * top-10 is a TakeOrderedAndProject (no full sort at any executor).
    */
  def tpchQ3(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > lit("1998-07-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(revenue.as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
  }

  val tpchQ3Oracle: String =
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  strftime(o_orderdate, '%Y-%m-%d') AS odate
      |FROM customer JOIN orders ON c_custkey=o_custkey
      |  JOIN lineitem ON l_orderkey=o_orderkey
      |WHERE c_mktsegment='BUILDING' AND o_orderdate < TIMESTAMP '1998-07-01'
      |  AND l_shipdate > TIMESTAMP '1998-07-01'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5 shape (local supplier volume): five-way join where every
    * dimension side is broadcast and the only shuffle is orders⋈lineitem.
    * The c_nationkey=s_nationkey residual rides on the broadcast customer
    * join — no extra exchange for the nation co-location predicate.
    */
  def tpchQ5(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    o.join(l, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(revenue.as("revenue"))
      .orderBy(col("revenue").desc)
  }

  val tpchQ5Oracle: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey=o_custkey
      |  JOIN lineitem ON l_orderkey=o_orderkey
      |  JOIN supplier ON l_suppkey=s_suppkey AND c_nationkey=s_nationkey
      |  JOIN nation ON s_nationkey=n_nationkey
      |  JOIN region ON n_regionkey=r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name""".stripMargin

  /** TPC-H Q10 shape (returned-item reporting): time-sliced orders joined to
    * returned lineitems, customer + nation broadcast in, top-20 customers by
    * lost revenue. The group-by keys include the customer attributes — at
    * scale the aggregate keys stay ~|customer| wide, dominated by the
    * fact-fact shuffle, and the top-20 is again sort-free.
    */
  def tpchQ10(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val c = Tables.customer(s, dir).select("c_custkey", "c_name", "c_nationkey")
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
    o.join(l, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(revenue.as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val tpchQ10Oracle: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey=o_custkey
      |  JOIN lineitem ON l_orderkey=o_orderkey
      |  JOIN nation ON c_nationkey=n_nationkey
      |WHERE l_returnflag='R' AND o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-07-01'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** TPC-H Q18 shape (large-volume customer): the group-HAVING semi join —
    * lineitem re-aggregated per order, the qualifying order-key set
    * semi-joined back into the orders⋈lineitem⋈customer star, then a
    * second aggregation over the joined rows. Scale: the HAVING aggregate
    * and the fact-fact join both shuffle on l_orderkey/o_orderkey — AQE
    * reuses the partitioning; customer rides in broadcast; top-100 is a
    * TakeOrderedAndProject. Quantity sums are exact DECIMAL (double
    * addition is partition-order-sensitive).
    */
  def tpchQ18(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
    val big = l.groupBy(col("l_orderkey").as("bk"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("oq"))
      .filter(col("oq") > 250)
    val o = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .join(big, col("o_orderkey") === col("bk"), "left_semi")
    val c = Tables.customer(s, dir).select("c_custkey", "c_name")
    o.join(l, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        col("o_totalprice"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2)))
        .cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val tpchQ18Oracle: String =
    """SELECT c_name, c_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS odate, o_totalprice,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem GROUP BY 1
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the
    * double-correlated EXISTS / NOT EXISTS topology — a late lineitem
    * qualifies when ANOTHER supplier shipped in the same order (semi join)
    * and NO other supplier was also late (anti join). The synthetic
    * lineitem has no commit/receipt dates, so "late" adapts to
    * l_shipdate > o_orderdate + 90 days; the join topology is the
    * reference shape verbatim. Scale: semi and anti both shuffle on
    * l_orderkey — the same key as the late-line build, so the exchanges
    * co-locate; supplier and the nation filter broadcast; final top-100 is
    * sort-free.
    */
  def tpchQ21(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
    val o = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val late = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select("l_orderkey", "l_suppkey")
    val otherSupp = l.select(col("l_orderkey").as("lo2"), col("l_suppkey").as("ls2"))
    val otherLate = late.select(col("l_orderkey").as("lo3"), col("l_suppkey").as("ls3"))
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_name", "s_nationkey")
    val nat = Tables.nation(s, dir)
      .filter(col("n_nationkey") < 13).select("n_nationkey")
    late
      .join(otherSupp,
        col("l_orderkey") === col("lo2") && col("l_suppkey") =!= col("ls2"),
        "left_semi")
      .join(otherLate,
        col("l_orderkey") === col("lo3") && col("l_suppkey") =!= col("ls3"),
        "left_anti")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy("s_name").agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  val tpchQ21Oracle: String =
    """WITH l AS (SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem),
      |o AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
      |late AS (
      |  SELECT l.l_orderkey, l.l_suppkey FROM l JOIN o ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      |)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_nationkey < 13
      |  AND EXISTS (SELECT 1 FROM l l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM late l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey)
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin

  /** TPC-H Q17 shape (small-quantity-order revenue): the correlated scalar
    * subquery topology — each lineitem compares against ITS part's average
    * quantity. Written as literal correlated SQL so Catalyst's decorrelation
    * does the rewrite (subquery → per-part aggregate + join) instead of
    * hand-building it; the synthetic part table has no p_container, so the
    * predicate adapts to p_size < 11 and grouping by p_brand keeps the
    * output non-degenerate at sf0.001. Revenue sums are exact DECIMAL
    * before the final double division; the 0.2·avg threshold is
    * deterministic across engines because integer-valued double quantities
    * sum exactly (< 2^53). Scale: the decorrelated aggregate shuffles
    * lineitem on l_partkey once and joins back on the same key; part
    * rides in broadcast.
    */
  def tpchQ17(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_q17")
    Tables.part(s, dir).createOrReplaceTempView("part_q17")
    s.sql(
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |    AS avg_yearly
        |FROM lineitem_q17 JOIN part_q17 ON p_partkey = l_partkey
        |WHERE p_size < 11
        |  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
        |                    FROM lineitem_q17 l2
        |                    WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_brand""".stripMargin)
  }

  val tpchQ17Oracle: String =
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
      |    AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_size < 11
      |  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
      |                    FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)
      |GROUP BY p_brand""".stripMargin

  /** Conversion funnel with a per-stage time budget (first view → click
    * within 6h → purchase within 6h): staged min-timestamp aggregations,
    * each stage a semi-join against the previous. Each stage is one shuffle
    * on user_id, and all three reuse the same key — co-partitioned under AQE.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events_fnl")
    s.sql(
      """WITH e AS (SELECT user_id, event_type, ts_us FROM events_fnl),
        |s1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM e
        |       WHERE event_type='view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(ts_us) AS t2 FROM e JOIN s1 ON e.user_id=s1.user_id
        |       WHERE event_type='click' AND ts_us > t1
        |         AND ts_us <= t1 + 21600000000 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(ts_us) AS t3 FROM e JOIN s2 ON e.user_id=s2.user_id
        |       WHERE event_type='purchase' AND ts_us > t2
        |         AND ts_us <= t2 + 21600000000 GROUP BY e.user_id)
        |SELECT 'view' AS stage, COUNT(*) AS n_users FROM s1
        |UNION ALL SELECT 'view_click', COUNT(*) FROM s2
        |UNION ALL SELECT 'view_click_purchase', COUNT(*) FROM s3""".stripMargin)
  }

  val funnelOracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |s1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM e
      |       WHERE event_type='view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(ts_us) AS t2 FROM e JOIN s1 ON e.user_id=s1.user_id
      |       WHERE event_type='click' AND ts_us > t1
      |         AND ts_us <= t1 + 21600000000 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(ts_us) AS t3 FROM e JOIN s2 ON e.user_id=s2.user_id
      |       WHERE event_type='purchase' AND ts_us > t2
      |         AND ts_us <= t2 + 21600000000 GROUP BY e.user_id)
      |SELECT 'view' AS stage, COUNT(*) AS n_users FROM s1
      |UNION ALL SELECT 'view_click', COUNT(*) FROM s2
      |UNION ALL SELECT 'view_click_purchase', COUNT(*) FROM s3""".stripMargin

  /** Ordered per-user event-sequence string + regex pattern detection
    * ("viewed, later clicked, later purchased"). The ordered aggregation is
    * array_sort(collect_list(struct(...))) — deterministic regardless of
    * partitioning (sort happens AFTER collection, inside one row), the
    * standard trick for order-sensitive aggs on an unordered shuffle.
    */
  def eventSequence(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        substring(col("event_type"), 1, 1).as("ini"))
      .groupBy("user_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("ini")))),
          x => x.getField("ini")),
        "").as("seq"))
      .withColumn("hit", col("seq").rlike("v.*c.*p"))

  val eventSequenceOracle: String =
    """WITH s AS (
      |  SELECT user_id,
      |    string_agg(substr(event_type,1,1), '' ORDER BY epoch_us(ts), event_id) AS seq
      |  FROM events GROUP BY user_id
      |)
      |SELECT user_id, seq, regexp_matches(seq, 'v.*c.*p') AS hit FROM s""".stripMargin

  /** Cohort retention: users cohorted by first-purchase day, activity =
    * purchase days, offset in whole weeks. Two shuffles on user_id (first-day
    * agg + self-join) then one on the small (cohort, offset) pair — the
    * cohort matrix is |days|x|weeks| rows regardless of corpus size.
    */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(timestamp_micros(col("ts_us"))).as("day"))
      .distinct()
    val fs = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.join(fs, Seq("user_id"))
      .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        floor(datediff(col("day"), col("cohort_day")) / 7).as("offset_w"))
      .agg(countDistinct("user_id").as("n_users"))
  }

  val cohortRetentionOracle: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |  FROM events WHERE event_type='purchase'
      |), fs AS (
      |  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id
      |)
      |SELECT strftime(fs.cohort_day, '%Y-%m-%d') AS cohort_day,
      |  CAST((ev.day - fs.cohort_day) // 7 AS BIGINT) AS offset_w,
      |  COUNT(DISTINCT ev.user_id) AS n_users
      |FROM ev JOIN fs ON ev.user_id=fs.user_id
      |GROUP BY 1, 2""".stripMargin

  /** Rolling 7-day distinct users per (event_type, day): the exact
    * formulation distincts (type, day, user) FIRST (collapsing the event
    * stream to at most |types|x|days|x|users| triples), then BINNED
    * range-joins the day spine: both sides carry a week bucket
    * (`unix_date div 7`), the spine explodes to its two candidate buckets
    * {w-1, w}, and the join key is (event_type, bucket) — candidate fan-out
    * is a constant 2x per triple instead of |days|x per type (the
    * q_binned_range_join pattern; the unbinned form re-scanned a year of
    * days per triple). The exact `datediff BETWEEN 0 AND 6` residual then
    * prunes candidates to the true window. The sketch path for unbounded
    * user domains is per-day HLL partials merged across the window
    * (q_rolling_hll shows that machinery).
    */
  def rollingDistinct(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.events(s, dir)
      .select(col("event_type"), to_date(timestamp_micros(col("ts_us"))).as("day"),
        col("user_id"))
      .distinct()
      .withColumn("bucket", floor(unix_date(col("day")) / 7))
    val days = pairs.select("event_type", "day").distinct()
      .withColumnRenamed("day", "d")
      .withColumn("bucket", explode(array(
        floor(unix_date(col("d")) / 7) - 1, floor(unix_date(col("d")) / 7))))
    days.join(pairs, Seq("event_type", "bucket"))
      .filter(datediff(col("d"), col("day")).between(0, 6))
      .groupBy(col("event_type"), date_format(col("d"), "yyyy-MM-dd").as("day"))
      .agg(countDistinct("user_id").as("n7"))
  }

  val rollingDistinctOracle: String =
    """WITH pairs AS (
      |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id FROM events
      |), days AS (
      |  SELECT DISTINCT event_type, day FROM pairs
      |)
      |SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
      |  COUNT(DISTINCT p.user_id) AS n7
      |FROM days d JOIN pairs p
      |  ON p.event_type=d.event_type AND p.day BETWEEN d.day-6 AND d.day
      |GROUP BY 1, 2""".stripMargin

  /** Per-user daily gap filling with linear interpolation: build each user's
    * day spine, carry the nearest non-null observation from both directions
    * (last/first IGNORE NULLS over one-sided frames), interpolate
    * proportionally. Edges clamp to the nearest real value. One shuffle on
    * user_id; frames never cross users.
    */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("user_id") < 30 && col("event_type") === "purchase")
      .groupBy(col("user_id"), to_date(timestamp_micros(col("ts_us"))).as("day"))
      .agg(round(sum(col("value").cast(DecimalType(18, 2))).cast("double"), 6).as("v"))
    val spine = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val back = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("v").isNotNull, col("day"))
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(back))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(fwd))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        round(
          when(col("v").isNotNull, col("v"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              (datediff(col("day"), col("pd")).cast("double") /
               datediff(col("nd"), col("pd")).cast("double"))),
          6).as("filled"),
        col("v").isNull.as("was_gap"))
  }

  val gapFillOracle: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS v
      |  FROM events WHERE user_id < 30 AND event_type = 'purchase'
      |  GROUP BY user_id, CAST(ts AS DATE)
      |), bounds AS (
      |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
      |), spine AS (
      |  SELECT b.user_id, CAST(gs.g AS DATE) AS day
      |  FROM bounds b, LATERAL (
      |    SELECT unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS g) gs
      |), j AS (
      |  SELECT s.user_id, s.day, d.v FROM spine s LEFT JOIN daily d
      |    ON s.user_id = d.user_id AND s.day = d.day
      |), f AS (
      |  SELECT user_id, day, v,
      |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
      |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      |  FROM j
      |)
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
      |  ROUND(CASE
      |    WHEN v IS NOT NULL THEN v
      |    WHEN pv IS NULL THEN nv
      |    WHEN nv IS NULL THEN pv
      |    ELSE pv + (nv - pv) * (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
      |  END, 6) AS filled,
      |  (v IS NULL) AS was_gap
      |FROM f""".stripMargin

  /** Null-safe equi-join (`<=>`): NULL keys match NULL keys, the join
    * semantics MERGE/dim-conform pipelines need for optional attributes.
    * Aggregate-then-join keeps the NULL bucket a single row per side —
    * the formulation that does NOT explode quadratically in the NULL group.
    */
  def nullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("k", nullif(col("user_id") % 7, lit(3)))
    val a = e.filter(col("event_id") % 2 === 0).groupBy("k")
      .agg(count(lit(1)).as("n_left")).withColumnRenamed("k", "ka")
    val b = e.filter(col("event_id") % 2 === 1).groupBy("k")
      .agg(count(lit(1)).as("n_right")).withColumnRenamed("k", "kb")
    a.join(b, col("ka") <=> col("kb"))
      .select(col("ka").as("k"), col("n_left"), col("n_right"),
        (col("n_left") * col("n_right")).as("n_pairs"))
  }

  val nullSafeJoinOracle: String =
    """WITH a AS (
      |  SELECT nullif(user_id % 7, 3) AS k, COUNT(*) AS n_left
      |  FROM events WHERE event_id % 2 = 0 GROUP BY 1
      |), b AS (
      |  SELECT nullif(user_id % 7, 3) AS k, COUNT(*) AS n_right
      |  FROM events WHERE event_id % 2 = 1 GROUP BY 1
      |)
      |SELECT a.k, a.n_left, b.n_right, a.n_left*b.n_right AS n_pairs
      |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k""".stripMargin

  /** Pairwise correlation matrix over lineitem measures, unpivoted to
    * (m1, m2, r) rows via stack(). One aggregation pass computes every
    * co-moment partial map-side; rounded to 6 (moment sums are
    * order-sensitive in the last ulps).
    */
  def corrMatrix(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price"),
        round(corr(col("l_quantity"), col("l_discount")), 6).as("qty_disc"),
        round(corr(col("l_extendedprice"), col("l_discount")), 6).as("price_disc"))
      .selectExpr(
        """stack(3,
          |  'l_quantity', 'l_extendedprice', qty_price,
          |  'l_quantity', 'l_discount', qty_disc,
          |  'l_extendedprice', 'l_discount', price_disc) AS (m1, m2, r)""".stripMargin)

  val corrMatrixOracle: String =
    """WITH c AS (SELECT
      |  ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price,
      |  ROUND(corr(l_quantity, l_discount), 6) AS qty_disc,
      |  ROUND(corr(l_extendedprice, l_discount), 6) AS price_disc
      |FROM lineitem)
      |SELECT 'l_quantity' AS m1, 'l_extendedprice' AS m2, qty_price AS r FROM c
      |UNION ALL SELECT 'l_quantity', 'l_discount', qty_disc FROM c
      |UNION ALL SELECT 'l_extendedprice', 'l_discount', price_disc FROM c""".stripMargin

  /** Repetition-based quality filter (the Gopher/C4-style hygiene rule):
    * type-token ratio and top-word share per document, thresholded into a
    * keep/drop flag. Word-level counts shuffle on (doc, word) then collapse
    * per doc — both aggregations are map-side-combinable.
    */
  def repetitionFilter(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    words.groupBy("doc_id")
      .agg(sum("cnt").as("n_words"), count(lit(1)).as("n_distinct"),
        max("cnt").as("top_cnt"),
        sum(length(col("w")) * col("cnt")).as("n_chars"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_words"), 6).as("ttr"),
        round(col("top_cnt").cast("double") / col("n_words"), 6).as("top_share"),
        round(col("n_chars").cast("double") / col("n_words"), 6).as("mean_wlen"),
        (col("n_distinct").cast("double") / col("n_words") >= 0.3 &&
         col("top_cnt").cast("double") / col("n_words") <= 0.1).as("pass"))
  }

  val repetitionFilterOracle: String =
    """WITH words AS (
      |  SELECT doc_id, w, COUNT(*) AS cnt FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY doc_id, w
      |), d AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words, COUNT(*) AS n_distinct,
      |    CAST(MAX(cnt) AS BIGINT) AS top_cnt,
      |    CAST(SUM(CAST(len(w)*cnt AS BIGINT)) AS BIGINT) AS n_chars
      |  FROM words GROUP BY doc_id
      |)
      |SELECT doc_id, n_words, n_distinct,
      |  ROUND(CAST(n_distinct AS DOUBLE)/n_words, 6) AS ttr,
      |  ROUND(CAST(top_cnt AS DOUBLE)/n_words, 6) AS top_share,
      |  ROUND(CAST(n_chars AS DOUBLE)/n_words, 6) AS mean_wlen,
      |  (CAST(n_distinct AS DOUBLE)/n_words >= 0.3
      |   AND CAST(top_cnt AS DOUBLE)/n_words <= 0.1) AS pass
      |FROM d""".stripMargin

  /** Two-stage ANN: an IVF probe over a 16-dim prefix slice generates the
    * candidate set (30 per query), exact full-dimension cosine reranks to
    * top-5. The scale pattern for memory-bound vector search composed from
    * the engine's own pieces: stage 1 IS [[graft.operators.Similarity.ivfTopK]]
    * on the prefix vectors (broadcast centroids, nprobe=2 buckets — per-query
    * work is ~nprobe/|centroids| of the corpus, and the coarse bytes touched
    * are 1/4 of each vector), stage 2 rejoins the full vectors for only the
    * 30 survivors. No all-pairs |Q|x|C| join anywhere — deterministic
    * end-to-end, so the whole approximate index is oracle-checkable.
    */
  def annRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val prefixed = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("pvec"))
    val coarse = graft.operators.Similarity.ivfTopK(
        queries = prefixed.filter(col("vec_id") < 20),
        corpus = prefixed,
        centroids = prefixed.filter(col("vec_id") < 10),
        "vec_id", "pvec", k = 30, nprobe = 2)
      .select(col("query_id"), col("neighbor_id"))
    val qv = emb.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cv = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val fineW = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    coarse
      .join(qv, Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .withColumn("cos", graft.operators.Similarity.cosine(col("qv"), col("cv")))
      // zero-norm (dead) vectors score NULL cosine and are non-neighbors —
      // the same round-13 filter bruteForceTopK/ivfTopK carry; without it
      // a query with < 5 finite candidates would emit NULL-cos filler rows
      .filter(col("cos").isNotNull)
      .withColumn("rn", row_number().over(fineW))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  import OracleSql.cosSql

  val annRerankOracle: String =
    s"""WITH cent AS (
       |  SELECT vec_id AS centroid_id, embedding[1:16] AS centv
       |  FROM embeddings WHERE vec_id < 10
       |), assign AS (
       |  SELECT e.vec_id AS neighbor_id, e.embedding[1:16] AS cp, c.centroid_id,
       |    ${cosSql("e.embedding[1:16]", "c.centv")} AS aff
       |  FROM embeddings e, cent c
       |  QUALIFY row_number() OVER (
       |    PARTITION BY e.vec_id ORDER BY aff DESC, c.centroid_id) = 1
       |), probes AS (
       |  SELECT q.vec_id AS query_id, q.embedding[1:16] AS qp, c.centroid_id,
       |    ${cosSql("q.embedding[1:16]", "c.centv")} AS caff
       |  FROM embeddings q, cent c WHERE q.vec_id < 20
       |  QUALIFY row_number() OVER (
       |    PARTITION BY q.vec_id ORDER BY caff DESC, c.centroid_id) <= 2
       |), coarse AS (
       |  SELECT p.query_id, a.neighbor_id,
       |    ${cosSql("p.qp", "a.cp")} AS coarse
       |  FROM probes p JOIN assign a USING (centroid_id)
       |  WHERE a.neighbor_id <> p.query_id
       |  QUALIFY row_number() OVER (
       |    PARTITION BY p.query_id ORDER BY coarse DESC, a.neighbor_id) <= 30
       |)
       |SELECT c.query_id, c.neighbor_id,
       |  ROUND(${cosSql("q.embedding", "e.embedding")}, 6) AS cos
       |FROM coarse c
       |JOIN embeddings q ON q.vec_id = c.query_id
       |JOIN embeddings e ON e.vec_id = c.neighbor_id
       |WHERE ${cosSql("q.embedding", "e.embedding")} IS NOT NULL
       |QUALIFY row_number() OVER (
       |  PARTITION BY c.query_id
       |  ORDER BY ${cosSql("q.embedding", "e.embedding")} DESC, c.neighbor_id) <= 5""".stripMargin

  /** TPC-H Q4 shape (order-priority checking): the EXISTS-decorrelated
    * left-semi join — orders in a quarter window that have at least one
    * "late" line (adapted predicate: shipped >60 days after order date;
    * the synthetic lineitem carries no commit/receipt dates — same
    * adaptation as Q21), counted per priority class. Scale: one semi-join
    * shuffle on the order key, integer-exact counts, 5-row result.
    */
  def tpchQ4(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
    o.join(l,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val tpchQ4Oracle: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-04-01'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q12 shape (shipping-mode priority split): fact-fact join with a
    * conditional two-class aggregate — high/low priority line counts per
    * class over a one-year ship window. The synthetic lineitem has no
    * l_shipmode, so the class column adapts to l_returnflag; counts stay
    * integer-exact. Scale: one shuffle on the order key, partial
    * aggregation on both classes before it.
    */
  def tpchQ12(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_returnflag")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag").as("ship_class"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("ship_class"))
  }

  val tpchQ12Oracle: String =
    """SELECT l_returnflag AS ship_class,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY l_returnflag
      |ORDER BY ship_class""".stripMargin

  /** TPC-H Q22 shape (global sales opportunity): scalar-subquery threshold +
    * anti join — rich customers (balance above the positive-balance mean of
    * their cohort) with no RECENT orders (none on/after 1999-01-01 — the
    * original's "no orders in 7 years" flavor; the synthetic corpus has no
    * orderless customers at all), grouped by country. The synthetic
    * customer has no phone, so "country code" adapts to c_nationkey over a
    * 7-nation cohort. The mean is DECIMAL-staged (exact sum, one double
    * division) so the threshold compare is deterministic; balance totals
    * are DECIMAL-exact. Scale: threshold broadcast (1 row), anti join
    * shuffles on custkey with the date predicate pushed into the build-side
    * scan, 7-row result.
    */
  def tpchQ22(s: SparkSession, dir: String): DataFrame = {
    val cohort = Tables.customer(s, dir)
      .filter(col("c_nationkey") < 7)
      .select(col("c_custkey"), col("c_nationkey"),
        col("c_acctbal").cast(DecimalType(18, 2)).as("bal"))
    val thr = cohort.filter(col("bal") > 0)
      .agg((sum(col("bal")).cast("double") / count(lit(1))).as("thr"))
    val rich = cohort.crossJoin(broadcast(thr))
      .filter(col("bal").cast("double") > col("thr"))
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    rich.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("bal")).cast("double").as("totacctbal"))
      .orderBy(col("cntrycode"))
  }

  val tpchQ22Oracle: String =
    """WITH cohort AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      |  FROM customer WHERE c_nationkey < 7
      |), thr AS (
      |  SELECT CAST(SUM(bal) AS DOUBLE) / COUNT(*) AS thr
      |  FROM cohort WHERE bal > 0
      |)
      |SELECT c_nationkey AS cntrycode,
      |  CAST(COUNT(*) AS BIGINT) AS numcust,
      |  CAST(SUM(bal) AS DOUBLE) AS totacctbal
      |FROM cohort CROSS JOIN thr
      |WHERE CAST(bal AS DOUBLE) > thr
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |      AND o_orderdate >= TIMESTAMP '1999-01-01')
      |GROUP BY c_nationkey
      |ORDER BY cntrycode""".stripMargin
}
