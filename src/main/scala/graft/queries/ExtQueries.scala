package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Joins, Scale}
import graft.sources.Tables

/** Round-2 coverage widening past the reference surface: CUBE grouping sets,
  * the full ranking-function family, time-RANGE window frames, date
  * arithmetic, edit-distance fuzzy matching, sketch-prefiltered heavy
  * hitters, approximate-distinct tolerance gating, forward AS-OF, salted
  * aggregation parity, streaming dedup drain, and UNPIVOT. Every query is
  * DuckDB-oracled; the scale-hygiene entries (salted agg, heavy hitters)
  * gate the exact-composition property the 100 TB posture relies on.
  */
object ExtQueries {

  // --- CUBE / grouping sets --------------------------------------------------

  /** CUBE over (returnflag, linestatus) with grouping_id — all four grouping
    * sets in one shuffle (complement of q_rollup). Decimal sums keep the
    * aggregate order-insensitive for the hash gate.
    */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"),
        grouping_id().as("gid"))

  val cubeOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n,
      |  GROUPING(l_returnflag, l_linestatus) AS gid
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  // --- ranking window functions ----------------------------------------------

  /** The ranking-function family the reference never uses (SURVEY §2.6 notes
    * their absence): rank / dense_rank share tie semantics, ntile and
    * row_number get a unique tiebreaker, cume_dist is tie-aware.
    */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val byValue = Window.partitionBy("event_type").orderBy(col("value"))
    val det = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    Tables.events(s, dir)
      .filter(col("user_id") < 20)
      .select(
        col("event_id"), col("event_type"),
        rank().over(byValue).as("rk"),
        dense_rank().over(byValue).as("drk"),
        row_number().over(det).as("rn"),
        ntile(4).over(det).as("quartile"),
        round(cume_dist().over(byValue), 6).as("cd"))
  }

  val windowRankOracle: String =
    """SELECT event_id, event_type,
      |  rank() OVER bv AS rk,
      |  dense_rank() OVER bv AS drk,
      |  row_number() OVER det AS rn,
      |  ntile(4) OVER det AS quartile,
      |  ROUND(cume_dist() OVER bv, 6) AS cd
      |FROM events WHERE user_id < 20
      |WINDOW bv AS (PARTITION BY event_type ORDER BY value),
      |       det AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin

  // --- RANGE window frame ----------------------------------------------------

  /** Trailing-1h sliding sum per user via a time-RANGE frame (value-based
    * frame bounds — the reference only ever uses ROWS frames). Peer rows at
    * the same timestamp are all included, so the result is deterministic
    * without a tiebreaker.
    */
  def rangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, 0L)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("trail_1h_sum"))
  }

  val rangeFrameOracle: String =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS trail_1h_sum
      |FROM events""".stripMargin

  // --- date arithmetic -------------------------------------------------------

  /** Date arithmetic over order dates (the E-family extension: truncation,
    * clamped month addition, month-end, day diffs, day-of-week). Dates leave
    * as ISO strings — both engines render DATE identically.
    */
  def dateArith(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
      .select(
        col("o_orderkey"),
        col("d").cast("string").as("order_date"),
        trunc(col("d"), "month").cast("string").as("month_start"),
        add_months(col("d"), 3).cast("string").as("plus_3m"),
        last_day(col("d")).cast("string").as("month_end"),
        datediff(lit("1998-12-01").cast("date"), col("d")).as("days_to_cutoff"),
        (dayofweek(col("d")) - 1).as("dow"))

  val dateArithOracle: String =
    """SELECT o_orderkey,
      |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
      |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_start,
      |  CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS plus_3m,
      |  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
      |  datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01') AS days_to_cutoff,
      |  dayofweek(CAST(o_orderdate AS DATE)) AS dow
      |FROM orders""".stripMargin

  // --- fuzzy matching --------------------------------------------------------

  /** Edit-distance fuzzy matching over part names (near-dup detection for
    * short strings where shingling degenerates). Bounded self-join on a
    * key prefix: at scale the same operator runs behind a blocking key
    * (length bucket / first token) instead of the id bound.
    */
  def fuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).filter(col("p_partkey") < 200)
      .select(col("p_partkey"), col("p_name"))
    p.as("a").join(p.as("b"), col("a.p_partkey") < col("b.p_partkey"))
      .select(
        col("a.p_partkey").as("id_1"), col("b.p_partkey").as("id_2"),
        levenshtein(col("a.p_name"), col("b.p_name")).as("dist"))
      .filter(col("dist") <= 5)
  }

  val fuzzyMatchOracle: String =
    """SELECT a.p_partkey AS id_1, b.p_partkey AS id_2,
      |  levenshtein(a.p_name, b.p_name) AS dist
      |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
      |WHERE a.p_partkey < 200 AND b.p_partkey < 200
      |  AND levenshtein(a.p_name, b.p_name) <= 5""".stripMargin

  // --- sketch-prefiltered heavy hitters --------------------------------------

  /** Heavy-hitter terms via Count-Min Sketch prefilter + exact verify: the
    * sketch (one aggregate, fixed 64 KB state) proposes candidates — CMS
    * never under-counts, so no true heavy hitter is missed — and an exact
    * count over the candidate set makes the output equal the exact
    * GROUP BY ... HAVING. At 100 TB the candidate set is orders of magnitude
    * smaller than the vocabulary, which is the point of the sketch tier.
    */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val total = toks.count()
    val threshold = math.max(2L, total / 500) // 0.2% of the stream
    val agg = new graft.functions.CountMinSketchAgg()
    val sketch = toks.as[String].select(agg.toColumn).head()
    val bcSketch = s.sparkContext.broadcast(sketch)
    val estimateUdf = udf((t: String) => agg.estimate(bcSketch.value, t))
    val candidates = toks.distinct()
      .filter(estimateUdf(col("term")) >= threshold)
    toks.join(broadcast(candidates), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
  }

  val heavyHittersOracle: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
      |), nz AS (SELECT term FROM toks WHERE term <> ''),
      |tot AS (SELECT GREATEST(2, COUNT(*) // 500) AS threshold FROM nz)
      |SELECT term, COUNT(*) AS n FROM nz GROUP BY term
      |HAVING COUNT(*) >= (SELECT threshold FROM tot)""".stripMargin

  // --- approximate distinct with tolerance gate ------------------------------

  /** HyperLogLog++ distinct counts gated against the exact answer: the query
    * emits the exact count plus a within-5%-relative-error flag for the
    * approximation; the oracle asserts the flag is 1 for every group. A
    * broken sketch (collapsed registers, bad hashing) fails the hash gate
    * even though the approximation itself is not bit-comparable.
    */
  def approxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")) <=
          col("n_exact") * 0.05).cast("int").as("within_5pct"))

  val approxDistinctOracle: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, 1 AS within_5pct
      |FROM events GROUP BY event_type""".stripMargin

  // --- forward AS-OF ---------------------------------------------------------

  /** Forward AS-OF: every click gets the EARLIEST same-user purchase at or
    * after it. The oracle is an independent formulation (DuckDB lateral
    * top-1 subquery) of the same semantics.
    */
  def asofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("user_id", "event_id", "ts_us", "value", "event_type")
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
    Joins.asOfJoinForward(clicks, purchases, Seq("user_id"), "ts_us", "ts_us",
        rightVals = Seq("value", "event_id"), tiebreak = "event_id")
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("next_value"), col("next_event_id"))
  }

  val asofForwardOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value, event_type FROM events
      |), l AS (SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'click'),
      |   r AS (SELECT user_id, event_id, ts_us, value FROM e WHERE event_type = 'purchase')
      |SELECT l.user_id, l.event_id, l.ts_us,
      |  nxt.value AS next_value, nxt.event_id AS next_event_id
      |FROM l LEFT JOIN LATERAL (
      |  SELECT r.value, r.event_id FROM r
      |  WHERE r.user_id = l.user_id AND r.ts_us >= l.ts_us
      |  ORDER BY r.ts_us, r.event_id LIMIT 1
      |) nxt ON TRUE""".stripMargin

  /** The same backward AS-OF as q_asof_join, but planned through the NATIVE
    * operator (custom LogicalPlan -> SparkStrategy -> sort-merge exec) —
    * three independent formulations of one semantics now gate each other:
    * the union-rewrite, this exec node, and DuckDB's built-in ASOF JOIN.
    */
  def asofNative(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("user_id", "event_id", "ts_us", "value", "event_type")
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
    graft.plans.AsOfJoinNative.join(clicks, purchases, Seq("user_id"),
        "ts_us", "ts_us", rightVals = Seq("value", "event_id"), tiebreak = "event_id")
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("asof_value"), col("asof_event_id"))
  }

  // --- salted aggregation parity ---------------------------------------------

  /** Two-phase salted aggregation == plain aggregation: the skew-mitigation
    * rewrite (partial on (key, salt), final on key) must be invisible in the
    * result. Decimal sums make the composition exact, so the oracle is the
    * plain GROUP BY.
    */
  def saltedAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("v", col("value").cast(DecimalType(18, 2)))
    Scale.saltedSumCount(ev, Seq("event_type"), "v", saltSrc = "event_id", salts = 8)
      .select(col("event_type"), col("sum_v").cast("double").as("sum_value"), col("n"))
  }

  val saltedAggOracle: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  // --- streaming dedup drain -------------------------------------------------

  /** Streaming watermarked dedup (T3/T4) drained with AvailableNow equals
    * batch DISTINCT: the whole landing zone replays as a stream through
    * dropDuplicatesWithinWatermark and the surviving key set must be exactly
    * the batch-distinct key set.
    */
  def streamDedup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Drain.toMemory(s, "stream_dedup",
        graft.streaming.DrainWidth.forPath(s, s"$dir/events.parquet"), "append") { ss =>
      StreamQueries.eventsStream(ss, dir)
        .withWatermark("ts_t", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
    }

  val streamDedupOracle: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  // --- DataSourceV2 kline landing zone ---------------------------------------

  /** The S1 scale path end-to-end: stage the captured wire fixtures as a
    * `<symbol>-<interval>.jsonl` landing zone, scan it through the custom
    * DataSourceV2 (`graft-klines`: partition-per-key, filter pushdown =
    * partition pruning), decode with the production codec, and emit the
    * q_parse_prices shape — so the DSv2 read path is held to the same DuckDB
    * oracle as the literal-fixture decode.
    */
  def sourceV2(s: SparkSession, dir: String): DataFrame = {
    val staged = graft.util.TempDirs.create("graft-klines-zone")
    // key extraction mirrors the producer's "SYMBOL-interval" message key
    // (producer_prices.py:38,63), interval defaulting to 1h like E15
    WireQueries.priceFixtures.groupBy { f =>
      val sym = "\"symbol\":\"([A-Z]+)\"".r.findFirstMatchIn(f).get.group(1)
      val itv = "\"interval\":\"([a-z0-9]+)\"".r.findFirstMatchIn(f)
        .map(_.group(1)).getOrElse("1h")
      s"$sym-$itv"
    }.foreach { case (key, msgs) =>
      val p = staged.resolve(s"$key.jsonl")
      java.nio.file.Files.write(p, msgs.mkString("\n").getBytes("UTF-8"))
    }
    val raw = s.read.format("graft-klines")
      .option("path", staged.toString).load()
    graft.sources.KafkaJson.parsePrices(raw.select(col("value")))
      .select(
        col("symbol"), col("interval"),
        unix_timestamp(col("open_time")).as("open_sec"),
        unix_timestamp(col("close_time")).as("close_sec"),
        col("open_price").cast("string").as("open_price"),
        col("close_price").cast("string").as("close_price"),
        col("volume").cast("string").as("volume"))
  }

  // oracle: identical to q_parse_prices — same fixtures, same decode contract
  val sourceV2Oracle: String = WireQueries.parsePricesOracle

  // --- UNPIVOT ---------------------------------------------------------------

  /** Wide-to-long unpivot of the lineitem measures (the inverse of q_pivot).
    * The oracle is the portable UNION ALL formulation.
    */
  def unpivotMetrics(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") < 100)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "val")

  val unpivotOracle: String =
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
      |FROM lineitem WHERE l_orderkey < 100
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      |FROM lineitem WHERE l_orderkey < 100
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      |FROM lineitem WHERE l_orderkey < 100""".stripMargin
}
