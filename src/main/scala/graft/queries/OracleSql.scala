package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.sources.Tables

/** Sub-queries shared across query modules, each defined once for both
  * engines: the Spark form a query runs and the DuckDB form its oracle runs.
  * Round 13 found three private copies of the cosine fragment that had
  * already drifted apart; one definition keeps every replay contract
  * auditable in one place, and a fix reaches every query that uses it.
  *
  * Fragments:
  *   - [[cosSql]] (DuckDB): the sequential double cosine; [[dotCosSql]]
  *     the `list_dot_product` one.
  *   - [[shingleCtes]] (DuckDB): `tok`/`sh`/`ds`, each doc's distinct word
  *     n-gram shingles; [[overlapCtes]] adds `sizes`/`inter` (shared
  *     3-shingle counts per doc pair) and [[jaccardCtes]] adds `pairs`, the
  *     exact-Jaccard pair set.
  *   - [[langScores]]/[[langBest]]/[[langPredicted]] and
  *     [[qualityInputs]]/[[qualityScore]] (DuckDB): the replays of
  *     [[TextAnalysis.langId]] and [[TextAnalysis.qualityScore]].
  *   - [[bars]] (both, by [[Dialect]]): the `h`/`w`/`bars` chain of OHLC
  *     bars per event type and hour (or day); [[barsQ]] and [[retsQ]] put
  *     a body after it, [[sparkQ]] runs the Spark rendering.
  *   - [[tradeEdges]] (Spark) and [[tradeEdgesSql]] (DuckDB): the nation
  *     trade-flow edge list.
  *
  * MATERIALIZED rule: DuckDB inlines a plain CTE at every reference, so a
  * CTE whose body is the expensive part and that is read more than once
  * must be `AS MATERIALIZED`. [[tradeEdgesSql]] always materializes `pw`
  * (the 4-table lineitem join, read twice by `e`) and `e` (read by every
  * consumer); the recursive-fold oracles materialize `bars` through
  * `barsCte(..., materialized = true)`. Un-materialized, these took more
  * than 180 s at sf0.1 (0.1 s materialized); QueriesSmokeSpec's
  * slow-oracle test pins each one.
  *
  * A fragment spans whole lines and no line starts with `|`, so it can be
  * interpolated into a `stripMargin` string.
  */
private[queries] object OracleSql {

  /** Sequential double-precision cosine over two DuckDB list expressions —
    * the exact arithmetic order of [[graft.functions.CosineSimilarity]]
    * (left-to-right accumulation, dot / (sqrt·sqrt)). A zero-norm side
    * divides 0.0/0.0, which DuckDB evaluates to NULL — the same dead-vector
    * convention as the native expression, so consumers must carry an
    * explicit `IS NOT NULL` guard wherever the Spark side filters
    * `cos.isNotNull` (the top-k rankers do).
    */
  def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(range(1, len($a) + 1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform(range(1, len($a) + 1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       |   * sqrt(list_sum(list_transform(range(1, len($b) + 1),
       |      i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))""".stripMargin

  /** Cosine over DuckDB's `list_dot_product`, whose summation order is
    * DuckDB's own rather than the sequential order of [[cosSql]]. */
  def dotCosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / sqrt(list_dot_product($a, $a) * list_dot_product($b, $b))"

  // --- word shingles (DuckDB) ------------------------------------------------

  /** `tok` (one row per space-split token with its position), `sh` (the
    * n-token shingle starting at each position, full windows only) and
    * `ds` (distinct (doc_id, s) postings) over `documents` — the replay of
    * [[graft.operators.Dedup.shinglePostings]]. Rendered without the
    * leading WITH so it can follow or precede other CTEs.
    */
  def shingleCtes(n: Int): String = {
    require(n >= 2, s"shingle width $n < 2")
    val terms = "w" +: (1 until n).map(k => s"lead(w, $k) OVER win")
    val concat = (terms.take(3) +: terms.drop(3).grouped(2).toSeq)
      .map(_.mkString(" || ' ' || ")).mkString(" || ' ' ||\n      ")
    s"""tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |    $concat AS s
       |  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
       |  QUALIFY lead(w, ${n - 1}) OVER win IS NOT NULL
       |), ds AS (SELECT DISTINCT doc_id, s FROM sh)""".stripMargin
  }

  /** 3-token [[shingleCtes]] plus `sizes` (distinct shingles per doc) and
    * `inter` (shared shingles per doc pair, id_1 < id_2). */
  val overlapCtes: String =
    shingleCtes(3) +
      """,
        |sizes AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS i
        |  FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)""".stripMargin

  /** [[overlapCtes]] plus `pairs` (id_1, id_2, jaccard): the 3-shingle
    * Jaccard pairs at or above `threshold`, the pair set of
    * [[graft.operators.Dedup.jaccardPairs]]. */
  def jaccardCtes(threshold: Double): String =
    overlapCtes +
      s""", pairs AS (
         |  SELECT id_1, id_2, CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) AS jaccard
         |  FROM inter
         |  JOIN sizes s1 ON id_1 = s1.doc_id JOIN sizes s2 ON id_2 = s2.doc_id
         |  WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) >= $threshold
         |)""".stripMargin

  // --- language id and quality score (DuckDB) --------------------------------

  private def sqlList(words: Seq[String]): String =
    words.map("'" + _ + "'").mkString("[", ", ", "]")

  /** Select items `s_<lang>`: distinct marker-word hits per language in
    * `text` ([[TextAnalysis.langScore]]), in [[TextAnalysis.langMarkers]]
    * order. */
  val langScores: String = TextAnalysis.langMarkers.map { case (l, m) =>
    s"len(list_intersect(list_distinct(string_split(text, ' ')), ${sqlList(m)})) AS s_$l"
  }.mkString(",\n    ")

  private def langs: Seq[String] = TextAnalysis.langMarkers.map(_._1)

  /** The highest `s_<lang>` of a row carrying [[langScores]]; consumers
    * alias it `best` for [[langPredicted]]. */
  val langBest: String = langs.map("s_" + _).mkString("greatest(", ", ", ")")

  /** [[TextAnalysis.langId]] over a row carrying [[langScores]] and `best`:
    * the first language (in marker order) whose score is the best, 'und'
    * when no marker hits. */
  val langPredicted: String =
    langs.map(l => s"WHEN s_$l = best THEN '$l'")
      .mkString("CASE WHEN best <= 0 THEN 'und' ", " ", " END")

  /** Select items over `text` that [[qualityScore]] reads: chars, n_punct,
    * n_toks, n_stop, alpha_chars. */
  val qualityInputs: String =
    s"""CAST(length(text) AS DOUBLE) AS chars,
       |    len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct,
       |    len(string_split(text, ' ')) AS n_toks,
       |    len(list_filter(string_split(text, ' '),
       |        t -> list_contains(${sqlList(TextAnalysis.enStopwords)}, t))) AS n_stop,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE) AS alpha_chars""".stripMargin

  /** [[TextAnalysis.qualityScore]] over a row carrying [[qualityInputs]]. */
  val qualityScore: String =
    """ROUND(
      |    (chars / (chars + 500.0))
      |    * (1.0 - n_punct / greatest(chars, 1.0))
      |    * (CASE WHEN n_stop * 1.0 / n_toks BETWEEN 0.01 AND 0.6
      |       THEN 1.0 ELSE 0.5 END)
      |    * (CASE WHEN alpha_chars / n_toks BETWEEN 2.0 AND 12.0
      |       THEN 1.0 ELSE 0.3 END),
      |    6)""".stripMargin

  // --- OHLC bars (both engines) ----------------------------------------------

  /** How one engine spells the events read of [[bars]]. */
  sealed abstract class Dialect(val events: String, ts: String, div: String,
      val tsUs: String) {
    /** Epoch-µs start of each row's `grainUs` bucket. */
    def bucket(grainUs: Long): String = s"$ts $div $grainUs * $grainUs"
  }
  /** Spark SQL over the `events_ta` view of [[Tables.events]] (`ts_us`
    * long). */
  case object SparkSql extends Dialect("events_ta", "ts_us", "div", "ts_us")
  /** DuckDB over the `events` table (`ts` timestamp). */
  case object DuckDb extends Dialect("events", "epoch_us(ts)", "//",
    "epoch_us(ts) AS ts_us")

  val HourUs = 3600000000L
  val DayUs = 86400000000L

  /** OHLC bars per (event_type, bucket start `hr_us`): open/close are the
    * first/last value by the total (ts_us, event_id) order, high/low the
    * extremes and vol the event count. The query shape of
    * `dags/spark_job_1.py`'s 1h klines, derived from the event stream.
    */
  def bars(d: Dialect, grainUs: Long = HourUs): String =
    s"""WITH h AS (
       |  SELECT event_type, ${d.bucket(grainUs)} AS hr_us,
       |    value, ${d.tsUs}, event_id
       |  FROM ${d.events}
       |), w AS (
       |  SELECT event_type, hr_us, value,
       |    first_value(value) OVER (PARTITION BY event_type, hr_us
       |      ORDER BY ts_us, event_id) AS o,
       |    first_value(value) OVER (PARTITION BY event_type, hr_us
       |      ORDER BY ts_us DESC, event_id DESC) AS c
       |  FROM h
       |)
       |SELECT event_type, hr_us, MAX(o) AS open, MAX(value) AS high,
       |  MIN(value) AS low, MAX(c) AS close, CAST(COUNT(*) AS BIGINT) AS vol
       |FROM w GROUP BY event_type, hr_us""".stripMargin

  /** [[bars]] as the CTE `bars`, without the leading WITH. */
  def barsCte(d: Dialect, grainUs: Long = HourUs,
      materialized: Boolean = false): String =
    s"bars AS${if (materialized) " MATERIALIZED" else ""} (\n${bars(d, grainUs)}\n)"

  /** `WITH bars AS (...)` followed by `body`, which starts with SELECT or
    * continues the WITH clause (`, x AS (...)`). */
  def barsQ(body: String, grainUs: Long = HourUs)(d: Dialect): String =
    s"WITH ${barsCte(d, grainUs)}\n$body"

  /** [[barsCte]] plus `r0` (close and its log return against the previous
    * bar, per event type) and `rr` (the rows with a return), followed by
    * `body` as in [[barsQ]]. */
  def retsQ(body: String)(d: Dialect): String =
    s"""WITH ${barsCte(d)}, r0 AS (
       |  SELECT event_type, hr_us, close,
       |    ln(close / lag(close) OVER (PARTITION BY event_type
       |      ORDER BY hr_us)) AS ret
       |  FROM bars
       |), rr AS (SELECT * FROM r0 WHERE ret IS NOT NULL)""".stripMargin +
      s"\n$body"

  /** Runs the Spark rendering of `sql` over `dir`'s events, registered as
    * the `events_ta` view. */
  def sparkQ(s: SparkSession, dir: String, sql: Dialect => String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView(SparkSql.events)
    s.sql(sql(SparkSql))
  }

  // --- nation trade graph (both engines) -------------------------------------

  /** The nation trade-flow edge list (Spark): customer nation — supplier
    * nation pairs (u < v) weighted by lineitem count, kept when the weight
    * exceeds the mean pair weight (a data-adaptive threshold, so the graph
    * is meaningful at every scale factor).
    *
    * Both lazy checkpoints are load-bearing. The weighted pairs are read
    * twice (mean pass + filter pass), so the 4-table lineitem join runs
    * once. The edge list is read two to six times by each consumer plan:
    * a checkpoint scan is never an exchange-reuse candidate, so without
    * the second one every reference re-plans the mean pass (q_graph_jaccard
    * then plans 14 shuffles and 9 nested-loop joins instead of 5 and 0).
    * The edge list is at most nations² rows. */
  def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val flows = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(least(col("c_nationkey"), col("s_nationkey")).as("u"),
        greatest(col("c_nationkey"), col("s_nationkey")).as("v"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint(eager = false)
    val avgW = flows.agg(avg(col("w")).as("_avg_w"))
    flows.crossJoin(broadcast(avgW))
      .filter(col("w") > col("_avg_w"))
      .select(col("u"), col("v"))
      .localCheckpoint(eager = false)
  }

  /** [[tradeEdges]] for DuckDB as the CTEs `pw` (weighted pairs) and `e`
    * (the edges), both MATERIALIZED; without the leading WITH. */
  val tradeEdgesSql: String =
    """pw AS MATERIALIZED (
      |  SELECT least(c.c_nationkey, s.s_nationkey) AS u,
      |    greatest(c.c_nationkey, s.s_nationkey) AS v, COUNT(*) AS w
      |  FROM lineitem l
      |    JOIN orders o ON l.l_orderkey = o.o_orderkey
      |    JOIN customer c ON o.o_custkey = c.c_custkey
      |    JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey
      |  GROUP BY 1, 2
      |), e AS MATERIALIZED (
      |  SELECT u, v FROM pw WHERE w > (SELECT AVG(w) FROM pw))""".stripMargin
}
