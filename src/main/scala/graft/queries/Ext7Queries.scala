package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Round-3 breadth batch 4: the text-pipeline hygiene operators an LLM
  * training-data pipeline runs between crawl and tokenizer (PII redaction,
  * URL canonicalization, cross-document span dedup, embedding compression),
  * plus the stream-static enrichment join and the CSV/JSON source formats.
  * All DuckDB-oracled.
  *
  * The PII/URL queries synthesize their sensitive substrings
  * DETERMINISTICALLY from table columns (the corpus has no real PII), so the
  * oracle reconstructs byte-identical inputs; the regex surface under test is
  * the real one.
  */
object Ext7Queries {

  // Java-regex and RE2-compatible subset: no lookarounds, no named classes.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+1-555-[0-9]{4}"

  /** PII redaction: regex-replace emails and phone numbers with typed
    * placeholder tags, counting redactions per doc — the pre-tokenization
    * scrub pass. Pure codegen'd projection (regexp_replace/regexp_count):
    * no shuffle, scales linearly with input splits.
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("raw", concat(
        substring(col("text"), 1, 40),
        lit(" contact doc"), col("doc_id").cast("string"),
        lit("@example.com or call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .select(
        col("doc_id"),
        regexp_replace(regexp_replace(col("raw"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("clean"),
        regexp_count(col("raw"), lit(EmailRe)).as("n_emails"),
        regexp_count(col("raw"), lit(PhoneRe)).as("n_phones"))

  val piiRedactOracle: String =
    s"""WITH r AS (
      |  SELECT doc_id,
      |    substr(text, 1, 40) || ' contact doc' || CAST(doc_id AS VARCHAR)
      |      || '@example.com or call +1-555-'
      |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      |  FROM documents
      |)
      |SELECT doc_id,
      |  regexp_replace(regexp_replace(raw, '$EmailRe', '<EMAIL>', 'g'),
      |                 '$PhoneRe', '<PHONE>', 'g') AS clean,
      |  CAST(len(regexp_extract_all(raw, '$EmailRe')) AS INT) AS n_emails,
      |  CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS INT) AS n_phones
      |FROM r""".stripMargin

  /** URL canonicalization + per-domain rollup: parse host / path / query
    * param with Spark's native `parse_url`, then aggregate docs and distinct
    * languages per domain — the crawl-frontier dedup shape ("how much of the
    * corpus comes from where"). The oracle re-derives the same parts with
    * regexes, proving parse_url against an independent implementation.
    */
  def urlDomains(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("url", concat(
        lit("https://"), col("source"), lit(".example.com/docs/"),
        col("doc_id").cast("string"),
        lit("?ref="), col("lang"), lit("&utm_source=feed")))
      .select(
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY"), lit("ref")).as("ref"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("ref")).as("n_langs"),
        max(length(col("path"))).as("max_path_len"))

  val urlDomainsOracle: String =
    """WITH u AS (
      |  SELECT 'https://' || source || '.example.com/docs/'
      |    || CAST(doc_id AS VARCHAR) || '?ref=' || lang || '&utm_source=feed' AS url
      |  FROM documents
      |), p AS (
      |  SELECT
      |    regexp_extract(url, '^https://([^/?#]+)', 1) AS host,
      |    regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1) AS path,
      |    regexp_extract(url, '[?&]ref=([^&#]*)', 1) AS ref
      |  FROM u
      |)
      |SELECT host, COUNT(*) AS n_docs, COUNT(DISTINCT ref) AS n_langs,
      |  MAX(len(path)) AS max_path_len
      |FROM p GROUP BY host""".stripMargin

  /** Cross-document duplicated spans: 8-token shingles present in >= 2
    * distinct docs, top-20 by frequency — the detection half of exact
    * substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better": long verbatim spans repeated across a corpus
    * are memorization fuel). One shuffle on the span; the distinct
    * (doc, span) postings come from the shared shingling kernel.
    */
  def dupSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.shinglePostings(Tables.documents(s, dir), "doc_id", "text", 8)
      .groupBy(col("shingle").as("span"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("span"))
      .limit(20)

  val dupSpansOracle: String =
    s"""WITH ${OracleSql.shingleCtes(8)}
      |SELECT s AS span, COUNT(*) AS n_docs
      |FROM ds GROUP BY s HAVING COUNT(*) >= 2
      |ORDER BY n_docs DESC, span LIMIT 20""".stripMargin

  /** Int8 scalar quantization round trip over the embedding column: per
    * vector, scale = 127/max|x|, quantize with round-half-up, measure
    * reconstruction MSE and saturation count — the 4x storage compression
    * an ANN index applies before sharding, with its accuracy cost measured
    * in the same query. The scale comes from an array-HOF pass (no extra
    * shuffle); the error aggregate is the only exchange.
    */
  def embedQuantize(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("v", transform(col("embedding"), x => x.cast("double")))
      .withColumn("amax", array_max(transform(col("v"), x => abs(x))))
      .filter(col("amax") > 0)
      .withColumn("scale", lit(127.0) / col("amax"))
      .select(col("vec_id"), col("scale"), explode(col("v")).as("x"))
      .withColumn("qx",
        least(lit(127), greatest(lit(-127),
          floor(col("x") * col("scale") + lit(0.5)).cast("int"))))
      .groupBy("vec_id")
      .agg(
        round(first(col("scale")), 6).as("scale"),
        round(avg(pow(col("x") - col("qx") / col("scale"), 2)), 9).as("mse"),
        sum(when(abs(col("qx")) === 127, 1L).otherwise(0L)).as("n_sat"))

  val embedQuantizeOracle: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings
      |), s AS (
      |  SELECT vec_id, 127.0 / MAX(abs(x)) AS scale
      |  FROM e GROUP BY vec_id HAVING MAX(abs(x)) > 0
      |), q AS (
      |  SELECT e.vec_id, e.x, s.scale,
      |    LEAST(127, GREATEST(-127, CAST(floor(e.x * s.scale + 0.5) AS INT))) AS qx
      |  FROM e JOIN s ON e.vec_id = s.vec_id
      |)
      |SELECT vec_id, ROUND(any_value(scale), 6) AS scale,
      |  ROUND(AVG(power(x - qx / scale, 2)), 9) AS mse,
      |  CAST(SUM(CASE WHEN abs(qx) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat
      |FROM q GROUP BY vec_id""".stripMargin

  /** Benchmark decontamination: flag training docs sharing any 8-token span
    * with the eval split (doc_id % 100 == 0 stands in for the benchmark set)
    * — the n-gram-overlap contamination check every LLM data pipeline runs
    * before training (GPT-3 appendix C / PaLM style). Shingles are
    * xxhash64'd to 8-byte keys and the eval-side set is broadcast: the train
    * corpus streams through a map-side semi-join, no shuffle of the big
    * side. The oracle joins the raw span STRINGS — hash vs string equality
    * agree unless xxhash64 collides (P ~ m²/2⁶⁵).
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val eval = docs.filter(col("doc_id") % 100 === 0)
    val train = docs.filter(col("doc_id") % 100 =!= 0)
    val evalSpans = graft.operators.Dedup.hashedPostings(eval, "doc_id", "text", 8)
      .select("shingle").distinct()
    graft.operators.Dedup.hashedPostings(train, "doc_id", "text", 8)
      .join(broadcast(evalSpans), Seq("shingle"), "left_semi")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_spans"))
  }

  val decontaminateOracle: String =
    s"""WITH ${OracleSql.shingleCtes(8)},
      |ev AS (SELECT DISTINCT s FROM ds WHERE doc_id % 100 = 0)
      |SELECT t.doc_id, COUNT(*) AS n_contaminated_spans
      |FROM ds t JOIN ev ON t.s = ev.s
      |WHERE t.doc_id % 100 <> 0
      |GROUP BY t.doc_id""".stripMargin

  /** Stratified deterministic sampling: per-language rates (sampleBy
    * semantics) decided by md5-prefix arithmetic, so the sample is a pure
    * FILTER — reproducible across runs, partitionings, and engines, unlike
    * TABLESAMPLE/df.sample whose RNG is partition-order-dependent. The
    * language-rebalancing step of corpus curation.
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      // rate per stratum: 10..50% keyed off the language name itself
      .withColumn("rate_pct", (ascii(substring(col("lang"), 1, 1)) % 5 + 1) * lit(10))
      .filter(expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 100") <
        col("rate_pct"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        max(col("rate_pct")).as("rate_pct"),
        min("doc_id").as("min_id"))

  val stratifiedSampleOracle: String =
    """WITH d AS (
      |  SELECT lang, doc_id,
      |    (ascii(substr(lang, 1, 1)) % 5 + 1) * 10 AS rate_pct
      |  FROM documents
      |)
      |SELECT lang, COUNT(*) AS n_sampled, MAX(rate_pct) AS rate_pct,
      |  MIN(doc_id) AS min_id
      |FROM d
      |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS UBIGINT) % 100 < rate_pct
      |GROUP BY lang""".stripMargin

  /** Stream-static enrichment join: the event stream joins a static
    * broadcast dimension (no state store — the static side is re-planned
    * per micro-batch), then aggregates per segment. The canonical "enrich
    * the stream against the warehouse" topology; drained with AvailableNow,
    * gated against the batch join.
    */
  def streamStatic(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Drain.toMemory(s, "stream_static",
        graft.streaming.DrainWidth.forPath(s, s"$dir/events.parquet"), "complete") { ss =>
      val dim = Tables.customer(ss, dir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      StreamQueries.eventsStream(ss, dir)
        .join(broadcast(dim), Seq("user_id"))
        .groupBy("segment", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
    }

  val streamStaticOracle: String =
    """SELECT c.c_mktsegment AS segment, e.event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2""".stripMargin

  /** CSV source round trip: events land as headered CSV, are read back
    * through the schema-explicit CSV reader, and aggregate identically to
    * the parquet original — doubles survive because Spark writes
    * shortest-round-trip decimal representations. Exercises the text-format
    * scan path (header skip, type coercion) the wire tier needs.
    */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val staged = graft.util.TempDirs.create("graft-csv")
    Tables.events(s, dir)
      .select("event_id", "ts_us", "user_id", "event_type", "value")
      .write.mode("overwrite").option("header", "true").csv(staged.toString)
    s.read.option("header", "true")
      .schema("event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      .csv(staged.toString)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"),
        min(col("ts_us")).as("min_ts"), max(col("ts_us")).as("max_ts"))
  }

  val csvRoundtripOracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  MIN(epoch_us(ts)) AS min_ts, MAX(epoch_us(ts)) AS max_ts
      |FROM events GROUP BY event_type""".stripMargin

  /** JSON-lines source round trip: same shape through the JSON reader,
    * including a nested payload re-extracted after the trip (string escaping
    * must survive). The schema-explicit read skips Spark's inference scan —
    * at 100 TB an inference pass is a full extra read of the corpus.
    */
  def jsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val staged = graft.util.TempDirs.create("graft-json")
    Tables.events(s, dir)
      .select("event_id", "ts_us", "event_type", "value", "props")
      .write.mode("overwrite").json(staged.toString)
    s.read
      .schema("event_id BIGINT, ts_us BIGINT, event_type STRING, value DOUBLE, props STRING")
      .json(staged.toString)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
  }

  val jsonRoundtripOracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type""".stripMargin
}
