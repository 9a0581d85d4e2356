package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.KafkaJson

/** The two ingestion pipelines (SURVEY.md §3.2/§3.3) as Structured Streaming
  * flows: source -> explicit-schema decode -> validity guard -> bounded dedup
  * -> idempotent sink. Sources are plain DataFrames so the same transform runs
  * on a Kafka stream, a file-replay stream (tests, zero-egress env) or a
  * MemoryStream.
  *
  * Streaming semantics mapping (SURVEY.md §2.10):
  *   T1 at-least-once + post-commit offsets  -> checkpoint + IdempotentWriter
  *   T4 producer high-watermark              -> dropDuplicatesWithinWatermark
  *   T5 polling cadence                      -> Trigger.ProcessingTime
  *   T6 bounded drain (poll max_records)     -> Trigger.AvailableNow
  *   T7 Airflow run-to-completion cycle      -> availableNow batch-drain mode
  */
object Pipelines {

  /** Kafka source for a topic, earliest offsets (consumer_prices.py:45-52).
    * Requires the spark-sql-kafka connector on the cluster classpath; in this
    * zero-egress dev image the connector jar is absent, so tests exercise the
    * decode/dedup/sink chain through file and memory sources instead.
    */
  def kafkaSource(spark: SparkSession, servers: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()

  /** Decode + guard + dedup for the price stream. Input: raw frame with a
    * `value` column. Output: typed klines, malformed messages dropped, in-
    * stream duplicate suppression bounded by the watermark (the unbounded
    * key space makes watermarked state mandatory at scale — the sink-side
    * anti-join in [[IdempotentWriter]] is the replay backstop).
    */
  def priceFlow(raw: DataFrame, watermark: String = "10 minutes"): DataFrame =
    KafkaJson.parsePrices(raw)
      .filter(col("symbol").isNotNull && col("open_time").isNotNull)
      // INGEST-time watermark, same posture as newsFlow (round-13 fix):
      // klines BACKFILL — adding a symbol replays its history (the
      // limit=1000 sweep in Ingest), and an event-time watermark on
      // open_time silently DROPPED every row older than the stream's
      // horizon before it reached the sink; the IdempotentWriter backstop
      // never even saw them. Ingest time is monotone, so nothing is ever
      // late, while the dedup state still expires after the horizon.
      .withColumn("_ingest_t", current_timestamp())
      .withWatermark("_ingest_t", watermark)
      .dropDuplicatesWithinWatermark("symbol", "interval", "open_time")
      .drop("_ingest_t")

  /** Decode + guard + dedup for the news stream: URL whitelist
    * (producer_news.py:29-36) then URL dedup (sent_urls set + consumer
    * existence check collapse into one dedup + the sink anti-join).
    */
  def newsFlow(raw: DataFrame, watermark: String = "1 hour"): DataFrame =
    KafkaJson.parseNews(raw)
      .filter(col("url").isNotNull && KafkaJson.validNewsUrl(col("url")))
      // Watermarked dedup keeps state bounded in continuous mode (same
      // posture as priceFlow) — but the watermark rides on INGEST time, not
      // created_date: article publish dates are arbitrarily old (RSS
      // backfills), and an event-time watermark would silently DROP a
      // never-before-seen old article as late data. Ingest time is
      // monotonic, so nothing is ever late; state still expires after the
      // horizon. The IdempotentWriter anti-join stays the cross-batch
      // backstop for URLs recrawled beyond it.
      .withColumn("_ingest_t", current_timestamp())
      .withWatermark("_ingest_t", watermark)
      .dropDuplicatesWithinWatermark("url")
      .drop("_ingest_t")

  val klineKeys: Seq[String] = Seq("symbol", "interval", "open_time")
  val newsKeys: Seq[String] = Seq("url")

  /** Stream-stream correlation: klines joined with news published in the
    * preceding `lookback` window (the price x news analysis the reference's
    * star schema supports only offline). Both sides carry watermarks so the
    * join state is bounded; the time-range predicate lets Spark expire rows
    * deterministically.
    *
    * Inputs: decoded kline stream (with `symbol`, event-time `open_time`)
    * and a news stream carrying a `symbol` column (extraction from
    * title/content is the caller's tokenizer choice) and `created_date`.
    */
  def priceNewsJoin(
      klines: DataFrame,
      news: DataFrame,
      lookback: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    val k = klines.withWatermark("open_time", watermark)
    val n = news.withWatermark("created_date", watermark)
    k.join(n,
      k("symbol") === n("symbol") &&
        n("created_date") >= k("open_time") - expr(s"INTERVAL $lookback") &&
        n("created_date") <= k("open_time"),
      "inner")
      .drop(n("symbol"))
  }

  /** Start a pipeline into an idempotent parquet sink. `availableNow = true`
    * is the Airflow-style run-to-completion drain (T6/T7); false runs
    * continuously at `cadence` (T5; 10s prices / 30s news in the reference).
    *
    * A bounded drain runs on [[Drain.childSession]] at the caller's
    * `spark.sql.shuffle.partitions`: it pays for its data batch only (no
    * trailing no-data batch after the watermark advances), reuses the
    * classes the previous drain of the same flow compiled, and is
    * registered with the teardown sweep [[Drain.stopLeftovers]]. The
    * flow's analyzed plan is re-bound there, so a flow reading a temp view
    * of the caller still resolves. A continuous stream runs on the
    * caller's session and keeps Spark's no-data batches, which evict idle
    * state on time.
    */
  def start(
      flow: DataFrame,
      sinkPath: String,
      checkpoint: String,
      keys: Seq[String],
      availableNow: Boolean = true,
      cadence: String = "10 seconds"): StreamingQuery = {
    val caller = flow.sparkSession
    val (df, trigger) =
      if (availableNow) {
        val ss = Drain.childSession(caller,
          caller.conf.get("spark.sql.shuffle.partitions").toInt)
        (GraftColumnBridge.ofRows(ss, flow.queryExecution.analyzed),
          Trigger.AvailableNow())
      } else (flow, Trigger.ProcessingTime(cadence))
    val q = df.writeStream
      .foreachBatch(IdempotentWriter.appendNew(sinkPath, keys) _)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
    if (availableNow) Drain.track(q)
    q
  }
}
