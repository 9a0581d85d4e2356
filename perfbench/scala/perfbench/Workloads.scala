package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.model.Schemas
import graft.operators.Dedup
import graft.pipeline.IndicatorJob
import graft.sources.Tables
import graft.streaming.{Drain, Pipelines}

/** The reference's Airflow loop: drain the price and news topics into the
  * idempotent sinks, then recompute the indicators over the kline fact.
  * A backfill drains the whole history once; then each cycle lands one new
  * price file and one news file, drains both into the same checkpoints and
  * runs the indicator job on the grown kline fact.
  */
object IngestCycle extends Workload {

  private def readKeys(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val root = ctx.dataDir
    val sink = s"${ctx.workDir}/warehouse"
    val (klineSink, newsSink, indicatorSink) =
      (s"$sink/kline_fact", s"$sink/news_fact", s"$sink/indicator_fact")
    val histKlines = readKeys(s"$root/truth/prices-hist.keys")
    val histNews = readKeys(s"$root/truth/news-hist.keys")
    val symbolDim = broadcast(histKlines.map(_.split('|')(0)).distinct.sorted
      .zipWithIndex.map { case (s, i) => (i + 1, s) }.toDF("symbol_id", "symbol"))
    val intervalDim = broadcast(Seq((1, "1d"), (2, "1h")).toDF("interval_id", "interval"))
    val typeDim = Schemas.indicatorTypeSeed.toDF("type_id", "type_name")

    def drain(topic: String, flow: DataFrame => DataFrame, sinkPath: String,
        keys: Seq[String]): Double = {
      val t = ctx.tracer.filter(_.active)
      val s = t.map(_.open("streaming", s"drain $topic"))
      val t0 = System.nanoTime()
      var q: StreamingQuery = null
      try {
        q = Pipelines.start(flow(spark.readStream.text(s"$root/src/$topic")),
          sinkPath, s"${ctx.workDir}/checkpoints/$topic", keys)
        Drain.awaitOrFail(q, topic, 120000L)
        ctx.sinceStart(t0)
      } finally for (tr <- t; sp <- s) {
        tr.close(sp)
        if (q != null) tr.addProgress(sp, q.recentProgress.toSeq)
      }
    }
    val prices: DataFrame => DataFrame = raw =>
      Pipelines.priceFlow(raw).join(symbolDim, "symbol").join(intervalDim, "interval")

    /** One T7 cycle: drain both topics, then run the indicator job on the
      * grown kline fact. Returns the indicator rows appended and each
      * call's seconds. */
    def step(): (Long, Seq[(String, Double)]) = {
      val pricesS = drain("prices", prices, klineSink, Pipelines.klineKeys)
      val newsS = drain("news", Pipelines.newsFlow(_), newsSink, Pipelines.newsKeys)
      val t0 = System.nanoTime()
      val rows = ctx.span("pipeline", "IndicatorJob.run") {
        IndicatorJob.run(spark, klineSink, indicatorSink, typeDim)
      }
      (rows, Seq("drain prices" -> pricesS, "drain news" -> newsS,
        "IndicatorJob.run" -> ctx.sinceStart(t0)))
    }

    var expKlines = histKlines.toSet
    var expNews = histNews.toSet
    var (klineRows, newsRows) = (0L, 0L)
    /** Sink key sets against the ground truth; returns the rows appended. */
    def check(what: String): Option[Long] = {
      val k = spark.read.parquet(klineSink).select(concat_ws("|", col("symbol"),
        col("interval"), col("open_time").cast("long"))).as[String].collect()
      val n = spark.read.parquet(newsSink).select(col("url")).as[String].collect()
      val errs = Seq(
        (k.length != k.distinct.length) -> "duplicate kline keys",
        (k.toSet != expKlines) -> s"kline keys differ from the ground truth (${k.toSet.size} vs ${expKlines.size})",
        (n.length != n.distinct.length) -> "duplicate news keys",
        (n.toSet != expNews) -> s"news keys differ from the ground truth (${n.toSet.size} vs ${expNews.size})")
        .collect { case (true, m) => s"$what: $m" }
      errs.foreach(ctx.res.fail)
      val appended = k.length - klineRows + n.length - newsRows
      klineRows = k.length; newsRows = n.length
      if (errs.isEmpty) Some(appended) else None
    }

    val res = ctx.res
    val landed = scala.collection.mutable.Map.empty[Long, (Long, Long)] // op span -> (bytes, appended)
    var indicatorRows = 0L
    res.attempted += 1
    val (_, backfillS) = ctx.op("backfill", traced = true, cold = true)(step())
    res.coldS = backfillS
    check("backfill")

    val staged = Files.list(Paths.get(s"$root/stage/prices")).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    /** Land cycle `c`'s files, run it and check the sinks; false on failure. */
    def cycle(c: Int): Boolean = {
      val file = staged(c)
      var bytes = 0L
      Seq("prices", "news").foreach { topic =>
        val from = Paths.get(s"$root/stage/$topic/$file")
        bytes += Files.size(from)
        Files.move(from, Paths.get(s"$root/src/$topic/$file"), StandardCopyOption.ATOMIC_MOVE)
      }
      val tag = file.stripSuffix(".txt")
      expKlines ++= readKeys(s"$root/truth/prices-$tag.keys")
      expNews ++= readKeys(s"$root/truth/news-$tag.keys")
      res.attempted += 1
      val traced = c % 2 == 0 && ctx.tracer.isDefined
      try {
        val ((rows, calls), secs) = ctx.op(s"cycle $c", traced)(step())
        calls.foreach { case (n, s) => res.steps += ((n, s, traced)) }
        res.ops += ((secs, traced))
        val appended = check(s"cycle $c")
        if (traced) {
          landed(ctx.tracedOps.last.id) = (bytes, appended.getOrElse(0L))
          indicatorRows += rows
        }
        appended.isDefined
      } catch {
        case e: Exception => res.fail(s"cycle $c: $e"); false
      }
    }
    require(ctx.ops <= staged.length, s"${ctx.ops} cycles asked, ${staged.length} staged")
    var (c, ok) = (0, true)
    while (ok && c < ctx.ops) {
      ok = cycle(c)
      c += 1
    }
    // idempotence: with no new klines the indicator job appends nothing
    val rerun = IndicatorJob.run(spark, klineSink, indicatorSink, typeDim)
    if (rerun != 0) res.fail(s"indicator re-run appended $rerun rows")

    res.figures("cycles") = c
    res.info("kline_sink") = klineSink
    res.info("indicator_sink") = indicatorSink
    ctx.tracer.foreach(t => Layers.ingest(ctx, t, landed.toMap, indicatorRows))
  }
}

/** The corpus-curation family over a generated corpus: passes over the
  * queries that read only documents/embeddings. A query goes through
  * `SparkEntry.queries`, and its noop write is the action. */
object Curation extends Workload {
  val names: Seq[String] = Seq("q_curation_funnel", "q_cluster_canonical",
    "q_dedup_clusters", "q_jaccard_prefix", "q_minhash_neardup", "q_lang_id",
    "q_cosine_topk")
  val KnnQueries = 20 // q_cosine_topk answers the vectors with vec_id < 20

  def timed(ctx: Ctx, name: String): Double = {
    val t0 = System.nanoTime()
    ctx.span("operators", name) {
      val df = ctx.span("operators", "construct") { SparkEntry.queries(name)(ctx.spark, ctx.dataDir) }
      ctx.span("operators", "action") { df.write.format("noop").mode("overwrite").save() }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Drop the library's memos and persisted intermediates, so the next
    * pass pays what a user's single run pays. */
  def clear(spark: SparkSession): Unit = {
    Dedup.unpersistIntermediates(blocking = true)
    Dedup.invalidateDocCountCache()
    spark.catalog.clearCache()
  }

  /** One untimed run of each query into parquet, with its oracle SQL, for
    * the DuckDB comparison `run.py` makes. */
  def writeForCheck(ctx: Ctx): Unit = {
    val out = s"${ctx.workDir}/check"
    names.foreach { n =>
      try SparkEntry.queries(n)(ctx.spark, ctx.dataDir).coalesce(1).write
        .mode("overwrite").parquet(s"$out/$n")
      catch { case e: Exception => ctx.res.info(s"check_error.$n") = e.toString }
      clear(ctx.spark)
    }
    val oracles = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json.obj(names.map(n => n -> oracles.get(n).map(Json.str).getOrElse("null"))))
    ctx.res.info("check_dir") = out
  }

  def run(ctx: Ctx): Unit = {
    val res = ctx.res
    val docs = Tables.documents(ctx.spark, ctx.dataDir).count()
    def pass(i: Int, traced: Boolean): Unit = {
      res.attempted += names.length
      val (times, secs) = ctx.op(s"pass $i", traced) {
        names.map(n => n -> timed(ctx, n))
      }
      clear(ctx.spark)
      val t = traced && ctx.tracer.isDefined
      times.foreach { case (n, s) => res.steps += ((n, s, t)) }
      res.ops += ((secs, t))
      if (!t) {
        res.figures(s"docs_per_s.$i") = docs / secs
        res.figures(s"knn_queries_per_s.$i") = KnnQueries / times.toMap.apply("q_cosine_topk")
      }
    }
    // the first pass writes every output for the oracle check; it is the
    // cold pass, timed apart from the steady loop
    val (_, first) = ctx.op("first pass", traced = true, cold = true) {
      writeForCheck(ctx)
    }
    res.coldS = first
    (1 to ctx.ops).foreach(i => pass(i, traced = i % 2 == 1))
    res.figures("docs") = docs
    res.figures("passes") = ctx.ops
    ctx.tracer.foreach(t => Layers.curation(ctx, t, names))
  }
}
