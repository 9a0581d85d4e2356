package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.queries.WireQueries
import graft.streaming.{IdempotentWriter, Pipelines, StatefulIndicators}

/** Streaming semantics (SURVEY.md §2.10): duplicate suppression, replay
  * idempotence, run-to-completion drain parity with batch, and stateful
  * incremental indicators matching the batch window computation.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String) = graft.util.TempDirs.create(prefix).toString

  test("priceFlow through MemoryStream: duplicates collapse, malformed rows dropped (T3/T4)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val flow = Pipelines.priceFlow(mem.toDF().withColumnRenamed("value", "value"))
    val sink = tmp("graft-sink") + "/klines"
    val q = Pipelines.start(flow, sink, tmp("graft-ckpt"), Pipelines.klineKeys,
      availableNow = false, cadence = "1 second")
    try {
      // 4 clean fixtures + a re-send of the first + one malformed message
      mem.addData(WireQueries.priceFixtures: _*)
      mem.addData(WireQueries.priceFixtures.head)
      mem.addData("not json")
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(sink)
    assert(rows.count() == 4) // dedup by (symbol, interval, open_time)
    assert(rows.filter($"symbol".isNull).count() == 0)
  }

  test("round-13: a backfilled kline with an arbitrarily old open_time " +
      "still lands (the event-time watermark dropped history replays)") {
    // the dedup watermark rides on ingest time, not open_time — adding a
    // symbol replays its history, whose open_times sit far behind the
    // stream's horizon; under the old open_time watermark these rows were
    // silently dropped before the sink (and its anti-join backstop) ever
    // saw them
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val flow = Pipelines.priceFlow(mem.toDF())
    val sink = tmp("graft-backfill") + "/klines"
    val q = Pipelines.start(flow, sink, tmp("graft-backfill-ckpt"),
      Pipelines.klineKeys, availableNow = false, cadence = "1 second")
    try {
      mem.addData(WireQueries.priceFixtures: _*) // 2024 data sets the clock
      q.processAllAvailable()
      mem.addData("""{"symbol":"SOLUSDT","interval":"1h","open_time":1577836800000,"open":"1.0","high":"1.1","low":"0.9","close":"1.05","volume":"10.0","close_time":1577840399999,"fetched_at":"2024-01-02T00:00:00"}""")
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(sink)
    assert(out.filter($"symbol" === "SOLUSDT").count() == 1,
      "backfilled 2020 kline was dropped as late data")
  }

  test("IdempotentWriter: replayed micro-batch appends nothing (T1 effectively-once)") {
    val sink = tmp("graft-replay") + "/out"
    val batch = Seq((1, "a"), (2, "b")).toDF("id", "v")
    IdempotentWriter.appendNew(sink, Seq("id"))(batch, 0L)
    IdempotentWriter.appendNew(sink, Seq("id"))(batch, 0L) // replay after "crash"
    IdempotentWriter.appendNew(sink, Seq("id"))(Seq((2, "b"), (3, "c")).toDF("id", "v"), 1L)
    val out = spark.read.parquet(sink)
    assert(out.count() == 3)
    assert(out.select("id").as[Int].collect().toSet == Set(1, 2, 3))
  }

  test("round-14: a sink dir holding only committer droppings does not " +
      "wedge the stream (schema inference is never attempted on it)") {
    val sink = tmp("graft-wedge") + "/out"
    // simulate a first write that died mid-commit: path exists, but only
    // _temporary/_SUCCESS/dot entries inside — no data files
    val p = new java.io.File(sink + "/_temporary/0")
    assert(p.mkdirs())
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(sink, "_SUCCESS"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(sink, "._started.crc"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(sink)))
    assert(!IdempotentWriter.sinkHasData(spark, sink))
    // the replayed batch must append cleanly instead of failing forever
    val batch = Seq((1, "a"), (2, "b")).toDF("id", "v")
    IdempotentWriter.appendNew(sink, Seq("id"))(batch, 0L)
    assert(IdempotentWriter.sinkHasData(spark, sink))
    IdempotentWriter.appendNew(sink, Seq("id"))(batch, 0L) // replay: no dupes
    assert(spark.read.parquet(sink).count() == 2)
  }

  test("round-15: a sink under a dot/underscore-prefixed ANCESTOR dir (or " +
      "with such a leaf name) still sees its own data files — only segments " +
      "BELOW the sink root count as hidden") {
    // ~/.cache/... and /data/_work/... shaped sinks: the old string-prefix
    // cut compared against the UNQUALIFIED path, so the qualified listing's
    // extra `file:` prefix shifted the cut mid-path and ancestor segments
    // leaked into the hidden check — every real file classified hidden,
    // sinkHasData stayed false, and replays re-appended duplicates
    for (sink <- Seq(tmp("graft-dotanc") + "/.cache/deep/out",
        tmp("graft-underanc") + "/_work/out",
        tmp("graft-dotleaf") + "/_out")) {
      val batch = Seq((1, "a"), (2, "b")).toDF("id", "v")
      IdempotentWriter.appendNew(sink, Seq("id"))(batch, 0L)
      assert(IdempotentWriter.sinkHasData(spark, sink),
        s"data files under $sink classified as hidden")
      IdempotentWriter.appendNew(sink, Seq("id"))(batch, 0L) // replay
      assert(spark.read.parquet(sink).count() == 2,
        s"replayed batch appended duplicates under $sink")
      // committer droppings BELOW the root must still read as hidden
      val empty = sink + "-empty"
      assert(new java.io.File(empty + "/_temporary/0").mkdirs())
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(empty, "_SUCCESS"))
      assert(!IdempotentWriter.sinkHasData(spark, empty))
    }
  }

  test("news flow: URL whitelist + url dedup (P6/P7/J3)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val flow = Pipelines.newsFlow(mem.toDF())
    val sink = tmp("graft-news") + "/news"
    val q = Pipelines.start(flow, sink, tmp("graft-news-ckpt"), Pipelines.newsKeys,
      availableNow = false, cadence = "1 second")
    try {
      mem.addData(WireQueries.newsFixtures: _*)
      mem.addData(WireQueries.newsFixtures.head) // duplicate URL
      mem.addData("""{"title":"evil","url":"https://evil.example.com/x","created_date":"2024-01-01 00:00:00+00:00","tag":null,"content":"","sentiment_score":0}""")
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(sink)
    assert(out.count() == 3) // 3 distinct whitelisted urls
    assert(out.filter($"url".contains("evil")).count() == 0)
  }

  test("news flow: a NEW article with an arbitrarily old created_date still lands") {
    // the dedup watermark rides on ingest time, not created_date — an
    // event-time watermark would drop an old-dated backfill article as
    // late data before the sink ever saw it
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val flow = Pipelines.newsFlow(mem.toDF())
    val sink = tmp("graft-news-old") + "/news"
    val q = Pipelines.start(flow, sink, tmp("graft-news-old-ckpt"), Pipelines.newsKeys,
      availableNow = false, cadence = "1 second")
    try {
      mem.addData(WireQueries.newsFixtures.head) // fresh article, advances ingest clock
      q.processAllAvailable()
      mem.addData("""{"title":"ancient","url":"https://www.coindesk.com/from-the-archive","created_date":"2019-06-01 00:00:00+00:00","tag":null,"content":"old but new to us","sentiment_score":0}""")
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(sink)
    assert(out.filter($"url".contains("from-the-archive")).count() == 1,
      "old-dated but never-seen article was dropped")
  }

  test("AvailableNow drain produces the same sink as batch processing (T6/T7)") {
    implicit val sqlCtx = spark.sqlContext
    // file-source replay: write fixtures as a text 'value' table
    val srcDir = tmp("graft-src")
    WireQueries.priceFixtures.toDF("value").write.text(srcDir + "/msgs")
    val stream = spark.readStream
      .schema("value STRING").text(srcDir + "/msgs")
    val sink = tmp("graft-an") + "/klines"
    val q = Pipelines.start(Pipelines.priceFlow(stream), sink,
      tmp("graft-an-ckpt"), Pipelines.klineKeys, availableNow = true)
    q.awaitTermination()

    val streamed = spark.read.parquet(sink).orderBy("symbol", "interval")
      .drop("fetched_at").collect().map(_.toString).toSeq
    val batch = graft.sources.KafkaJson.parsePrices(WireQueries.priceFixtures.toDF("value"))
      .orderBy("symbol", "interval").drop("fetched_at").collect().map(_.toString).toSeq
    assert(streamed == batch)
  }

  test("Drain's registry does not grow across repeated completed drains") {
    import org.apache.spark.sql.streaming.Trigger
    val src = tmp("graft-drain-src")
    Seq(1L, 2L, 3L).toDF("id").write.mode("overwrite").parquet(src)
    val base = graft.streaming.Drain.trackedCount
    val sizes = (1 to 3).map { _ =>
      val q = spark.readStream.schema("id LONG").parquet(src)
        .writeStream.format("noop").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmp("graft-drain-ckpt")).start()
      graft.streaming.Drain.awaitOrFail(q, "registry_probe")
      graft.streaming.Drain.trackedCount
    }
    assert(sizes.forall(_ <= base), s"registry grew from $base: $sizes")
  }

  test("stateful incremental indicators == batch window computation") {
    val rows = for {
      sym <- Seq(1, 2); i <- 0 until 30
    } yield (sym, 1, i.toLong, 100.0 + sym + math.sin(i * 0.7) * 10 + (i % 5))
    val df = rows.toDF("symbol_id", "interval_id", "close_time", "close_price")

    val incremental = StatefulIndicators.fromDataFrame(df)
      .orderBy("symbol_id", "close_time")
      .select("symbol_id", "close_time", "sma", "rsi", "bb_up", "bb_down")
      .collect()

    val spec = graft.operators.Indicators.SeriesSpec(
      Seq("symbol_id", "interval_id"), Seq("close_time"), "close_price")
    val batch = graft.operators.Indicators.all(df, spec)
      .orderBy("symbol_id", "close_time")
      .select("symbol_id", "close_time", "sma", "rsi", "bb_up", "bb_down")
      .collect()

    assert(incremental.length == batch.length)
    incremental.zip(batch).foreach { case (a, b) =>
      assert(a.getInt(0) == b.getInt(0) && a.getLong(1) == b.getLong(1))
      (2 to 5).foreach { i =>
        val (x, y) = (a.isNullAt(i), b.isNullAt(i))
        assert(x == y, s"nullability diff at col $i: $a vs $b")
        if (!x) assert(math.abs(a.getDouble(i) - b.getDouble(i)) < 1e-9,
          s"value diff at col $i: $a vs $b")
      }
    }
  }

  test("stream-stream join: klines correlate with news in the lookback window (T8 upgrade)") {
    implicit val sqlCtx = spark.sqlContext
    val kMem = MemoryStream[(String, java.sql.Timestamp, Double)]
    val nMem = MemoryStream[(String, java.sql.Timestamp, String)]
    val klines = kMem.toDF().toDF("symbol", "open_time", "close_price")
    val news = nMem.toDF().toDF("symbol", "created_date", "title")
    val joined = Pipelines.priceNewsJoin(klines, news, lookback = "1 hour")
    val name = "price_news_join"
    val q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      nMem.addData(
        ("BTCUSDT", ts("2024-01-01 09:30:00"), "btc rallies"),
        ("BTCUSDT", ts("2024-01-01 07:00:00"), "too old"),
        ("ETHUSDT", ts("2024-01-01 09:45:00"), "wrong symbol"))
      kMem.addData(("BTCUSDT", ts("2024-01-01 10:00:00"), 42000.0))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
      // only the in-window, same-symbol article correlates
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("title") == "btc rallies")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: null padding only after the window closes") {
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[(Long, java.sql.Timestamp)]
    val rMem = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = lMem.toDF().toDF("user_id", "l_t").withWatermark("l_t", "0 seconds")
    val right = rMem.toDF().toDF("r_user", "r_t").withWatermark("r_t", "0 seconds")
    val joined = left.join(right,
      left("user_id") === right("r_user") &&
        right("r_t") >= left("l_t") &&
        right("r_t") <= left("l_t") + expr("INTERVAL 10 MINUTES"),
      "left_outer")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ss_left_outer").start()
    try {
      // user 1 matches; user 2 never does; user 3's window is still open
      lMem.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      rMem.addData((1L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      val early = spark.table("ss_left_outer").collect()
      // no null padding yet: user 2's window has not closed under the watermark
      assert(early.forall(!_.isNullAt(2)), s"premature outer row: ${early.toSeq}")
      assert(early.count(_.getLong(0) == 1L) == 1)
      // advance both watermarks past user 2's window; open a fresh window for 3
      lMem.addData((3L, ts("2024-01-01 11:00:00")))
      rMem.addData((99L, ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      val late = spark.table("ss_left_outer").collect()
      val padded = late.filter(_.isNullAt(2)).map(_.getLong(0)).toSet
      assert(padded == Set(2L),
        s"expected exactly user 2 null-padded after watermark passed: ${late.toSeq}")
      // user 3's window is still open — must not be padded yet
      assert(!padded.contains(3L))
    } finally q.stop()
  }

  test("round-13: a non-integral tiebreak column is rejected up front " +
      "(cast-to-long nulled UUIDs into a non-nullable encoder crash)") {
    val df = Seq((1, 1, 1000L, 10.0, "uuid-a"))
      .toDF("symbol_id", "interval_id", "close_time", "close_price", "eid")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StatefulIndicators.fromDataFrame(
        df, tiebreakCol = Some("eid"))
    }
    assert(e.getMessage.contains("must be integral"))
  }

  test("round-13: drains run isolated — repeated drains register no temp " +
      "views on the caller session and leave its conf untouched") {
    implicit val sqlCtx = spark.sqlContext
    // a fresh caller: a conf leaked onto the shared session by an earlier
    // drain would already be in its "before" values and mask a leak here
    val caller = spark.newSession()
    // every key a drain's child session overrides
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.stateStore.providerClass")
    val beforeConf = keys.map(k => k -> caller.conf.getOption(k))
    val beforeViews = caller.catalog.listTables().count()
    def stream() = {
      val mem = MemoryStream[(Long, Double)]
      mem.addData((1L, 2.5), (1L, 3.5), (2L, 1.0))
      mem.toDF().toDF("user_id", "value")
    }
    // two append-mode RocksDB drains, then one complete-mode drain
    val drains = Seq[() => org.apache.spark.sql.DataFrame](
      () => graft.streaming.RunningTotals.drain(caller, stream()),
      () => graft.streaming.RunningTotals.drain(caller, stream()),
      () => SparkEntry.queries("q_stream_tumbling")(caller, "/root/testdata/sf0.001"))
    val counts = drains.map(_().count())
    assert(counts.take(2) == Seq(2L, 2L) && counts(2) > 0, counts)
    assert(keys.map(k => k -> caller.conf.getOption(k)) == beforeConf)
    assert(caller.catalog.listTables().count() == beforeViews,
      "drain leaked memory-sink temp views into the caller session")
  }

  test("round-14: drain re-binds the RESOLVED plan — input referencing a " +
      "parent-session temp view survives the isolated child session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    mem.addData((1L, 2.5), (1L, 3.5), (2L, 1.0))
    val view = "rt_parent_view_r14"
    mem.toDF().toDF("user_id", "value").createOrReplaceTempView(view)
    try {
      // spark.table(view) resolves only in THIS session's catalog; the
      // child session drain used to re-analyze the raw logical plan there
      // and fail with TABLE_OR_VIEW_NOT_FOUND
      val out = graft.streaming.RunningTotals.drain(spark, spark.table(view))
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(rows == Map(1L -> 2L, 2L -> 1L))
    } finally spark.catalog.dropTempView(view)
  }

  test("stateful indicators keep state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StatefulIndicators.KlinePoint]
    val out = StatefulIndicators.transform(mem.toDS())
    val name = "stateful_out"
    val q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      mem.addData(StatefulIndicators.KlinePoint(1, 1, 1L, 10.0),
        StatefulIndicators.KlinePoint(1, 1, 2L, 12.0))
      q.processAllAvailable()
      mem.addData(StatefulIndicators.KlinePoint(1, 1, 3L, 11.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).orderBy("close_time")
      .select("sma").as[Double].collect()
    // running partial-window SMAs: 10, 11, 11 — the third value needs state
    // from the first micro-batch to be correct
    assert(got.toSeq == Seq(10.0, 11.0, 11.0))
  }
}
