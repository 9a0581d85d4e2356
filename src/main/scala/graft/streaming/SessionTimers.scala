package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Timer-emitted session windows on the Spark 4 `transformWithState` API —
  * the streaming counterpart of `StreamQueries.sessionWindow` (which runs
  * `session_window` in batch mode). Here the session close is OBSERVED, not
  * recomputed: a per-key event-time timer is registered at
  * `last_event + gap`, and when the watermark passes it the open session is
  * emitted from `handleExpiredTimer` and its state cleared — the
  * "session ends because the user went quiet" semantics a live pipeline
  * needs (the batch rewrite only knows a session ended once later data
  * happens to arrive).
  *
  * Reference anchor: the reference's polling loop re-aggregates the full
  * MySQL table each sweep (`dags/spark_job_1.py`), so "session closed" is
  * only ever derived after the fact; this operator is the capability it
  * lacks (SURVEY.md §2.10 T8).
  *
  * Scale posture: state is ONE (start, last, n) triple plus one timer per
  * ACTIVE key — bounded by concurrent-session cardinality, not stream
  * length — in RocksDB. Timer expiry scans only the expired-timer range of
  * the store. Within a micro-batch the per-key rows are buffered and sorted
  * (bounded by the source's rate limit, e.g. `maxFilesPerTrigger`); across
  * batches ordering is the watermark's job, exactly as with
  * `session_window`.
  */
object SessionTimers {

  case class SessionRow(user_id: Long, session_start_us: Long,
      session_last_us: Long, n: Long)

  /** The watermark-advance sentinel key. ONE reserved value at the far edge
    * of the domain (round-13 fix) — the old `key < 0` check silently
    * swallowed every negative-keyed event, which breaks datasets whose user
    * ids are signed hashes. */
  private[streaming] val SentinelKey: Long = Long.MinValue

  /** Gap-based sessionizer: closes a session inline when a later row in the
    * same batch breaches the gap, otherwise parks it in state behind an
    * event-time timer at `last + gap`. The single key [[SentinelKey]]
    * (Long.MinValue) is a watermark-advance sentinel and never produces
    * state or output; every other key — negative ones included — is data.
    */
  class SessionProcessor(gapUs: Long)
      extends StatefulProcessor[Long, (Long, Long), SessionRow] {
    // gap 0 closes a session per event; negative gaps invert every
    // comparison below. The batch session_window rejects these too.
    require(gapUs >= 1, s"SessionProcessor: gapUs must be >= 1, got $gapUs")

    // (session_start_us, session_last_us, n_events)
    @transient private var open: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[(Long, Long, Long)]("open",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong),
        TTLConfig.NONE)

    // ceiling to the next whole millisecond: floor(last/1000)+floor(gap/1000)
    // could land the timer up to ~2ms BEFORE the true micro expiry last+gap,
    // closing a session a continuing just-inside-the-gap event should have
    // extended (round-13 fix)
    private def timerFor(lastUs: Long): Long = (lastUs + gapUs) / 1000L + 1L

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[SessionRow] = {
      if (key == SentinelKey) return Iterator.empty // only advances watermark
      // Late-data posture (round-13 fix): the watermark column is projected
      // away before groupByKey, so Spark does NOT drop late rows for us.
      // Without this filter an event arriving hours late was silently
      // absorbed into whatever session happened to be open (the n += 1
      // duplicate branch) without even extending session_start. Enforce the
      // 0s-delay watermark contract here: rows at/after the watermark are
      // on time, older rows are dropped — the same rows Spark's own
      // session_window operator drops.
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val ts = rows.map(_._2).filter(_ >= wmUs).toArray
      java.util.Arrays.sort(ts)
      if (ts.isEmpty) return Iterator.empty
      val closed = List.newBuilder[SessionRow]
      var (st, la, n) =
        if (open.exists()) {
          val s0 = open.get()
          // the parked session's timer is superseded by whatever we
          // re-register below (or by an inline close)
          getHandle.deleteTimer(timerFor(s0._2))
          s0
        } else (ts(0), ts(0) - 1L, 0L) // sentinel "no open session" start
      ts.foreach { t =>
        if (n == 0L) { st = t; la = t; n = 1L }
        else if (t - la >= gapUs) {
          closed += SessionRow(key, st, la, n)
          st = t; la = t; n = 1L
        } else if (t > la) { la = t; n += 1L }
        else if (t >= st) n += 1L // duplicate / intra-session out-of-order
        else if (st - t < gapUs) { st = t; n += 1L } // backward merge, as
        // session_window does for a within-gap event before session start
        else closed += SessionRow(key, t, t, 1L) // on-time but a full gap
        // BEFORE the open session: emitted eagerly as its own session —
        // ValueState holds one open session, and under the 0s watermark a
        // future joiner for it (an event in [watermark, t+gap)) is already
        // out-of-order data the reference pipeline drops
      }
      open.update((st, la, n))
      getHandle.registerTimer(timerFor(la))
      closed.result().iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionRow] = {
      if (open.exists()) {
        val (st, la, n) = open.get()
        // a superseded timer that raced deletion must not flush a session
        // that is still live under its newer timer
        if (timerFor(la) == expiredTimerInfo.getExpiryTimeInMs()) {
          open.clear()
          return Iterator.single(SessionRow(key, st, la, n))
        }
      }
      Iterator.empty
    }
  }

  /** The UN-STARTED streaming Dataset over a staged landing zone — exposed
    * so the plan pin (PlanSpec/PLANS.md) can inspect the streaming logical
    * plan: EventTimeWatermark(ts_t, 0s) directly over the file source
    * (every file advances the clock), TransformWithState in EventTime time
    * mode keyed by user_id.
    */
  def sessionStream(s: SparkSession, staged: String, gapUs: Long,
      filesPerStep: Int = LandingZone.DrainFilesPerStep)
      : org.apache.spark.sql.Dataset[SessionRow] = {
    import s.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_us",
        org.apache.spark.sql.types.LongType)))
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerStep.toString)
      .parquet(staged)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", "0 seconds")
      .select(col("user_id"), col("ts_us")).as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Stage `(user_id, ts_us)` rows as a file landing zone — the real events
    * WITH sentinel A merged into the same step (r22), then one far-future
    * sentinel step — and drain with `maxFilesPerTrigger` = the per-step
    * file count so every parked session's timer provably fires before the
    * drain terminates: batch 1 folds the data (k source tasks, round-15 —
    * no longer a single-task funnel) and publishes sentinel A's watermark,
    * batch 2 (sentinel B) runs with watermark >= every `last + gap` timer.
    */
  def drain(s: SparkSession, events: DataFrame, gapUs: Long,
      cacheKey: String = null): DataFrame = {
    import s.implicits._
    val rows = events.select(col("user_id").cast("long"),
      col("ts_us").cast("long"))
    def stage(): String = {
      val maxUs =
        rows.agg(max(col("ts_us"))).as[Option[Long]].first().getOrElse(0L)
      // Sentinel A rides the DATA step (r22): the watermark published at the
      // END of batch 1 is then already past every parked session's
      // last+gap horizon (sentA > maxUs+gap), so batch 2 — sentinel B's
      // step — runs with it and provably fires every timer. Batch 1's own
      // processing is unchanged: the watermark DURING a batch is the one
      // published by the previous batch (the initial 0 here), exactly as in
      // the former data/sentA/sentB layout, which paid a third file batch
      // (plus the engine's trailing no-data batch) for the same flush —
      // measured 4 micro-batches where this layout pays 2, identical rows
      // (DrainCensusSpec pins the 2).
      val sentA = maxUs + gapUs + 3600000000L
      val sentB = sentA + 3600000000L
      LandingZone.stage(
        rows.unionByName(Seq((SentinelKey, sentA)).toDF("user_id", "ts_us")),
        Seq(Seq((SentinelKey, sentB)).toDF("user_id", "ts_us")),
        filesPerStep = LandingZone.DrainFilesPerStep)
    }
    // staged landing zones are replay-only — memoize (revalidated) per
    // caller key so repeated drains of the same source skip the staging
    // write jobs; the layout (files per step + merged sentinel A) is part
    // of the key
    val staged =
      if (cacheKey == null) stage()
      else StagedDirs.getOrStage(
        s"tws-sessions|$cacheKey|$gapUs|k${LandingZone.DrainFilesPerStep}|m2")(
        stage())

    // 1 RocksDB store per shuffle partition PER BATCH (2 batches here):
    // the width follows the staged replay input, see [[DrainWidth]]
    Drain.toMemory(s, "tws_sessions", DrainWidth.forPath(s, staged), "append",
      rocksDb = true)(ss => sessionStream(ss, staged, gapUs).toDF())
  }
}
